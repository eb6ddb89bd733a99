#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the captured standard output of ``perfbench/run.py``
runs, one file per run (any name). Runs of the same workload and seed on
the two sides form a pair. For every workload and metric the command
prints one row: each side's median and quartiles, the share of pairs the
change wins (ties count for neither) and a verdict:

- improved: the change wins at least 9 of 10 pairs and the medians differ
  by more than the parent's quartile distance;
- regressed: the change's median is worse than the parent's by more than
  the metric's bound in BENCHMARK.json;
- unresolved: neither, but either side's quartile distance is wider than
  the bound, and not every change run beats every parent run;
- unchanged: otherwise.

Per-layer metrics have no bound; their rows say improved, worse (the
mirror of improved) or unchanged. A gain does not count when the change
fails more operations than the parent: such a row says unresolved.

Host CPU steal moves every timing: runs of the same code with a median
steal of 0.24 read 11-32 % slower than runs below 0.01. Each run records
its steal fraction on its ``env`` line. When either side's median steal
exceeds STEAL_LIMIT, or the two sides' medians differ by more than it, a
row that would say improved, regressed or worse says unresolved instead:
repeat the runs on a quieter host. The exit code is 1 if any row
regressed.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# median steal of ten-seed sets (4 cores): sets at 0.002 repeated within the
# bounds; sets at 0.033-0.034 read 11-32 % slower than them
STEAL_LIMIT = 0.02


def load(directory):
    """{(workload, seed, trace): result} from the run captures in `directory`;
    each result also carries the run's steal fraction as ``steal``."""
    runs = {}
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            lines = [l.strip() for l in fh if l.strip()]
        head = next((l.split() for l in lines if l.startswith("workload ")), None)
        env = next((json.loads(l[4:]) for l in lines if l.startswith("env ")), {})
        if not head or not lines[-1].startswith("{"):
            continue
        result = json.loads(lines[-1])
        result["steal"] = env.get("steal_frac", 0.0)
        runs[(head[1], int(head[3]), head[7])] = result
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, pairs, lower_better, bound):
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    sign = 1 if lower_better else -1
    wins = sum(1 for a, b in pairs if sign * (b - a) < 0)
    losses = sum(1 for a, b in pairs if sign * (b - a) > 0)
    win_frac = wins / len(pairs) if pairs else float("nan")
    diff = abs(cm - pm)
    if pairs and wins >= 0.9 * len(pairs) and diff > p3 - p1:
        return win_frac, "improved"
    worse = sign * (cm - pm) / pm if pm else 0.0
    if bound is None:
        return win_frac, ("worse" if pairs and losses >= 0.9 * len(pairs) and diff > p3 - p1
                          else "unchanged")
    if worse > bound:
        return win_frac, "regressed"
    spread = max((p3 - p1) / pm if pm else 0.0, (c3 - c1) / cm if cm else 0.0)
    all_better = all(sign * (c - p) < 0 for c in change for p in parent)
    if spread > bound and not all_better:
        return win_frac, "unresolved"
    return win_frac, "unchanged"


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    kinds = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    parent, change = load(argv[1]), load(argv[2])
    keys = sorted({(w, t) for (w, _, t) in parent} | {(w, t) for (w, _, t) in change})
    print(f"{'workload':16} {'metric':28} {'parent q1/med/q3':>30} {'change q1/med/q3':>30}"
          f" {'pairs':>5} {'win':>5}  verdict")
    noisy = []
    regressed = False
    for workload, trace in keys:
        pr = {s: r for (w, s, t), r in parent.items() if (w, t) == (workload, trace)}
        cr = {s: r for (w, s, t), r in change.items() if (w, t) == (workload, trace)}
        more_failures = sum(r["failed"] for r in cr.values()) > sum(r["failed"] for r in pr.values())
        steal_p = statistics.median([r["steal"] for r in pr.values()]) if pr else 0.0
        steal_c = statistics.median([r["steal"] for r in cr.values()]) if cr else 0.0
        stolen = max(steal_p, steal_c) > STEAL_LIMIT or abs(steal_p - steal_c) > STEAL_LIMIT
        if stolen:
            noisy.append(f"{workload} (trace {trace}): median steal parent {steal_p:.3f}, "
                         f"change {steal_c:.3f}")
        ps = {s: {k: v["value"] for k, v in r["metrics"].items()} for s, r in pr.items()}
        cs = {s: {k: v["value"] for k, v in r["metrics"].items()} for s, r in cr.items()}
        names = sorted({n for m in list(ps.values()) + list(cs.values()) for n in m})
        for n in names:
            pv = [m[n] for m in ps.values() if n in m]
            cv = [m[n] for m in cs.values() if n in m]
            if not pv or not cv:
                continue
            pairs = [(ps[s][n], cs[s][n]) for s in sorted(set(ps) & set(cs))
                     if n in ps[s] and n in cs[s]]
            k = kinds.get(n, {})
            win, v = verdict(pv, cv, pairs, k.get("better", "lower") == "lower", k.get("bound"))
            if v == "improved" and more_failures:
                v = "unresolved"
            if v in ("improved", "regressed", "worse") and stolen:
                v = "unresolved"
            regressed |= v == "regressed"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{workload:16} {n:28} {fmt(quartiles(pv)):>30} {fmt(quartiles(cv)):>30}"
                  f" {len(pairs):>5} {win:>5.2f}  {v}")
    for n in noisy:
        print(f"steal above {STEAL_LIMIT} or unequal: {n}; gains and losses there are unresolved")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
