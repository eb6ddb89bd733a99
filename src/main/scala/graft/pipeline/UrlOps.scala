package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * URL canonicalization — the crawl-curation step between archive ingest
 * (WARC `WARC-Target-URI`, [[WarcCodec]]) and the dedup family: exact-URL
 * dup detection and host-level accounting are only meaningful after the
 * syntax-based normalizations of RFC 3986 §6.2.2–6.2.3, because a crawl
 * sees the same resource as `HTTP://WWW.Site.COM:80/page/` and
 * `http://www.site.com/page`.
 *
 * Implemented normalizations (the standard's safe, semantics-preserving
 * set, matching what crawl pipelines apply before URL-keyed dedup):
 *   1. scheme and host lowercased (§6.2.2.1 case normalization);
 *   2. default port stripped (`:80` for http, `:443` for https —
 *      §6.2.3), non-default ports kept;
 *   3. empty path → `/`, and a trailing slash on a NON-root path
 *      dropped (the aggressive-but-standard crawl convention);
 *   4. query parameters sorted bytewise (`?b=2&a=1` → `?a=1&b=2`) — not
 *      in RFC 3986 itself but universal in crawl frontier dedup, where
 *      param order is serving-stack noise; an empty query keeps no `?`;
 *   5. percent-encoding normalization (§6.2.2.2): hex digits of every
 *      `%HH` triplet uppercased, and triplets that encode an UNRESERVED
 *      character (ALPHA / DIGIT / `-` `.` `_` `~`) decoded — `%7Euser`
 *      and `~user` are the same resource. Reserved and non-ASCII
 *      encodings are kept encoded (decoding those can change which
 *      resource the URL names); a `%` not followed by two hex digits is
 *      kept verbatim (the crawl-frontier reality — frontiers are full
 *      of malformed URLs, and dropping them would lose census mass).
 *
 * Everything is Column-level string surgery (regexp extract/replace +
 * split/array_sort/array_join) — codegen'd, zero shuffle, and exactly
 * replayable by any SQL engine with the same regex/string functions,
 * which is what the p127 oracle does.
 */
object UrlOps {

  /** The host (lowercased, port excluded) of a canonical-or-raw URL —
   * the key of host-level crawl censuses. */
  def hostOf(url: Column): Column =
    lower(regexp_extract(url, "^[^:/?#]+://([^:/?#]*)", 1))

  /** RFC 3986 §6.2.2.2 percent-encoding normalization, applied to the
   * WHOLE url before component extraction: split on `%`, examine each
   * following 2-char hex prefix, uppercase it, and decode it when it
   * names an unreserved character (those decodes can never create a
   * new `/ ? # : & %` delimiter, so component extraction afterwards is
   * safe). Split + indexed transform + join — array kernels over a
   * handful of segments per URL, no shuffle; the caveat is hosts that
   * THEMSELVES carry percent-encoding (valid per reg-name but absent
   * from real frontiers): the later `lower(host)` would re-lowercase
   * their hex digits, which is outside the modeled family. */
  def normalizePercent(u: Column): Column = {
    val parts = split(u, "%", -1)
    val joined = transform(parts, (x, i) => {
      val hh = upper(substring(x, 1, 2))
      val rest = x.substr(lit(3), length(x))
      val code = conv(hh, 16, 10).cast("int")
      val unreserved = code.between(48, 57) || code.between(65, 90) ||
        code.between(97, 122) || code.isin(45, 46, 95, 126)
      when(i === 0, x) // text before the first '%' passes through
        .when(hh.rlike("^[0-9A-F]{2}$"),
          when(unreserved, concat(call_function("char", code), rest))
            .otherwise(concat(lit("%"), hh, rest)))
        .otherwise(concat(lit("%"), x)) // malformed triplet, kept verbatim
    })
    array_join(joined, "")
  }

  /** RFC 3986 §6 syntax-based canonicalization of an absolute
   * http(s)-style URL (see object doc for the exact normalization
   * set). Input must carry a `scheme://` prefix — WARC-Target-URI
   * values always do. */
  def canonicalizeUrl(raw: Column): Column = {
    val u = normalizePercent(raw)
    val scheme = lower(regexp_extract(u, "^([^:/?#]+)://", 1))
    val afterScheme = regexp_replace(u, "^[^:/?#]+://", "")
    val authority = regexp_extract(afterScheme, "^([^/?#]*)", 1)
    val host = lower(regexp_extract(authority, "^([^:]*)", 1))
    val port = regexp_extract(authority, ":([0-9]+)$", 1)
    val defaultPort =
      when(scheme === "http", "80").when(scheme === "https", "443")
        .otherwise("")
    val portNorm =
      when(port === "" || port === defaultPort, "")
        .otherwise(concat(lit(":"), port))
    val pathq = regexp_replace(afterScheme, "^[^/?#]*", "")
    val path = regexp_extract(pathq, "^([^?#]*)", 1)
    // strip ALL trailing slashes (a single-slash strip would leave
    // '/a//' → '/a/' ≠ canonicalize('/a/') — non-idempotent, and the
    // two wire forms of the same resource would fail to collide);
    // an all-slash or empty path collapses to the root '/'
    val stripped = regexp_replace(path, "/+$", "")
    val pathNorm = when(stripped === "", "/").otherwise(stripped)
    val query = regexp_extract(pathq, "\\?([^#]*)", 1)
    val queryNorm =
      when(query === "", "")
        .otherwise(concat(lit("?"), array_join(array_sort(
          split(query, "&")), "&")))
    concat(scheme, lit("://"), host, portNorm, pathNorm, queryNorm)
  }

  /** The crawl-frontier base relation shared by the batch census
   * (p127) and its streaming twin (StreamingSpec "url-census-stream"):
   * one row per doc with its text size and the canonicalized URL + host
   * derived from `rawUrl`.
   * Extracted so the two consumers cannot drift — the fixture
   * generator already lives in hand-aligned copies; the derivation
   * must not. */
  def frontierBase(docs: DataFrame, rawUrl: Column): DataFrame =
    docs.select(col("doc_id"),
        length(coalesce(col("text"), lit(""))).cast("long").as("chars"),
        rawUrl.as("raw_url"))
      .withColumn("url", canonicalizeUrl(col("raw_url")))
      .withColumn("host", hostOf(col("url")))

  /** The two-level host census over a [[frontierBase]] relation:
   * exact-URL dup accounting rolled up per host (URL-within-host then
   * host — partial-agg friendly, no join-back; the whole census is two
   * key-local shuffles at any corpus size). */
  def hostCensus(base: DataFrame): DataFrame =
    base.groupBy(col("host"), col("url"))
      .agg(count(lit(1)).as("n"), sum(col("chars")).as("chars"))
      .groupBy(col("host"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_urls"),
        sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_dup_docs"),
        max(col("n")).as("max_url_docs"),
        sum(col("chars")).as("text_chars"))

  /**
   * Registered-domain (eTLD+1) extraction — the aggregation key of
   * domain-level crawl curation (per-domain caps, domain mixing,
   * blocklists): `a.blog.example.com` and `b.example.com` both belong
   * to `example.com`, while `x.shop.co.uk` belongs to `shop.co.uk`
   * because `co.uk` is a PUBLIC SUFFIX — a plain label-count rule gets
   * multi-label suffixes wrong, which is why the Public Suffix List
   * exists. `suffixes` is the (suffix, n_labels) table (a PSL subset —
   * tiny, broadcast); the LONGEST matching suffix wins (`ac.jp` beats
   * `jp`), and the registered domain is that suffix plus one more
   * label. A host matching no suffix falls back to itself (the PSL's
   * unlisted-TLD convention); a host EQUAL to a suffix has no
   * registrable part and also maps to itself.
   *
   * Shape at 100 TB: one broadcast theta-join against the suffix table
   * (suffix-table-scale per row, never a corpus shuffle), one max_by
   * hash agg keyed on `idCol` to pick the longest match. Appends
   * `reg_domain` to `df`.
   */
  def withRegisteredDomain(df: DataFrame, idCol: String, hostCol: String,
      suffixes: DataFrame): DataFrame = {
    val host = col(hostCol)
    val matched = df
      .join(broadcast(suffixes),
        host === col("suffix") ||
          host.endsWith(concat(lit("."), col("suffix"))), "left")
      .groupBy(col(idCol))
      .agg(max_by(struct(col("suffix"), col("n_labels")),
        col("n_labels")).as("m"))
      .select(col(idCol), col("m.suffix").as("suffix"),
        col("m.n_labels").as("n_labels"))
    val joined = df.join(matched, Seq(idCol), "left")
    val labels = split(host, "\\.")
    joined
      .withColumn("reg_domain",
        when(col("suffix").isNull || host === col("suffix"), host)
          .otherwise(concat(
            element_at(labels, size(labels) - col("n_labels")),
            lit("."), col("suffix"))))
      .drop("suffix", "n_labels")
  }
}
