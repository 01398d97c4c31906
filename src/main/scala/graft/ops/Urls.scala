package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization — the dedup key web-curation pipelines apply
  * BEFORE any content pass (CCNet §3.1 dedups by URL first; C4 keeps one
  * page per URL): the same page is typically crawled many times under
  * cosmetically different URLs (scheme/host case, default port, `www.`
  * alias, trailing slash, tracking parameters, fragments), and collapsing
  * those is orders of magnitude cheaper than content dedup because it is
  * a narrow per-row string map plus one key agg.
  *
  * The fixture has no URL column, so [[syntheticRawUrl]] derives a
  * deterministic messy URL per doc (the q177 PII posture: inject a
  * deterministic fixture feature, then exercise the REAL operator on it)
  * with three raw variants per canonical target — `www.` + fragment +
  * `utm_` tracker, upper-cased host + `:80` + trailing slash + reordered
  * params, and the already-canonical form — so the canonicalizer's every
  * rule fires on every third row.
  *
  * [[canonicalUrl]] is pure `Column` expressions (no UDF): scheme/host
  * lowered (paths stay case-sensitive — hosts are DNS-case-insensitive,
  * paths are not), `www.` and `:80` stripped, fragment dropped, trailing
  * path slash trimmed (root kept), query params de-tracked (`utm_*`
  * dropped), remainder sorted and re-joined. Everything is anchored
  * regex / split_part / substr arithmetic shared verbatim by the DuckDB
  * twin, so both engines agree byte-for-byte.
  */
object Urls {

  private val AsciiLower = "abcdefghijklmnopqrstuvwxyz"
  private val AsciiUpper = AsciiLower.toUpperCase

  /** ASCII case maps as `translate`: byte-for-byte `upper`/`lower` on ASCII
    * input, without Spark's Unicode case mapping, whose first use in a JVM
    * builds an ICU case table over all 1,114,112 code points. */
  private[graft] def asciiUpper(c: Column): Column = translate(c, AsciiLower, AsciiUpper)
  private[graft] def asciiLower(c: Column): Column = translate(c, AsciiUpper, AsciiLower)

  /** Deterministic messy raw URL for a doc row: three variants cycling on
    * `doc_id % 3`, all canonicalizing to
    * `http://<source>.example.com/articles/<doc_id DIV 3>?id=<g>`.
    * Precondition: `source` is ASCII (a DNS label); its upper-cased
    * variant maps ASCII letters only. */
  def syntheticRawUrl(docId: Column, source: Column): Column = {
    val g = (docId / 3).cast("long") // non-negative ids: DIV == floor
    val host = concat(source, lit(".example.com"))
    val path = concat(lit("/articles/"), g)
    when(docId % 3 === 0,
      concat(lit("http://www."), host, path,
        lit("?id="), g, lit("&utm_source=feed#sec"), docId % 5))
      .when(docId % 3 === 1,
        concat(lit("HTTP://"), asciiUpper(host), lit(":80"), path,
          lit("/?utm_campaign=x&id="), g))
      .otherwise(concat(lit("http://"), host, path, lit("?id="), g))
  }

  /** Canonical form of an http URL (see object doc for the rule set).
    * Assumes an `http://`-schemed input (what [[syntheticRawUrl]] emits;
    * a production build would case on the scheme first) with an ASCII
    * host: the host is lower-cased over ASCII letters only, as RFC 3986
    * §6.2.2.1 normalizes it (an IDN host arrives as punycode). */
  def canonicalUrl(raw: Column): Column = {
    // fragment off first (a '?' inside a fragment must not revive a query)
    val noFrag = split_part(raw, lit("#"), lit(1))
    val base = split_part(noFrag, lit("?"), lit(1))
    val query = when(noFrag.contains("?"), split_part(noFrag, lit("?"), lit(2)))
      .otherwise(lit(""))
    // scheme://host[:port]/path — host is everything before the first '/'
    // past the scheme; lowered + www./:80-stripped. Path keeps its case.
    val rest = substring(base, 8, Int.MaxValue) // past "http://"
    val host0 = split_part(rest, lit("/"), lit(1))
    val host = regexp_replace(
      regexp_replace(asciiLower(host0), "^www\\.", ""), ":80$", "")
    val path0 = substring(rest, length(host0) + 1, lit(Int.MaxValue))
    // trailing-slash strip (regexp form: the 2-arg rtrim overload is
    // deprecated at resolution time and WARN-logs on every plan)
    val path1 =
      regexp_replace(when(path0 === "", "/").otherwise(path0), "/+$", "")
    val path = when(path1 === "", "/").otherwise(path1)
    // query params: drop trackers, sort survivors, re-join
    val params = array_join(
      array_sort(filter(split(query, "&"),
        p => p =!= "" && !p.startsWith("utm_"))), "&")
    concat(lit("http://"), host, path,
      when(params === "", "").otherwise(concat(lit("?"), params)))
  }

  /** Host of a canonical URL (for the per-host policy rollup). */
  def hostOf(canonical: Column): Column =
    split_part(substring(canonical, 8, Int.MaxValue), lit("/"), lit(1))
}
