package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL-host hierarchy extraction + skew helpers.
  *
  * Replaces the reference's M5 store/item hierarchy
  * (/root/reference/forecastframe/main.py:31-56, hierarchy columns are just
  * ordered string grouping keys) with the web-page hierarchy
  * `tld ← registered_domain ← host` derived from `url`.
  *
  * The registered-domain rule is deterministic (last two labels of the host)
  * — a public-suffix list is out of scope per SURVEY.md §2.8; the rule is the
  * parity contract, applied identically in oracle SQL.
  */
object Hier {

  /** The page hierarchy, coarse to fine: the grouping columns of every tier. */
  val Levels: Seq[String] = Seq("tld", "registered_domain", "host")

  /** Full host from url: strips the scheme and everything from the first '/'. */
  def host(url: Column): Column = parse_url(url, lit("HOST"))

  /** Registered domain = last two dot-separated labels of the host. */
  def registeredDomain(url: Column): Column = {
    val h = host(url)
    // substring_index(h, '.', -2) keeps the last two labels; a one-label host
    // is returned unchanged by substring_index.
    substring_index(h, ".", -2)
  }

  /** Top-level domain = last label of the host. */
  def tld(url: Column): Column = substring_index(host(url), ".", -1)

  /** Adds the derived hierarchy columns to a page table. */
  def withHierarchy(pages: DataFrame): DataFrame =
    pages
      .withColumn("host", host(col("url")))
      .withColumn("registered_domain", registeredDomain(col("url")))
      .withColumn("tld", tld(col("url")))

  /** URL canonicalization — the normalize step every web-corpus dedup keys
    * on (RFC 3986 §6 normalizations that are safe without fetching):
    * lowercase scheme+host, drop the default port (http:80 / https:443),
    * empty path → "/", SORT the query parameters (drop empty ones), drop
    * the fragment. Deterministic and regex-only, so the oracle can replay
    * it verbatim; rows without a `scheme://` prefix yield null (the caller
    * filters or quarantines — guessing a scheme would corrupt dedup keys).
    * Pure codegen'd projection: no UDF, no shuffle.
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val port = regexp_extract(auth, ":([0-9]+)$", 1)
    val hostp = lower(regexp_replace(auth, ":[0-9]+$", ""))
    val path = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val sq = array_join(array_sort(filter(split(query, "&"), x => x =!= "")), "&")
    val portPart = when(port === "" ||
      (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val pathPart = when(path === "", lit("/")).otherwise(path)
    val qPart = when(sq === "", lit("")).otherwise(concat(lit("?"), sq))
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), hostp, portPart, pathPart, qPart))
  }

  /** Strip tracking query params (utm_*, gclid, fbclid, msclkid, mc_eid)
    * from a URL, repairing the separators they leave behind — the scrub
    * step that runs BEFORE [[canonicalizeUrl]] in a crawl-dedup pipeline
    * (the canonicalizer sorts and rebuilds the surviving params, so
    * together they map every tracking-decorated variant of a page to one
    * key). Two codegen'd regexp passes: remove each tracking param with
    * its trailing `&`, then collapse a dangling `?`/`&` left at the end
    * of the query (before a `#fragment` or end-of-string). No UDF, no
    * shuffle; the q194 oracle replays the chain regex-for-regex.
    */
  def stripTracking(url: Column): Column = {
    val stripped = regexp_replace(url,
      "(utm_[A-Za-z0-9_]+|gclid|fbclid|msclkid|mc_eid)=[^&#]*&?", "")
    regexp_replace(stripped, "[?&]+(#|$)", "$1")
  }

  /** Salting for skewed hot keys: `salt ∈ [0, s)` derived from a row-level
    * column, added as an extra grouping key so a hot group fans over `s`
    * reducers; the caller merges the salted partials without it afterwards
    * ([[graft.operators.Rollup.tier1mSalted]],
    * [[graft.operators.Rollup.mergePartialsSalted]]). The merge still sees
    * every partial of the group in one task, so salting pays only where that
    * merge is cheaper than the first phase — coarse groups, not minute buckets.
    */
  def salt(rowKey: Column, s: Int): Column = pmod(xxhash64(rowKey), lit(s.toLong))
}
