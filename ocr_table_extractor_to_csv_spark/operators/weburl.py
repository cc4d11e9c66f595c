"""URL canonicalization + URL-level deduplication.

Web-corpus pipelines dedup by canonical URL *before* any content pass
(the same page is crawled many times under cosmetically different URLs:
host case, default ports, fragments, tracking parameters, ``/index.html``
directory forms).  URL dedup is O(n) string work + one hash groupBy —
orders of magnitude cheaper than content dedup, so it runs first and
typically removes a double-digit percentage of a crawl.

No reference analogue (the reference operates on single local files, not
crawls); semantics follow the conventional canonicalization rules used by
web-archive tooling:

* scheme and host are case-insensitive -> lowercased
* default ports (``:80`` for http, ``:443`` for https) are dropped
* the fragment is client-side only -> dropped
* ``utm_*`` tracking query parameters are dropped (other parameters are
  preserved in their original order — reordering would conflate URLs
  whose servers are order-sensitive)
* a trailing ``/index.html`` is folded to the directory form ``/``
* an empty path becomes ``/``

Everything is built-in Spark column expressions (JVM codegen, no Python),
and every regex uses explicit character classes so the Java and RE2
(DuckDB oracle) engines accept the same language.

Scale shape: canonicalization is map-only; the dedup is ONE groupBy on
the canonical URL (high-cardinality, well-spread key; count/min combine
map-side).  At 100 TB this is the cheapest of the dedup family — no
candidate joins, no banding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.partitioning import salted_min_k
from .textstats import md5_int_col


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL as a pure column
    expression.  URLs without a ``scheme://`` prefix are returned
    unchanged (trimmed of fragment only) rather than mangled."""
    # fragment is dropped first: it can contain any character and would
    # otherwise confuse the query split
    u = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.lower(F.regexp_extract(u, r"^[^:/?#]+://([^/?#]*)", 1))
    rest = F.regexp_extract(u, r"^[^:/?#]+://[^/?#]*([^#]*)", 1)

    authority = F.when(
        (scheme == "http") & authority.rlike(":80$"),
        F.regexp_replace(authority, r":80$", ""),
    ).when(
        (scheme == "https") & authority.rlike(":443$"),
        F.regexp_replace(authority, r":443$", ""),
    ).otherwise(authority)

    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)

    path = F.regexp_replace(path, r"/index\.html$", "/")
    # directory form: a trailing slash is dropped (except the root path),
    # so /a/index.html, /a/ and /a all fold together
    path = F.when(
        path.endswith("/") & (path != "/"),
        F.substring(path, 1, F.length(path) - 1),
    ).otherwise(path)
    path = F.when(path == "", F.lit("/")).otherwise(path)

    # drop utm_* params, preserve everything else in original order
    kept = F.filter(
        F.split(query, "&"),
        lambda p: ~p.startswith("utm_"),
    )
    query = F.array_join(kept, "&")

    canon = F.concat(
        scheme,
        F.lit("://"),
        authority,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )
    return F.when(scheme == "", u).otherwise(canon)


SYNTH_URL_SLOTS = 13  # with_synth_url: distinct page paths per source host
SYNTH_URL_FRAGS = 7  # with_synth_url: distinct '#s<n>' fragments


def with_synth_url(documents: DataFrame) -> DataFrame:
    """Attach a deterministic synthetic ``url`` column to the documents
    table (which carries no URL), for tests/benchmarks: the canonical
    identity of a page is ``(source, doc_id % SYNTH_URL_SLOTS)`` and the raw URL
    wraps it in md5-chosen cosmetic noise — scheme/host case, ``:80``,
    ``/index.html``, ``utm_*`` params, a fragment — exactly the variants
    ``canonicalize_url`` must fold.  Pure column expressions (md5 bits),
    so the DuckDB oracle reproduces the same bytes."""
    b = md5_int_col(F.concat(F.lit("url:"), F.col("doc_id").cast("string")), 1, 2)
    host = F.concat(F.col("source"), F.lit(".example.com"))
    slot = (F.col("doc_id") % SYNTH_URL_SLOTS).cast("string")
    raw = F.concat(
        F.when(b.bitwiseAND(F.lit(1)) == 1, F.lit("HTTP://")).otherwise(
            F.lit("http://")
        ),
        F.when(b.bitwiseAND(F.lit(2)) == 2, F.upper(host)).otherwise(host),
        F.when(b.bitwiseAND(F.lit(4)) == 4, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/p/"),
        slot,
        F.when(b.bitwiseAND(F.lit(8)) == 8, F.lit("/index.html")).otherwise(
            F.lit("")
        ),
        F.when(b.bitwiseAND(F.lit(16)) == 16,
               F.lit("?utm_source=feed&utm_medium=rss")).otherwise(F.lit("")),
        F.when(b.bitwiseAND(F.lit(32)) == 32,
               F.concat(F.lit("#s"), (F.col("doc_id") % SYNTH_URL_FRAGS).cast("string"))).otherwise(
            F.lit("")
        ),
    )
    return documents.withColumn("url", raw)


def url_dedup(documents_with_url: DataFrame) -> DataFrame:
    """URL-level dedup: one row per canonical URL with the group size,
    the number of distinct raw spellings folded, and the keeper (min
    doc_id — deterministic on any partitioning).

    Returns (canon_url, n_docs, n_variants, keeper_doc_id) ordered by
    canon_url."""
    return (
        documents_with_url.select(
            "doc_id",
            F.col("url").alias("_raw"),
            canonicalize_url(F.col("url")).alias("canon_url"),
        )
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("_raw").alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("canon_url")
    )


def url_keepers(documents_with_url: DataFrame, url_col: str = "url") -> DataFrame:
    """The keeper-election half of :func:`url_dedup` as a reusable frame:
    one (doc_id) row per canonical URL — min doc_id, deterministic on any
    partitioning — for rows WITH a usable URL, plus EVERY row whose URL is
    null or empty.  URL-less documents cannot be URL-deduped; collapsing
    them onto the shared null/'' group key would silently keep one and
    drop the rest of them, so they pass through instead."""
    # split on the CANONICAL form, not the raw: a raw like '#frag' or '?x'
    # canonicalizes to '' and would otherwise collapse with every other
    # degenerate spelling into one group (same hazard as the null key)
    c = documents_with_url.select(
        "doc_id", canonicalize_url(F.col(url_col)).alias("_canon")
    )
    keyed = c.where(F.col("_canon").isNotNull() & (F.col("_canon") != ""))
    keyless = c.where(F.col("_canon").isNull() | (F.col("_canon") == ""))
    keepers = (
        keyed.groupBy("_canon")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return keepers.unionByName(keyless.select("doc_id"))


# URL-spam substring list (RefinedWeb/FineWeb-style adult+spam URL
# filtering uses a curated word list; this frozen stand-in keeps the regex
# bounded and shared with the SQL oracle).  Matched case-insensitively
# against the RAW url.
BANNED_URL_WORDS = ["casino", "viagra", "porn", "xxx"]


URL_MAX_PATH_DEPTH = 8  # url_filter: deeper paths are crawler traps
# url_filter's operating point, chosen so every other rule discriminates
# on the with_synth_url bytes: the utm bit trips URL_MAX_PARAMS, the
# two-digit srcNN hosts trip the digit ratio, two hosts are blocklisted
URL_MAX_PARAMS = 1
URL_MAX_HOST_DIGIT_RATIO = 0.1
URL_BLOCKLIST = ("src3.example.com", "src7.example.com")
DOMAIN_CAP = 10  # domain_cap: documents kept per canonical host
DOMAIN_SALT_MOD = 4  # domain_cap: phase-1 salt of salted_min_k


def _canon_parts():
    """(host, path) column expressions over the canonical ``url`` — the
    split the filter rules score on."""
    c = canonicalize_url(F.col("url"))
    host = F.regexp_extract(c, r"^[^:/?#]+://([^/?#]*)", 1)
    path = F.regexp_extract(c, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    return host, path


def url_filter(documents_with_url: DataFrame) -> DataFrame:
    """URL-level document filtering — the RefinedWeb-style gate that runs
    before any content is even parsed: per-document URL signals, one
    boolean per rule, and the conjunction verdict ``keep``.

    Rules (each also surfaced as its own flag column):

    * ``host_blocked`` — canonical host appears in ``URL_BLOCKLIST``
      (real pipelines carry ~10^6-row curated blocklists: a BROADCAST
      left join, never a literal ``isin`` — the list is data, not code)
    * ``banned_hit`` — the RAW url contains a :data:`BANNED_URL_WORDS`
      substring (case-insensitive; raw, because spam keywords often ride
      in the query/fragment that canonicalization strips)
    * ``too_many_params`` — more than ``URL_MAX_PARAMS`` RAW query params
      (tracking-parameter overload is itself a spam signal, so the raw
      count is scored even though canonicalization drops ``utm_*``)
    * ``path_too_deep`` — more than ``URL_MAX_PATH_DEPTH`` non-empty path
      segments (calendar/faceted-navigation crawler traps)
    * ``digit_host`` — digit fraction of the host above
      ``URL_MAX_HOST_DIGIT_RATIO`` (throwaway spam domains)

    Scale shape: map-only column expressions + ONE broadcast join for the
    blocklist; no corpus shuffle.  Runs with (before) gopher_rules in the
    curation ladder — it is the only gate that costs zero content bytes.
    No reference analogue; semantics follow published web-curation
    pipelines (RefinedWeb, FineWeb).
    """
    spark = documents_with_url.sparkSession
    host, path = _canon_parts()
    raw = F.col("url")
    raw_query = F.regexp_extract(raw, r"\?([^#]*)", 1)
    n_params = F.when(raw_query == "", F.lit(0)).otherwise(
        F.size(F.split(raw_query, "&"))
    )
    path_depth = F.size(F.filter(F.split(path, "/"), lambda s: s != ""))
    digit_ratio = F.length(F.regexp_replace(host, r"[^0-9]", "")) / F.greatest(
        F.lit(1), F.length(host)
    ).cast("double")
    banned_hit = F.lower(raw).rlike("|".join(BANNED_URL_WORDS))

    scored = documents_with_url.select(
        "doc_id",
        host.alias("host"),
        n_params.alias("n_params"),
        path_depth.alias("path_depth"),
        F.round(digit_ratio, 5).alias("host_digit_ratio"),
        banned_hit.alias("banned_hit"),
        (n_params > URL_MAX_PARAMS).alias("too_many_params"),
        (path_depth > URL_MAX_PATH_DEPTH).alias("path_too_deep"),
        (digit_ratio > URL_MAX_HOST_DIGIT_RATIO).alias("digit_host"),
    )
    block = spark.createDataFrame(
        [(h,) for h in sorted(set(URL_BLOCKLIST))], "host string"
    ).withColumn("_blocked", F.lit(True))
    scored = scored.join(F.broadcast(block), "host", "left").withColumn(
        "host_blocked", F.coalesce(F.col("_blocked"), F.lit(False))
    )
    return scored.select(
        "doc_id",
        "host",
        "n_params",
        "path_depth",
        "host_digit_ratio",
        "host_blocked",
        "banned_hit",
        "too_many_params",
        "path_too_deep",
        "digit_host",
        (
            ~F.col("host_blocked")
            & ~F.col("banned_hit")
            & ~F.col("too_many_params")
            & ~F.col("path_too_deep")
            & ~F.col("digit_host")
        ).alias("keep"),
    )


def domain_cap(documents_with_url: DataFrame) -> DataFrame:
    """Per-domain document cap: keep the ``DOMAIN_CAP`` smallest ``doc_id``s
    of every canonical host (deterministic on any partitioning), returning
    (host, doc_id, domain_rank).  The web-scale anti-boilerplate /
    anti-SEO-farm measure: one domain contributing 10^8 near-identical
    pages must not dominate the training mix.

    Exact and skew-safe by construction: ``salted_min_k`` with salt
    doc_id mod ``DOMAIN_SALT_MOD`` equals ROW_NUMBER() OVER (PARTITION BY
    host ORDER BY doc_id) <= cap (the oracle's formulation), and its
    host-keyed phase-2 window is bounded by construction, not by data
    (documented exception to the no-data-skewed-window pin).  At 100 TB
    the shuffled bytes are (host, salt, doc_id) triples — no payload
    moves.

    Documents whose URL has no scheme:// (canonical host = '') group
    under the '' host and are capped together — callers that want them
    exempt should pre-filter.  No reference analogue.
    """
    host, _ = _canon_parts()
    ids = documents_with_url.select("doc_id", host.alias("host"))
    return (
        salted_min_k(ids, "host", "doc_id", DOMAIN_CAP, DOMAIN_SALT_MOD)
        .withColumnRenamed("rk", "domain_rank")
        .orderBy("host", "domain_rank")
    )
