"""Corpus curation: the composed keep/drop decision a training-data
pipeline runs per document — language filter, quality threshold, exact-dup
keeper election — plus token accounting for budget planning.

All scoring columns come from the SAME single-spec builders the standalone
operators use (textstats.quality_columns / lang_pred_col / norm_text_col),
computed in ONE select over one scan of ``documents``; keeper election is a
groupBy(fp).min(doc_id) + join-back on doc_id.  Per-doc scoring is
embarrassingly parallel; the plan is scan -> project -> agg -> join -> filter
(JVM-only, plan-checked in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.scope import RunScope, run_branches
from .textstats import lang_pred_col, norm_text_col, quality_columns

DEFAULT_MIN_QUALITY = 0.5
DEFAULT_LANGS = ("en",)
_SCORED = ("doc_id", "n_tokens", "quality_score", "lang_pred")


def _scored(documents: DataFrame, *extra) -> DataFrame:
    """(doc_id, n_tokens, quality_score, lang_pred, *extra): the ONE
    per-document scoring projection of every curation decision."""
    q = quality_columns(F.col("text"))
    return documents.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        q["quality_score"].alias("quality_score"),
        lang_pred_col(F.col("text")).alias("lang_pred"),
        *extra,
    )


def _gate(min_quality: float, langs):
    """The lang + quality gate over ``_scored`` columns."""
    return (F.col("quality_score") >= F.lit(min_quality)) & F.col("lang_pred").isin(list(langs))


def curate(
    documents: DataFrame,
    min_quality: float = DEFAULT_MIN_QUALITY,
    langs=DEFAULT_LANGS,
) -> DataFrame:
    """(doc_id, n_tokens, quality_score, lang_pred) for documents that are
    (a) predicted in ``langs``, (b) >= ``min_quality``, and (c) their exact-
    dup group's keeper (min doc_id per normalized-text fingerprint).

    Keeper election is groupBy(fp).min(doc_id) + an inner join-back on
    doc_id — NOT ``min() OVER (PARTITION BY fp)``: a viral boilerplate or
    empty-text fingerprint is a hot key, and a window puts every copy of
    it in ONE unsplittable task, while the groupBy gets map-side partial
    aggregation and the join-back lands on doc_id (unique, skew-free) —
    identical semantics, incl. NULL fps grouping together (r5 verdict
    #2; the same shape ``line_dedup_clean`` pioneered)."""
    scored = _scored(documents, F.md5(norm_text_col(F.col("text"))).alias("fp"))
    keeper_ids = scored.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )
    return (
        scored.join(keeper_ids, "doc_id")
        .where(_gate(min_quality, langs))
        .select(*_SCORED)
    )


def curate_neardup(
    documents: DataFrame,
    min_quality: float = DEFAULT_MIN_QUALITY,
    langs=DEFAULT_LANGS,
    *,
    scope: RunScope,
) -> DataFrame:
    """``curate`` with NEAR-duplicate keeper election — the decision a real
    corpus pipeline ships: a doc survives iff it passes the lang + quality
    gates AND is its MinHash-LSH cluster's keeper (min doc_id of the
    connected component, composing ``dedup.dedup_clusters``), so
    boilerplate-mutated near-copies collapse to one survivor, not just
    byte-identical ones.

    Plan shape: per-doc scoring is one pruned scan + project (JVM-only);
    the keeper side is the bounded LSH + O(log d) CC rounds; they meet in a
    single equi-join on doc_id.  The lang/quality filters run BEFORE the
    join, so only gate-survivors shuffle.  The CC iterations run in
    ``scope`` (``plans.scope.RunScope``)."""
    from .dedup import dedup_clusters

    scored = _scored(documents).where(_gate(min_quality, langs))
    keepers = (
        dedup_clusters(documents, scope=scope)
        .where(F.col("is_keeper"))
        .select("doc_id")
    )
    return scored.join(keepers, "doc_id").select(*_SCORED)


DECONTAMINATE_THRESHOLD = 0.5


DECONTAMINATE_MAX_BROADCAST_SHINGLES = 5_000_000  # ~a few hundred MB of keys


def decontaminate(
    documents: DataFrame,
    eval_set: DataFrame | None = None,
    eval_mod: int = 97,
    n: int = 3,
    threshold: float = DECONTAMINATE_THRESHOLD,
    max_broadcast_shingles: int = DECONTAMINATE_MAX_BROADCAST_SHINGLES,
    *,
    scope: RunScope,
) -> DataFrame:
    """Benchmark decontamination: per-document n-gram overlap against an
    evaluation set — (doc_id, n_shingles, n_overlap, overlap_ratio,
    contaminated).

    ``eval_set`` defaults to the deterministic ``doc_id % eval_mod == 0``
    slice of the corpus (a stand-in benchmark; pass the real eval table in
    production).  Scale shape: the corpus side is the linear shingle
    explode; the eval side collapses to DISTINCT shingles and (normally)
    BROADCASTS — benchmark suites are KBs-to-MBs against a 100 TB corpus,
    so the overlap join never shuffles the corpus, and per-doc counts
    partial-aggregate map-side.

    Broadcast guard (r3 verdict #7): the distinct eval shingles are COUNTED
    first (one action on the small side); above ``max_broadcast_shingles``
    the broadcast hint would OOM the driver/executors — the join explicitly
    falls back to a shuffle hash join (still keyed on shingle; the corpus
    pays one shuffle, correctness identical).  The chosen strategy and the
    eval-side size are recorded in ``scope``, which also holds the
    persisted eval-shingle frame (``plans.scope.RunScope``)."""
    from .dedup import shingles

    if eval_set is None:
        eval_set = documents.where(F.pmod(F.col("doc_id"), F.lit(eval_mod)) == 0)
    doc_sh = shingles(documents, n)
    # persist before the count: the guard's count() action would otherwise
    # run the full eval-side explode+distinct once for the count and AGAIN
    # uncached for the join below — and the persisted result is exactly
    # what the join consumes
    eval_distinct = scope.persist(shingles(eval_set, n).select("shingle").distinct())
    n_eval = eval_distinct.count()
    if n_eval <= max_broadcast_shingles:
        strategy, eval_sh = "broadcast", F.broadcast(eval_distinct)
    else:
        strategy, eval_sh = "shuffle", eval_distinct.hint("shuffle_hash")
    scope.note("decontaminate", eval_shingles=n_eval, strategy=strategy)
    overlap = (
        doc_sh.join(eval_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    sizes = doc_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    ratio = F.coalesce(F.col("n_overlap"), F.lit(0)) / F.col("n_shingles")
    return (
        sizes.join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            F.round(ratio, 5).alias("overlap_ratio"),
            (ratio >= F.lit(threshold)).alias("contaminated"),
        )
    )


def pack_sequences(
    documents: DataFrame,
    budget: int = 2048,
    n_shards: int = 16,
) -> DataFrame:
    """Pretraining sequence packing: assign each document a (shard, bin)
    slot under a fixed token ``budget`` per bin — (doc_id, shard, n_tokens,
    bin_id, offset_in_bin).

    Spec (deterministic, shared with the SQL oracle): docs are sharded by
    doc_id % n_shards; within a shard, docs are taken in doc_id order and
    packed CONTIGUOUS-FILL — a running token cumsum, bin_id =
    (cumsum - n) // budget, offset = (cumsum - n) % budget — i.e. documents
    stream into bins back-to-back and one doc may STRADDLE a bin boundary
    (the standard pretraining concat-then-chunk regime, not first-fit;
    docs longer than the budget simply span multiple bins).

    Scale shape: ONE window cumsum partitioned by shard — each shard's
    packing is independent, so parallelism = n_shards (set it to a multiple
    of the cluster's cores; a global single-window pack would serialize).
    """
    from .textstats import tokens_col

    n = F.size(tokens_col(F.col("text")))
    base = documents.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        n.alias("n_tokens"),
    )
    return base.select("doc_id", "shard", "n_tokens", *_pack_columns(budget))


def _pack_columns(budget: int) -> list:
    """The contiguous-fill packing spec — (bin_id, offset_in_bin) from a
    per-shard running token cumsum — as the ONE definition shared by
    ``pack_sequences`` and ``curate_pipeline`` (and mirrored by both SQL
    oracles), so the packing regime cannot silently drift between the
    standalone operator and the composed pipeline.  Requires (doc_id,
    shard, n_tokens) columns on the caller's frame."""
    w = Window.partitionBy("shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    return [
        F.floor((cum - F.col("n_tokens")) / budget).cast("long").alias("bin_id"),
        F.pmod(cum - F.col("n_tokens"), F.lit(budget)).cast("int").alias("offset_in_bin"),
    ]


def sample_stratified(
    documents: DataFrame,
    rates: dict | None = None,
    default_rate: float = 0.1,
    strata_col: str = "lang",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic stratified sampling for mix planning: keep a document
    iff u(doc_id) < rate(stratum), where u = first-32-bits of
    md5('{salt}:' || doc_id) / 2^32 — a pure column expression, so the
    sample is reproducible on any cluster, any partitioning, any retry
    (rand() is none of those).  The division is by a power of two: u is
    bit-exact in every engine.  Returns (doc_id, stratum, u)."""
    rates = rates if rates is not None else {"en": 0.5, "es": 0.25}
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(2**32))
    )
    rate = F.lit(float(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(float(r))).otherwise(rate)
    return (
        documents.select(
            "doc_id", F.col(strata_col).alias("stratum"), u.alias("u"), rate.alias("_r")
        )
        .where(F.col("u") < F.col("_r"))
        .select("doc_id", "stratum", F.round("u", 6).alias("u"))
    )


def curate_pipeline(
    documents: DataFrame,
    min_quality: float = DEFAULT_MIN_QUALITY,
    langs=DEFAULT_LANGS,
    eval_mod: int = 97,
    n: int = 3,
    threshold: float = DECONTAMINATE_THRESHOLD,
    budget: int = 2048,
    n_shards: int = 16,
    url_col: str | None = None,
    clean_chunks: int | None = None,
    *,
    scope: RunScope,
) -> DataFrame:
    """The END-TO-END curation decision, composed from the standalone
    operators with NO recomputation of the corpus scan: a document lands in
    the packed output iff it

      0. (``url_col`` set) survives canonical-URL dedup — ``url_keepers``
         pass 0, the CHEAPEST pass in a web pipeline (map-only
         canonicalization + one groupBy), run BEFORE any content pass so
         recrawl spellings of one page never reach the shingle/signature
         stages; URL-less rows pass through (they cannot be URL-deduped),
      1. passes the lang + quality gates (``curate`` scoring spec),
      2. is NOT benchmark-contaminated (``decontaminate``), and
      3. is its MinHash-LSH near-dup cluster's keeper (``dedup_clusters``),

    Pass 0 is SEQUENTIAL, not conjunctive: the content passes (eval-set
    slice, near-dup components, keeper min-ids) are computed over the
    URL-deduped corpus, exactly as a staged production pipeline would run
    them — a URL-dropped doc can neither win nor veto a content cluster.

    ``clean_chunks`` (r5 verdict #6) inserts the C4 line-dedup CLEANING
    pass (``dedup.line_dedup_clean``, chunk size = ``clean_chunks``
    tokens) as sequential pass 1, right after URL dedup: every downstream
    stage — lang/quality gates, eval-set slice, shingles, MinHash
    signatures, CC labels, token counts, packing — runs over the CLEANED
    text (duplicate chunks cut, first global occurrence kept), exactly as
    a staged corpus build would.  ``n_tokens`` in the output is therefore
    the post-clean count — the number you actually train on.  The cleaned
    projection is materialized like the base projection (it is what every
    branch re-reads; recomputing the global chunk election per branch
    would triple its shuffles).

    and the survivors are then ``pack_sequences``-packed into token bins
    (shard = doc_id % n_shards over SURVIVORS, contiguous fill in doc_id
    order, reusing the already-computed n_tokens — no re-tokenization).

    Returns (doc_id, n_tokens, quality_score, lang_pred, shard, bin_id,
    offset_in_bin).

    Composition shape (the part that matters at 100 TB): every branch —
    scoring, corpus/eval shingles, MinHash signatures, CC node list —
    derives from ONE pruned (doc_id, text) projection; the downstream
    joins are all equi-joins on doc_id over already-reduced sides; filters
    run before every join (only gate-survivors shuffle).

    The shared projection is materialized once through ``scope.reuse``
    (``plans.scope.RunScope``): a pruned parquet landing table under the
    scope's work dir — the 100 TB choice — or an executor cache without
    one; both are value-identical (tested).  The decontaminate and keeper
    branches run in two driver threads (``plans.scope.run_branches``): both
    are waited for, and the first failure is re-raised with the name of its
    branch.
    """
    from .dedup import dedup_clusters

    if url_col is not None and not url_col:
        raise ValueError("url_col must be a column name or None, got ''")
    if clean_chunks is not None and clean_chunks < 1:
        # chunk_tokens=0 would NULL the floor-division chunk index
        # (non-ANSI) or crash (ANSI), emptying every document and letting
        # the quality gate drop the whole corpus with no error — fail
        # loudly instead (r6 review)
        raise ValueError(f"clean_chunks must be >= 1 (got {clean_chunks})")
    cols = ["doc_id", "text"] + ([url_col] if url_col else [])
    base = scope.reuse(documents.select(*cols), "curate_base")

    if url_col:
        from .weburl import url_keepers

        # pass 0 over the SHARED projection (no extra source scan): every
        # downstream branch derives from the URL-deduped corpus
        keep0 = url_keepers(base.select("doc_id", url_col), url_col=url_col)
        base = base.join(keep0, "doc_id").select("doc_id", "text")

    if clean_chunks is not None:
        from .dedup import line_dedup_clean

        # pass 1: C4 chunk cleaning, sequential — downstream stages see
        # only the cleaned text.  Materialized like the base projection:
        # the global chunk election (one groupBy + join-back) must run
        # ONCE, not once per downstream branch.
        cleaned = line_dedup_clean(
            base.select("doc_id", "text"), chunk_tokens=clean_chunks
        ).select("doc_id", F.col("text_clean").alias("text"))
        base = scope.reuse(cleaned, "curate_clean")

    scored = _scored(base).where(_gate(min_quality, langs))

    # The decontaminate branch (its eval-shingle count) and the keeper
    # branch (the CC label iterations) each run BLOCKING driver actions at
    # build time, and neither depends on the other — overlap them in two
    # driver threads so the CC loop's per-iteration driver syncs back-fill
    # with the eval-side jobs instead of serializing after them (guide
    # §2.6: actions are only sequential because the driver calls them
    # sequentially).  Both threads read the SAME materialized ``base``;
    # cache partition computation is per-partition-locked in Spark, and the
    # scope is thread-safe, so the overlap is safe.
    done = run_branches(
        "curate_pipeline",
        {
            "decontaminate": lambda: decontaminate(
                base, eval_mod=eval_mod, n=n, threshold=threshold, scope=scope
            ),
            "dedup_clusters": lambda: dedup_clusters(base, scope=scope),
        },
    )
    clean = done["decontaminate"].where(~F.col("contaminated")).select("doc_id")
    keepers = done["dedup_clusters"].where(F.col("is_keeper")).select("doc_id")
    survivors = scored.join(clean, "doc_id").join(keepers, "doc_id")

    shard = F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard")
    return survivors.select(*_SCORED, shard).select(*_SCORED, "shard", *_pack_columns(budget))


def curate_incremental(
    old: DataFrame,
    new: DataFrame,
    prev_keepers: DataFrame | None = None,
    min_quality: float = DEFAULT_MIN_QUALITY,
    langs=DEFAULT_LANGS,
) -> DataFrame:
    """Incremental corpus refresh: the keeper set for a NEW snapshot,
    computed from the DELTA — unchanged documents are never re-scored,
    re-fingerprinted, or re-shuffled.  The production shape for "a new
    crawl drop landed": at 100 TB the delta is typically 1-5% of the
    corpus, so the refresh costs O(delta), not O(corpus).

    Spec (deterministic; the SQL oracle mirrors it exactly):

      unchanged  = docs present in BOTH snapshots with identical content
                   digest (null-safe compare, same rule as corpus_diff);
      retained   = ``prev_keepers`` restricted to unchanged docs — their
                   verdicts carry over untouched.  In production PASS the
                   stored keepers table: the ``curate(old)`` default
                   re-scores the whole old corpus (convenient for tests
                   and one-shots, but it is exactly the O(corpus) work
                   the incremental path exists to avoid);
      candidates = added/changed docs of the new snapshot whose exact-dup
                   fingerprint does NOT already exist among the unchanged
                   corpus — membership tested with :func:`dedup.bloom_dedup`
                   (constant-size bitmap broadcast; its 'dup' rows drop;
                   'new' and 'false_positive' continue — false positives
                   are exactly confirmed inside bloom_dedup, so the result
                   EQUALS exact membership, which is what the oracle
                   checks);
      fresh      = ``curate(candidates)`` — lang+quality gates and
                   exact-dup keeper election WITHIN the candidate set;
      result     = retained UNION fresh, tagged ``origin`` in
                   {'retained', 'fresh'}, ordered by doc_id.

    Documented divergence from a full ``curate(new)`` (the standard
    incremental trade): if a REMOVED or CHANGED doc was an exact-dup
    group's keeper, the group's surviving members are not re-elected —
    they were non-keepers before and stay absent.  Run the full pass
    periodically (or on a drift budget) to reconcile; ``corpus_diff``
    tells you how much of the corpus moved.
    """
    from .dedup import bloom_dedup

    if prev_keepers is None:
        prev_keepers = curate(old, min_quality=min_quality, langs=langs)

    od = old.select("doc_id", F.md5(F.col("text")).alias("_fp_o"))
    nd = new.select("doc_id", F.md5(F.col("text")).alias("_fp_n"))
    unchanged = (
        od.join(nd, "doc_id")
        .where(F.col("_fp_o").eqNullSafe(F.col("_fp_n")))
        .select("doc_id")
    )
    retained = prev_keepers.join(unchanged, "doc_id").select(*_SCORED)

    delta = new.join(unchanged, "doc_id", "left_anti")
    unchanged_docs = old.join(unchanged, "doc_id").select("doc_id", "text")
    verdict = bloom_dedup(unchanged_docs, delta)
    candidates = delta.join(
        verdict.where(F.col("status") != "dup").select("doc_id"), "doc_id"
    )
    fresh = curate(candidates, min_quality=min_quality, langs=langs)

    return (
        retained.withColumn("origin", F.lit("retained"))
        .unionByName(fresh.withColumn("origin", F.lit("fresh")))
        .orderBy("doc_id")
    )


def corpus_diff(old, new, id_col: str = "doc_id", text_col: str = "text"):
    """Snapshot reconciliation: which documents were added, removed, or
    changed between two corpus snapshots (e.g. two crawl drops, or an
    Iceberg table at two snapshot ids).

    Emits (doc_id, status) for every NON-identical doc — status in
    {'added', 'removed', 'changed'} — ordered by doc_id; unchanged docs
    (same id, same content digest) are absent.  The incremental-pipeline
    primitive: downstream passes re-run only over this frame instead of
    the full corpus.

    Scale shape: both sides reduce to (id, md5(text)) at the scan — the
    full-outer join shuffles 16-byte digests, never document payloads —
    then one equi-join on the id and a map-side status expression.
    """
    from pyspark.sql import functions as F

    # a NULL text must not be conflated with an absent ROW: md5(NULL) is
    # NULL, so presence is tracked by its own flag and the digest compare
    # is null-safe — (5, NULL) -> (5, 'x') is 'changed', (5, NULL) ->
    # (5, NULL) is unchanged (absent from the output)
    of = old.select(F.col(id_col).alias("doc_id"),
                    F.md5(F.col(text_col)).alias("_fp_old"),
                    F.lit(True).alias("_in_old"))
    nf = new.select(F.col(id_col).alias("doc_id"),
                    F.md5(F.col(text_col)).alias("_fp_new"),
                    F.lit(True).alias("_in_new"))
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(~F.col("_fp_old").eqNullSafe(F.col("_fp_new")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        of.join(nf, "doc_id", "full_outer")
        .select("doc_id", status.alias("status"))
        .where(F.col("status") != "unchanged")
        .orderBy("doc_id")
    )
