"""Similarity search over the ``embeddings`` table (array<float>).

Every embedding operator has one shape: candidate ids, then the exact
cosine on the float vectors, then a cut.  Candidates come from:
  * ``brute_force_topk`` — every vector, for a deterministic query sample
    (|queries| x |corpus| pairs: the baseline/oracle, not the scale path);
  * ``lsh_topk`` — random-hyperplane LSH: a sign-bit sketch per vector
    (md5-seeded deterministic hyperplanes), candidates share a bucket;
  * ``ivf_topk`` — the inverted lists of a trained coarse quantizer,
    optionally shortlisted on int8 codes;
  * ``cosine_dup_pairs`` — LSH bucket pairs, cut at ``COS_DUP_THRESHOLD``;
  * ``semdedup`` — same-cluster pairs, cut at ``COS_DUP_THRESHOLD``.
The three top-k paths end in one re-rank (``_rerank``: exact cosine, then
the first k per query).  Vectors and norms come from ``_vectors``, the
query sample from ``_queries``, every per-query cut from ``_first``.

Dot products run JVM-side (``F.aggregate`` over zipped arrays in DOUBLE),
so there is no Python in the loop; cosine = dot / (norm_q * norm_c) with
strict left-to-right accumulation, so the DuckDB oracle (same fold order)
matches bit-for-bit before rounding.  Zero vectors have no cosine and are
dropped on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import band_rows, bucket_join
from .textstats import md5_int

SIM_ROUND = 4
TOPK = 5  # neighbours per query of the top-k paths
QUERY_MOD = 50  # top-k paths query the vec_id % QUERY_MOD == 0 sample
LSH_PLANES = 6  # hyperplanes per hash table (bucket = 6 sign bits)
LSH_TABLES = 8  # hash tables of the embedding sketch
COS_DUP_THRESHOLD = 0.35  # cosine at which two embeddings are duplicates
COS_MAX_BUCKET = 256  # cosine_dup_pairs' hot-bucket cap


def _sum(arr, zero):
    """Left-to-right fold of ``arr`` from ``zero`` (the oracles' order)."""
    return F.aggregate(arr, zero, lambda acc, v: acc + v)


def _dot(a, b):
    return _sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")), F.lit(0.0))


def _int_dot(a, b):
    """Exact BIGINT dot of two integer code arrays, as a double."""
    return _sum(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long")).cast("double")


def _cos(a: str, b: str):
    """Exact cosine of the ``embedding`` columns of the frames aliased
    ``a`` and ``b``, over their ``nrm`` columns."""
    return _dot(F.col(f"{a}.embedding"), F.col(f"{b}.embedding")) / (
        F.col(f"{a}.nrm") * F.col(f"{b}.nrm")
    )


def _vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, embedding, nrm) for every nonzero vector: the one vector
    side of every cosine (a zero vector has none)."""
    e = F.col("embedding")
    return embeddings.select("vec_id", "embedding", F.sqrt(_dot(e, e)).alias("nrm")).where(
        F.col("nrm") > 0
    )


def _queries(frame: DataFrame) -> DataFrame:
    """The query sample of a per-vector ``frame``: its
    ``vec_id % QUERY_MOD == 0`` rows with vec_id renamed query_id,
    broadcast and aliased ``q``."""
    q = frame.where(F.pmod(F.col("vec_id"), F.lit(QUERY_MOD)) == 0)
    return F.broadcast(q.withColumnRenamed("vec_id", "query_id").alias("q"))


def _fetch(cand: DataFrame, frame: DataFrame) -> DataFrame:
    """Candidate (query_id, vec_id) ids joined with ``frame``'s row of each
    side: the candidate's aliased ``c``, the query's aliased ``q``."""
    return cand.join(frame.alias("c"), "vec_id").join(_queries(frame), "query_id")


def _first(frame: DataFrame, key: str, n: int, *order) -> DataFrame:
    """The first ``n`` rows per ``key`` of ``frame`` by ``order``, numbered
    in a ``rank`` column: the one per-query cut."""
    w = Window.partitionBy(key).orderBy(*order)
    return frame.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= n)


def _rerank(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, neighbor_id, cos_sim): the exact cosine of each
    query ``q`` x vector ``c`` row of ``pairs`` (``_vectors`` rows), then
    the first ``k`` per query by cosine, ties broken by neighbor id — the
    one re-rank tail of every top-k path."""
    sim = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _cos("q", "c").alias("cos")
    )
    return _first(sim, "query_id", k, F.desc("cos"), F.asc("neighbor_id")).select(
        "query_id", "rank", "neighbor_id", F.round("cos", SIM_ROUND).alias("cos_sim")
    )


def brute_force_topk(embeddings: DataFrame, k: int = TOPK) -> DataFrame:
    """Top-k cosine neighbors for vec_id % QUERY_MOD == 0 queries.

    Self-match excluded; rank ties broken by neighbor id (deterministic).
    """
    vectors = _vectors(embeddings)
    pairs = _queries(vectors).join(vectors.alias("c"), F.col("c.vec_id") != F.col("query_id"))
    return _rerank(pairs, k)


def plane_weights(plane_id: int, dim: int) -> list:
    """Deterministic pseudo-random hyperplane w[i] = md5u(plane_id:i) scaled
    to [-1, 1] — computed ONCE on the driver and shipped as a literal array
    (r01 verdict #3: the old version re-derived these with per-row md5 folds
    inside the JVM expression, ~dim x planes md5 calls per vector).  Plane id
    ``t*1000 + p`` keeps bit-compatibility with the r01 sketch."""
    return [md5_int(f"{plane_id}:{i}", 1, 8) / 2147483647.5 - 1.0 for i in range(dim)]


def _proj_sql(weights: list) -> str:
    """SQL for <embedding, w> with strict left-to-right double accumulation
    (the DuckDB oracle folds in the same order, so the sign bit matches
    exactly).  Weights round-trip as D-suffixed double literals (repr is
    exact).  Built as ONE expr string: building 3k F.lit columns cost ~3 s
    of py4j round-trips at plan-build time."""
    arr = ",".join(f"{float(x)!r}D" for x in weights)
    return (
        f"aggregate(zip_with(embedding, slice(array({arr}), 1, size(embedding)), "
        "(x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def multi_table_sketch(embeddings: DataFrame, n_tables: int = LSH_TABLES) -> DataFrame:
    """(vec_id, b0..b{n_tables-1}) — ALL hash-table buckets in ONE scan.

    bucket_t = sum_p [ <emb, w_{t*1000+p}> > 0 ] << p.  All n_tables x
    ``LSH_PLANES`` projections are plain JVM column expressions over literal
    weight arrays; no shuffle, no Python, one pass over the table.  The
    weights' dimension is the first vector's length (one 1-row job)."""
    first = embeddings.select(F.size("embedding")).first()
    dim = first[0] if first else 0
    cols = []
    guard = (
        f"CASE WHEN size(embedding) <> {dim} THEN "
        f"CAST(raise_error('embedding dim ' || size(embedding) || "
        f"' does not match sketch dim {dim} of the first vector') AS BIGINT) ELSE "
    )
    for t in range(n_tables):
        terms = " + ".join(
            f"(CASE WHEN {_proj_sql(plane_weights(t * 1000 + p, dim))} > CAST(0.0 AS DOUBLE) "
            f"THEN {1 << p}L ELSE 0L END)"
            for p in range(LSH_PLANES)
        )
        # guard: a vector LONGER than the first would zip with NULL weights
        # and silently collapse into bucket 0; a SHORTER one would project
        # against truncated weights while the SQL oracle (iterating 1..dim)
        # NULLs out — fail loudly on any mismatch instead
        cols.append(F.expr(f"{guard}({terms}) END").alias(f"b{t}"))
    return embeddings.select("vec_id", *cols)


IVF_QUANT_SCALE = 1024
IVF_SAMPLE_MOD = 5
IVF_TRAIN_ITERS = 2
IVF_PROBES = 4  # inverted lists an ivf_topk query probes

# the quantizer spec shared by training, assignment, and the DuckDB oracle:
# qe[i] = floor(e[i] * IVF_QUANT_SCALE + 0.5) — floor (not round) because
# both engines define floor identically on IEEE doubles, so quantization is
# bit-exact
_QUANT_SQL = f"transform(embedding, x -> floor(CAST(x AS DOUBLE) * {float(IVF_QUANT_SCALE)}D + 0.5D))"


def _quantize(vec) -> list:
    import math

    return [int(math.floor(float(x) * IVF_QUANT_SCALE + 0.5)) for x in vec]


def _collect_train_sample(
    embeddings: DataFrame, sample_mod: int, max_train: int
) -> list:
    """Deterministic BOUNDED training sample: rows with
    ``vec_id % sample_mod == 0`` and a nonzero quantized vector, ordered by
    ``(md5(vec_id), vec_id)`` (a corpus-independent pseudo-random shuffle),
    then ``LIMIT max_train``.  The collect is O(max_train) regardless of
    corpus size — at 10^9 vectors the driver still holds exactly
    ``max_train`` rows (r3 verdict #1: the previous proportional
    ``vec_id % 5`` collect was 20% of the corpus)."""
    rows = (
        embeddings.where(F.pmod(F.col("vec_id"), F.lit(sample_mod)) == 0)
        .where(F.expr(f"exists({_QUANT_SQL}, x -> x != 0.0D)"))
        .select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(max_train)
        .collect()
    )
    return sorted((int(r.vec_id), _quantize(r.embedding)) for r in rows)


QUANT_BITS = 8  # embedding storage codes are int8


def _quantized_codes_frame(embeddings: DataFrame) -> DataFrame:
    """(vec_id, embedding, scale, q) — the ONE symmetric int-quantization
    spec (``scale = max|x| / (2^(QUANT_BITS-1)-1)`` at FULL precision,
    ``q_i = floor(x_i / scale + 0.5)``, all-zero vectors -> scale 0 and
    all-zero codes).  ``quantize_embeddings`` (storage table) and
    ``_q8_norm_frame`` (inline ANN candidate codes) both build on this
    frame so the two paths cannot drift (r6 review): the q8 refine path's
    oracle exactness depends on a single code spec."""
    qmax = float((1 << (QUANT_BITS - 1)) - 1)
    ab = F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    scale = F.array_max(ab) / F.lit(qmax)
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") / F.col("scale") + F.lit(0.5)).cast(
                "int"
            ),
        ),
    ).otherwise(F.transform(F.col("embedding"), lambda x: F.lit(0)))
    return embeddings.select(
        "vec_id", "embedding", scale.alias("scale")
    ).withColumn("q", q)


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int quantization for embedding STORAGE — the
    4x (int8) table-size lever at 100 TB, where the embedding column
    dominates bytes and ANN candidate generation tolerates quantization
    noise (exact re-rank fetches the few float vectors that matter).

    Per vector: ``scale = max(|x|) / (2^(QUANT_BITS-1) - 1)``;
    ``q_i = floor(x_i / scale + 0.5)`` (floor, not round-half-even: floor
    is IEEE-identical in Spark and DuckDB, so the oracle is bit-exact —
    the same trick as the IVF quantizer spec above).  All-zero vectors
    get scale 0 and all-zero codes (guarded division).  Returns
    (vec_id, scale, q, mean_abs_err) — ``mean_abs_err`` is the
    reconstruction error |x - q*scale| averaged with a left-to-right
    fold (defined order, cross-engine exact), the per-vector quality
    number to monitor when picking ``QUANT_BITS``.

    Map-only: one projection, no shuffle, no Python — pure column
    expressions over the array.
    """
    base = _quantized_codes_frame(embeddings)
    err_sum = _sum(
        F.zip_with(
            F.col("embedding"),
            F.col("q"),
            lambda x, qi: F.abs(x.cast("double") - qi.cast("double") * F.col("scale")),
        ),
        F.lit(0.0),
    )
    return (
        base
        # err is materialized BEFORE the output projection: Spark 3.4+
        # lateral column aliases resolve a later expression's col("scale")
        # to the ROUNDED alias earlier in the same select list, silently
        # shifting the reconstruction error in the 4th decimal (caught by
        # the oracle; a real cross-engine divergence class)
        .withColumn(
            "mean_abs_err", F.round(err_sum / F.size(F.col("embedding")), 6)
        )
        .select(
            "vec_id", F.round("scale", 6).alias("scale"), "q", "mean_abs_err"
        )
        .orderBy("vec_id")
    )


def _q8_norm_frame(embeddings: DataFrame) -> DataFrame:
    """(vec_id, q8: array<long>, n8: double) — the int8 symmetric codes of
    ``quantize_embeddings`` (same spec: scale = max|x|/127 FULL precision,
    code = floor(x/scale + 0.5)) plus the code-vector norm, for cosine
    scoring in quantized space.  Zero vectors are dropped (scale 0 -> no
    codes; they can't be cosine neighbors anyway), so n8 > 0 always holds:
    a nonzero vector has at least one code at +/-127.  Map-only; every
    arithmetic step (max, one division, floor, BIGINT squares) is
    cross-engine exact, so a DuckDB oracle lands on identical codes.  The
    codes are derived inline from ``embeddings``: value-identical to a
    materialized code table, but read from the float column."""
    n8 = F.sqrt(_int_dot(F.col("q8"), F.col("q8")))
    return (
        _quantized_codes_frame(embeddings)
        .where(F.col("scale") > 0)
        .withColumn("q8", F.transform(F.col("q"), lambda x: x.cast("long")))
        .withColumn("n8", n8)
        .select("vec_id", "q8", "n8")
    )


IVF_MAX_TRAIN = 1024  # 64x IVF_CENTROIDS; absolute, not proportional
IVF_CENTROIDS = 16


def train_ivf_centroids(embeddings: DataFrame, n_centroids: int = IVF_CENTROIDS) -> list:
    """Lloyd-trained coarse quantizer in EXACT INTEGER arithmetic.

    A deterministic BOUNDED sample (vec_id % IVF_SAMPLE_MOD == 0, nonzero
    quantized vector, hash-ordered ``LIMIT IVF_MAX_TRAIN`` — see
    ``_collect_train_sample``) is collected once; init centroids are the K
    smallest vec_ids of the sample; each Lloyd round assigns samples to
    argmax <q, S_c>/|S_c| (ties -> lowest cid) and replaces S_c with the
    INTEGER SUM of assigned quantized vectors (empty cluster keeps its
    previous sum).  Centroids are kept as raw sum vectors — the member
    count cancels out of every cosine argmax — so all training arithmetic
    is order-independent integer sums plus one final double division per
    score: the DuckDB oracle re-runs the identical iterations in SQL and
    lands on bit-identical centroids, scores, and rankings.

    ``IVF_TRAIN_ITERS`` Lloyd rounds.  Returns [(cid, sum_vec: list[int],
    norm: float)].  The driver memory bound is ``IVF_MAX_TRAIN`` rows
    whatever the corpus size; raise it (still absolute) for a finer
    quantizer, never a proportional fraction.
    """
    samp = _collect_train_sample(embeddings, IVF_SAMPLE_MOD, IVF_MAX_TRAIN)
    if not samp:
        raise ValueError(
            f"no trainable sample: no rows with vec_id % {IVF_SAMPLE_MOD} == 0 "
            "and a nonzero quantized vector"
        )
    import numpy as np

    # all training math is EXACT int64 (sums are associative, so numpy
    # vectorization cannot change a single bit vs the SQL's per-row sums);
    # the only floating steps — int->double conversion and one division per
    # score — are IEEE round-to-nearest in numpy, DuckDB, and Spark alike
    Q = np.array([q for _vid, q in samp], dtype=np.int64)
    cents = Q[:n_centroids].copy()
    for _ in range(IVF_TRAIN_ITERS):
        nrm = np.sqrt((cents * cents).sum(axis=1).astype(np.float64))
        scores = (Q @ cents.T).astype(np.float64) / nrm[None, :]
        assign = scores.argmax(axis=1)  # first-max = lowest cid (tie rule)
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, Q)
        counts = np.bincount(assign, minlength=len(cents))
        cents = np.where((counts > 0)[:, None], sums, cents)
    nrm = np.sqrt((cents * cents).sum(axis=1).astype(np.float64))
    return [
        (c, [int(v) for v in cents[c]], float(nrm[c])) for c in range(len(cents))
    ]


def centroid_cid_expr(cents: list) -> str:
    """SQL expression (over a quantized-embedding column named ``qe``)
    assigning the nearest-centroid id: the K centroids ship as literal
    arrays, the argmax score <qe, S_c> / |S_c| is an exact BIGINT dot
    (the row's own norm cancels across centroids), and ties break
    first-max = lowest cid.  Pure column expression — no join, no
    shuffle, no Python; callers attach it to whatever projection they
    already carry (``assign_centroids`` for a bare (vec_id, cid) frame,
    ``semdedup`` inline next to the float payload so the vectors never
    take an extra vec_id self-join shuffle — r6 review)."""

    def score_sql(svec: list, nrm: float) -> str:
        arr = ",".join(f"{int(x)}L" for x in svec)
        return (
            f"(CAST(aggregate(zip_with(qe, array({arr}), "
            "(x, w) -> x * w), 0L, (acc, v) -> acc + v) AS DOUBLE) "
            f"/ {nrm!r}D)"
        )

    cos_arr = "array(" + ",".join(score_sql(s, nrm) for (_c, s, nrm) in cents) + ")"
    # argmax with first-max (lowest cid) tie rule — bit-identical scores on
    # both engines make the tie rule the ONLY ordering decision
    return f"CAST(array_position({cos_arr}, array_max({cos_arr})) - 1 AS INT)"


def assign_centroids(embeddings: DataFrame, cents: list) -> DataFrame:
    """(vec_id, cid) — coarse-quantizer list assignment for EVERY vector in
    one scan (see ``centroid_cid_expr``).  Used by ``ivf_topk``."""
    return embeddings.select(
        "vec_id", F.expr(_QUANT_SQL).alias("qe")
    ).select("vec_id", F.expr(centroid_cid_expr(cents)).alias("cid"))


def cluster_stats(embeddings: DataFrame) -> DataFrame:
    """(cid, n_vecs, share_ppm) — semantic-cluster balance over the
    TRAINED coarse quantizer: how the corpus distributes across embedding
    clusters, the observability twin of ``semdedup``/``ivf_topk`` and the
    input a mix planner reads to spot topic collapse (one cluster
    swallowing the corpus) before training on it.

    ``share_ppm`` is integer parts-per-million (``n_vecs * 1e6 div
    total``) — exact in both engines, no float shares to canonicalize.
    Scale shape: assignment is a pure column expression over one scan
    (centroids ship as literals); the stats are one groupBy(cid) with
    map-side partial agg + a single-row total broadcast-joined back
    (mix_plan convention) — no window, no driver collect beyond the
    bounded trainer sample."""
    a = assign_centroids(embeddings, train_ivf_centroids(embeddings))
    tot = a.agg(F.count("*").cast("long").alias("tot"))
    return (
        a.groupBy("cid")
        .agg(F.count("*").cast("long").alias("n_vecs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "cid",
            "n_vecs",
            F.expr("n_vecs * 1000000 div tot").cast("long").alias("share_ppm"),
        )
    )


def semdedup(embeddings: DataFrame) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with the TRAINED coarse
    quantizer, then keeping, within each cluster, only vectors with no
    LOWER-id neighbor at cosine >= ``COS_DUP_THRESHOLD`` — the third embedding
    dedup path next to LSH-bucketed pairs (``cosine_dup_pairs``, recall
    traded for candidate bound) and exact brute force (oracle only).

    Deterministic spec: cluster assignment is ``assign_centroids`` (exact
    integer argmax, lowest-cid ties); the keeper rule is per-vector NOT
    EXISTS (same-cluster lower-id neighbor with cos >= COS_DUP_THRESHOLD), so no
    iterative component resolution is needed and the oracle replays the
    verdict row for row.  Zero vectors are excluded (no cosine).

    Scale shape: cid is computed INLINE next to the float payload in the
    same one-scan projection (``centroid_cid_expr`` — never a vec_id
    self-join to glue assignment back onto the vectors; r6 review), so
    the embeddings shuffle exactly once, on cid, for the within-cluster
    pair join.  Cluster sizes are ~N/K by construction and the paper's
    prescription is to scale K with N (cluster size is the quadratic
    knob, exactly as its GPU implementation batches per cluster); the
    join is a plain sort-merge on cid, so AQE skew-join splitting covers
    an unbalanced cluster.  The assignment projection is re-derived per
    plan branch (3 column-pruned scans — map-only, the cap_hot_buckets
    trade: recompute cheap map work rather than persist the corpus); at
    100 TB write it to a landing table first and semdedup the result.
    Returns (vec_id, cid, is_keeper) ordered by vec_id.
    """
    cents = train_ivf_centroids(embeddings)
    assign = (
        _vectors(embeddings)
        .withColumn("qe", F.expr(_QUANT_SQL))
        .select("vec_id", "embedding", "nrm", F.expr(centroid_cid_expr(cents)).alias("cid"))
    )
    a = assign.alias("a")
    b = assign.alias("b")
    dup_ids = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(_cos("a", "b") >= COS_DUP_THRESHOLD)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        assign.select("vec_id", "cid")
        .join(dup_ids.withColumn("_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id", "cid", F.coalesce(~F.col("_dup"), F.lit(True)).alias("is_keeper")
        )
        .orderBy("vec_id")
    )


def ivf_topk(
    embeddings: DataFrame,
    k: int = TOPK,
    n_centroids: int = IVF_CENTROIDS,
    n_probe: int = IVF_PROBES,
    refine_q8: int | None = None,
) -> DataFrame:
    """IVF-flat ANN: TRAINED coarse quantizer -> inverted lists -> probe +
    exact re-rank.

    The quantizer comes from ``train_ivf_centroids`` (driver-side integer
    Lloyd over a deterministic sample — r2 verdict #8 replaced the
    ``vec_id < K`` seed quantizer).  Centroids ship as literal arrays, so:

      1. list assignment (argmax <quantized emb, S_c>/|S_c| over K literal
         integer dot products; ties -> lowest cid) is ONE scan, pure column
         expressions, no shuffle — the 10^9-vector side never touches
         Python or a join;
      2. the sampled query side ranks centroids relationally and probes the
         ``n_probe`` nearest inverted lists (expected candidate fraction
         ~ n_probe/n_centroids);
      3. exact cosine re-rank on the REAL embeddings within the probed
         lists (same shape as lsh_topk).

    Fully SQL-expressible (the oracle re-runs the same integer Lloyd
    unrolled), making this the third, cross-checked ANN path next to brute
    force (oracle) and multi-table LSH (scale alternative).

    ``refine_q8`` (the ``quantize_embeddings`` payoff, r5 verdict #7):
    when set, the probed candidates are FIRST scored with the int8
    symmetric codes — approx_cos = <q8_q, q8_c> / (|q8_q| |q8_c|); the
    per-vector scales cancel out of the cosine, so no dequantization —
    and only the top ``k * refine_q8`` per query are re-ranked with the
    float vectors.  The int dot is exact BIGINT (cross-engine bit-exact,
    so the oracle replays the same shortlist) and measured recall loss vs
    float candidates is 0 at every swept config (BENCH.md §3c).  The codes
    are recomputed inline from the float column (``_q8_norm_frame``).
    """
    cents = train_ivf_centroids(embeddings, n_centroids)
    vectors = _vectors(embeddings)

    # query side: rank centroids relationally over the tiny broadcast table
    cent_df = F.broadcast(
        embeddings.sparkSession.createDataFrame(
            [(c, s, nrm) for c, s, nrm in cents],
            "cid int, s array<long>, s_nrm double",
        )
    )
    qc = _queries(vectors.select("vec_id", F.expr(_QUANT_SQL).alias("qe"))).crossJoin(cent_df)
    c_cos = _int_dot(F.col("qe"), F.col("s")) / F.col("s_nrm")
    probes = _first(
        qc.select("query_id", "cid", c_cos.alias("c_cos")), "query_id", n_probe,
        F.desc("c_cos"), F.asc("cid"),
    )
    cand = (
        probes.join(assign_centroids(embeddings, cents), "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    if refine_q8 is not None:
        # int8 shortlist: score candidates on the code column, keep
        # k*refine_q8 per query for the float re-rank.  Scales cancel in
        # the cosine; the dot is exact BIGINT so the cutoff is
        # deterministic and oracle-replayable.  The per-query window is
        # bounded by the probed-list size (not a data-skewed corpus key).
        q8_cos = _int_dot(F.col("q.q8"), F.col("c.q8")) / (F.col("q.n8") * F.col("c.n8"))
        approx = _fetch(cand, _q8_norm_frame(embeddings)).select(
            "query_id", "vec_id", q8_cos.alias("_qcos")
        )
        cand = _first(approx, "query_id", k * refine_q8, F.desc("_qcos"), F.asc("vec_id")).select(
            "query_id", "vec_id"
        )
    return _rerank(_fetch(cand, vectors), k)


def lsh_bands_multi(embeddings: DataFrame, n_tables: int = LSH_TABLES) -> DataFrame:
    """(vec_id, band, bkey) band list from the single-pass sketch: band =
    hash table, bkey = the vector's bucket in it."""
    sketch = multi_table_sketch(embeddings, n_tables)
    return band_rows(sketch, [F.col(f"b{t}") for t in range(n_tables)], id_col="vec_id")


def cosine_dup_pairs(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-by-embedding path):
    candidate pairs share any LSH (band, bkey) = (table, bucket); exact
    cosine >= ``COS_DUP_THRESHOLD`` confirms.  Never all-pairs — the same
    banded candidate join as ``lsh_topk`` — and buckets with more than
    ``COS_MAX_BUCKET`` members are skipped per
    band (hot-bucket guard, same rationale as dedup.minhash_lsh_pairs; the
    candidates are the shared ``dedup.bucket_join``, whose cap is a groupBy
    + join-back, never a window over the hot bucket key).  Missed duplicates
    are the LSH recall tradeoff; raise ``LSH_TABLES`` to trade compute for
    recall.

    Persist note (r7, interleaved A/B): pinning the sketch frame to avoid
    the four lazy band references measured ~1.4x SLOWER at sf0.1 —
    ReuseExchange dedupes the identical band subtrees behind one shuffle,
    so the hyperplane projections run once per distinct exchange, not
    once per reference."""
    bands = lsh_bands_multi(embeddings)
    pairs = bucket_join(bands, ["band", "bkey"], COS_MAX_BUCKET, id_col="vec_id").distinct()
    vectors = _vectors(embeddings)
    sim = (
        pairs.join(vectors.alias("a"), F.col("id_a") == F.col("a.vec_id"))
        .join(vectors.alias("b"), F.col("id_b") == F.col("b.vec_id"))
        .select("id_a", "id_b", _cos("a", "b").alias("cos"))
    )
    return sim.where(F.col("cos") >= COS_DUP_THRESHOLD).select(
        "id_a", "id_b", F.round("cos", SIM_ROUND).alias("cos_sim")
    )


def lsh_topk(embeddings: DataFrame, k: int = TOPK, n_tables: int = LSH_TABLES) -> DataFrame:
    """ANN: exact cosine re-rank within multi-table hyperplane buckets.

    L independent hash tables (decorrelated plane sets) union their
    same-bucket candidates — the standard recall lever: expected candidate
    fraction ~ L / 2^planes; per-neighbor hit rate 1-(1-(1-theta/pi)^p)^L.
    The sf test embeddings are near-uniform random (theta ~ 60-70 deg, the
    LSH worst case): defaults measure recall@5 ~= 0.42 there (pinned as a
    regression floor in tests), while clustered real-world embeddings
    (theta ~ 20-35 deg) land ~0.9 at the same settings.

    Scale shape (single-pass rewrite of the r01 8-scan union):
      1. one scan sketches all tables' buckets (``multi_table_sketch``);
      2. the (vec_id, band, bkey) band list (band = table, bkey = bucket)
         — a few longs per vector — joins the query sample's broadcast
         band rows on (band, bkey) for candidate ids;
      3. vectors are fetched once for the distinct candidates (co-located
         join on vec_id); the tiny query-sample side broadcasts.
    Everything stays JVM-side column expressions (plan-asserted in tests).
    """
    bands = lsh_bands_multi(embeddings, n_tables)
    cand = (
        _queries(bands)
        .join(bands, ["band", "bkey"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    return _rerank(_fetch(cand, _vectors(embeddings)), k)
