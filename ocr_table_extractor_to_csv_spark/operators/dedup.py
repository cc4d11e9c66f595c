"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale notes (the 100 TB story):
  * exact dedup is one hash-shuffle groupBy — map-side partial aggregation
    makes it bandwidth-bound, not memory-bound;
  * MinHash+LSH is the linear-cost near-dup path: explode shingles x seeds
    (map-side), min-aggregate to signatures, band-hash, and only same-bucket
    pairs are candidate-joined — never an all-pairs product;
  * n-gram Jaccard all-pairs is intentionally restricted to a deterministic
    sample (it is the verification oracle for LSH, not the scale path);
  * SimHash packs a doc into one 64-bit int (32-bit opt-in); near-dups
    differ in few bits.

Every banded candidate path (MinHash, SimHash, and the embedding sketch in
``similarity``) is ``band_rows`` -> ``bucket_join``: one band explode, one
hot-bucket cap, one self-join per shared bucket.

Hashing is md5-based (not xxhash64) so every operator has a bit-identical
DuckDB twin for the correctness gate.

Shared hash spec: h_seed(s) = int(substr(md5(s || '#' || seed), 1, 15), 16)
                  (60-bit, positive, fits BIGINT in both engines)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.scope import RunScope
from .textstats import tokens_col

N_MINHASH = 16
BAND_SIZE = 2  # 8 bands of 2 rows
# Production default (r4 verdict #3): 64-bit simhash => 16-bit pigeonhole
# band keys (65,536 buckets/band).  The 32-bit width survives as an opt-in
# compact twin (bits=32) — its 8-bit band keys crowd at corpus scale.
SIMHASH_BITS = 64
MAX_BUCKET = 64  # LSH band-bucket membership cap (hot-bucket guard)


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup over the normalized-text fingerprint."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        documents.select("doc_id", F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_id"))
    )


def _gram_chain(toks, n: int):
    """'_'-joined n-grams of a token-array column as a zip_with chain over
    n SHIFTED slices — O(tokens) with one pass, vs the naive
    transform(sequence, i -> array_join(slice(toks, i, n))) which
    re-slices and re-joins per position (O(tokens x n) + an allocation
    per gram): measured 5.2x faster at sf0.1 with byte-identical output.
    Returns the raw gram array; docs with < n tokens yield a
    negative-length slice, so CALLERS must gate on size(toks) >= n and
    pick their own short-doc fallback (``shingles`` degrades to the
    whole-doc join, ``substring_anchors`` emits nothing).  The ONE gram
    builder shared by both (r6 review)."""
    m = F.size(toks) - (n - 1)  # number of n-grams
    grams = F.slice(toks, n, m)
    for j in range(n - 1, 0, -1):
        grams = F.zip_with(
            F.slice(toks, j, m), grams, lambda a, b: F.concat(a, F.lit("_"), b)
        )
    return grams


def shingles(documents: DataFrame, n: int = 3, carry: tuple = ()) -> DataFrame:
    """(doc_id, *carry, shingle) — distinct word n-grams, '_'-joined (the
    shared ``_gram_chain`` builder).  ``carry`` names extra document
    columns to keep alongside (e.g. ``("source",)`` for per-source
    sketches) — carried through the explode, NOT re-joined later, so no
    extra shuffle.

    Docs with < n tokens emit their full token join as the single shingle
    (so short docs still participate).
    """
    toks = tokens_col(F.col("text"))
    grams = F.when(
        F.size(toks) >= n, _gram_chain(toks, n)
    ).otherwise(F.array(F.array_join(toks, "_")))
    return (
        documents.select(
            "doc_id", *carry, F.explode(F.array_distinct(grams)).alias("shingle")
        )
        .where(F.col("shingle") != "")
    )


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3, sample_mod: int = 17) -> DataFrame:
    """All-pairs Jaccard over a deterministic doc_id sample (oracle path)."""
    sh = shingles(documents.where(F.pmod(F.col("doc_id"), F.lit(sample_mod)) == 0), n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 5
            ).alias("jaccard"),
        )
    )


def _xor_constants(k: int) -> list:
    """Deterministic 60-bit XOR family constants: X_i = md5('seed:i')[:15].
    One md5 per SHINGLE total (not per shingle x seed): h_i = h0 XOR X_i —
    16x fewer hashes than seeding the digest, same oracle-exactness."""
    import hashlib

    return [int(hashlib.md5(f"seed:{i}".encode()).hexdigest()[:15], 16) for i in range(k)]


def minhash_signatures(documents: DataFrame, n: int = 3, k: int = N_MINHASH) -> DataFrame:
    """(doc_id, m0..m{k-1}) — min over shingles of (h0(shingle) XOR X_i),
    computed as k aggregates in ONE pass (no row-multiplying seed explode;
    map-side partial min makes this shuffle a few long-ints per doc)."""
    sh = shingles(documents, n)
    h0 = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("long")
    hashed = sh.select("doc_id", h0.alias("h0"))
    xs = _xor_constants(k)
    return hashed.groupBy("doc_id").agg(
        *[F.min(F.expr(f"h0 ^ {x}L")).alias(f"m{i}") for i, x in enumerate(xs)]
    )


def band_rows(
    frame: DataFrame, keys: list, id_col: str = "doc_id", carry: tuple = ()
) -> DataFrame:
    """(id_col, *carry, band, bkey) — one row per (row, band), band ``b``
    keyed by the column ``keys[b]``: the ONE band explode behind
    ``lsh_bands``, ``simhash_bands`` and ``similarity.lsh_bands_multi``."""
    bk = F.explode(
        F.array(*[F.struct(F.lit(b).alias("band"), key.alias("bkey")) for b, key in enumerate(keys)])
    ).alias("bk")
    return frame.select(id_col, *carry, bk).select(
        id_col, *carry, F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )


def lsh_bands(
    documents: DataFrame, n: int = 3, k: int = N_MINHASH, band_size: int = BAND_SIZE
) -> DataFrame:
    """(doc_id, band, bkey) — one row per (doc, band); bkey is the md5 of
    the band's ``band_size`` comma-joined signature values."""
    m = [F.col(f"m{i}").cast("string") for i in range(k)]
    keys = [
        F.md5(F.concat_ws(",", *m[b * band_size : (b + 1) * band_size]))
        for b in range(k // band_size)
    ]
    return band_rows(minhash_signatures(documents, n, k), keys)


def bucket_stats(bands: DataFrame, max_bucket: int) -> DataFrame:
    """Per-band bucket accounting of a (band, bkey) list — (band,
    n_buckets, n_docs, n_hot_buckets, n_docs_in_hot): what the hot-bucket
    cap of ``bucket_join`` drops, reported so capped coverage is never
    silent.  The one body of ``lsh_bucket_stats`` and
    ``simhash_bucket_stats``."""
    per_bucket = bands.groupBy("band", "bkey").agg(F.count("*").alias("bsz"))
    hot = F.col("bsz") > max_bucket
    return per_bucket.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.sum("bsz").alias("n_docs"),
        F.sum(F.when(hot, 1).otherwise(0)).alias("n_hot_buckets"),
        F.sum(F.when(hot, F.col("bsz")).otherwise(0)).alias("n_docs_in_hot"),
    )


def lsh_bucket_stats(
    documents: DataFrame,
    n: int = 3,
    k: int = N_MINHASH,
    band_size: int = BAND_SIZE,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """``bucket_stats`` of the MinHash bands — report this next to dedup
    output so what ``minhash_lsh_pairs``' cap drops is visible."""
    return bucket_stats(lsh_bands(documents, n, k, band_size), max_bucket)


def cap_hot_buckets(bands: DataFrame, keys: list, max_bucket: int) -> DataFrame:
    """Drop every row whose bucket (the ``keys`` tuple) holds more than
    ``max_bucket`` members — the ONE hot-bucket cap, applied by
    ``bucket_join`` for every banded candidate path.

    Shape: groupBy(keys) + inner join-back against the small-bucket set —
    NOT ``count(*) OVER (PARTITION BY keys)``: the 10^8-member bucket the
    cap defends against would first have to materialize inside ONE
    unsplittable window task, while the groupBy gets map-side partial
    counts and the join is AQE-skew-splittable (r5 verdict #2).  Identical
    semantics; the map-side band computation runs twice (cheap,
    embarrassingly parallel) instead of persisting the exploded bands of
    the whole corpus."""
    small = (
        bands.groupBy(*keys)
        .agg(F.count("*").alias("_bsz"))
        .where(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )
    return bands.join(small, keys)


def bucket_join(
    bands: DataFrame,
    keys: list,
    max_bucket: int,
    id_col: str = "doc_id",
    carry: tuple = (),
) -> DataFrame:
    """(id_a, id_b, *<c>_a, *<c>_b for c in carry) — one row per bucket two
    rows share, id_a < id_b, after ``cap_hot_buckets`` on ``keys``.  The
    equi-keys come first and the id order last, so every caller's plan
    keeps the same exchanges; callers ``distinct()`` or count the rows."""
    capped = cap_hot_buckets(bands, keys, max_bucket)
    a, b = capped.alias("a"), capped.alias("b")
    on = [F.col(f"a.{key}") == F.col(f"b.{key}") for key in keys]
    return a.join(b, on + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for s in ("a", "b") for c in carry],
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    k: int = N_MINHASH,
    band_size: int = BAND_SIZE,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    Hot-bucket guard (the 100 TB failure mode): a band bucket with M members
    emits M(M-1)/2 pairs, and boilerplate-heavy corpora create giant buckets
    exactly where dedup matters.  Buckets with > ``max_bucket`` docs are
    SKIPPED in that band; truly identical texts still collapse via
    ``exact_dedup``, and near-dup clusters bigger than the cap still link
    through their less-crowded bands.  Use ``lsh_bucket_stats`` to report
    what the cap dropped.  The DuckDB oracle mirrors the cap.  The cap
    itself is the shared skew-safe ``cap_hot_buckets`` (see its docstring
    for the groupBy-vs-window rationale).

    Persist note (r7, interleaved A/B): persisting the signature frame to
    avoid the four lazy references (cap count side, cap join-back, pair
    sides a/b) was measured ~2x SLOWER at sf0.1 — ReuseExchange already
    dedupes the identical band subtrees behind one shuffle, so the pin
    only added a materialization job + cache traffic.  The recompute-free
    shape is the Exchange reuse, not a cache.
    """
    bands = lsh_bands(documents, n, k, band_size)
    return bucket_join(bands, ["band", "bkey"], max_bucket).distinct()


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    *,
    scope: RunScope,
) -> DataFrame:
    """(doc_id, cluster_id) — min-id connected components over candidate
    pairs; keeper = the row with doc_id == cluster_id.

    Min-label propagation WITH pointer doubling: each iteration takes the
    min over (own label, neighbors' labels, label-of-label).  The shortcut
    join halves remaining path lengths, so convergence is O(log diameter)
    iterations instead of O(diameter) — the lever that matters when a
    near-dup chain is long (clique-ish components still converge in 2-3).
    Each iteration is two shuffle joins + one groupBy — the standard
    DataFrame CC shape at 10^9 nodes.  Iterates UNTIL NO LABEL CHANGES
    (checked per iteration), capped at ``max_iter`` with a loud error
    rather than silently-wrong clusters.

    Every iteration's labels are materialized to cut the iterative lineage
    (``RunScope.truncate``: parquet under the scope's work dir on a
    cluster, so losing an executor mid-iteration recomputes from the last
    table instead of killing the job).  The iteration tables live in a
    nested scope that is closed when the loop ends: after convergence only
    the final labels remain in ``scope``; a non-convergence raise leaves
    nothing.  ``scope`` records the iteration count and convergence.
    """
    spark = nodes.sparkSession
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    labels = nodes.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    with RunScope(spark, scope.run_dir) as iters:
        # materialize the (small) edge list once: every iteration joins
        # against it, and leaving it lazy would re-run the upstream
        # candidate pipeline (e.g. the whole MinHash-LSH) once per iteration
        edges = iters.truncate(edges, "cc-edges")
        for it in range(max_iter):
            neigh = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nlabel"))
            )
            # pointer doubling: label-of-label shortcut halves path lengths
            parents = labels.select(
                F.col("node").alias("p_node"), F.col("label").alias("p_label")
            )
            # carry the old label through so convergence detection is a
            # column filter on the SAME frame, not an extra full join
            stepped = (
                labels.join(neigh, labels.node == neigh.src, "left")
                .join(parents, labels.label == parents.p_node, "left")
                .select(
                    "node",
                    F.col("label").alias("old_label"),
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nlabel"), F.col("label")),
                        F.coalesce(F.col("p_label"), F.col("label")),
                    ).alias("label"),
                )
            )
            stepped = iters.truncate(stepped, "cc-iter")
            changed = stepped.where(F.col("old_label") != F.col("label")).limit(1).count()
            labels = stepped.select("node", "label")
            if changed == 0:
                scope.note("connected_components", iterations=it + 1, converged=True)
                return scope.truncate(
                    labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id")),
                    "cc-final",
                )
    scope.note("connected_components", iterations=max_iter, converged=False)
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")


def dedup_clusters(documents: DataFrame, *, scope: RunScope) -> DataFrame:
    """Near-dup clusters over the MinHash-LSH candidate pairs: every doc
    labeled with its component's min doc_id; keeper = doc_id == cluster_id.
    The CC iterations run in ``scope`` (see connected_components)."""
    pairs = minhash_lsh_pairs(documents)
    cc = connected_components(documents.select("doc_id"), pairs, scope=scope)
    return cc.withColumn("is_keeper", (F.col("doc_id") == F.col("cluster_id")))


def simhash(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over tokens (counted, not distinct), 32- or 64-bit.

    One token explode and ONE groupBy(doc_id) computing all ``bits``
    sign-sums as conditional-sum aggregates — no bits-x row multiplication;
    map-side partial aggregation ships ``bits`` longs per doc across the
    shuffle.  Packing the sums into the hash is a plain column expression.
    Exactly SQL-expressible (same DuckDB oracle).

    Token bits come from md5: ``lo`` = first 8 hex chars, ``hi`` = chars
    9-16 — so the 64-bit hash's low 32 bit-sums equal the 32-bit variant's.
    Bit 63 of the packed hash is the BIGINT sign bit: its weight is the
    literal ``-2^63`` (signed two's complement, identical in Spark LONG and
    DuckDB BIGINT), which keeps every intermediate sum in signed-64 range.
    """
    if bits not in (32, 64):
        raise ValueError(f"simhash bits must be 32 or 64, got {bits}")
    toks = documents.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    md5c = F.md5(F.col("tok"))
    cols = [F.conv(F.substring(md5c, 1, 8), 16, 10).cast("long").alias("lo")]
    if bits > 32:
        cols.append(F.conv(F.substring(md5c, 9, 8), 16, 10).cast("long").alias("hi"))
    hashed = toks.select("doc_id", *cols)

    def bit(b: int) -> str:
        return f"(lo >> {b}) & 1" if b < 32 else f"(hi >> {b - 32}) & 1"

    sums = hashed.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(CASE WHEN {bit(b)} = 1 THEN 1 ELSE -1 END)").alias(f"s{b}")
            for b in range(bits)
        ]
    )
    terms = [
        f"(CASE WHEN s{b} > 0 THEN {1 << b}L ELSE 0L END)" for b in range(min(bits, 63))
    ]
    if bits == 64:
        terms.append("(CASE WHEN s63 > 0 THEN (-9223372036854775807L - 1L) ELSE 0L END)")
    return sums.select("doc_id", F.expr(" + ".join(terms)).alias("simhash"))


SIMHASH_MAX_HAMMING = 3
SIMHASH_MAX_BUCKET = 1024


def simhash_bands(
    documents: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(doc_id, simhash, band, bkey) — pigeonhole bands of the simhash.

    ``max_hamming + 1`` bands of ``bits // (max_hamming + 1)`` bits each;
    bkey = (simhash >> band_bits*b) & mask.  The mask after the shift makes
    the key identical under arithmetic or logical shift semantics, so the
    sign bit of a 64-bit hash needs no special-casing in either engine.
    """
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    keys = [
        F.shiftright(F.col("simhash"), band_bits * b).bitwiseAND(F.lit(mask))
        for b in range(n_bands)
    ]
    return band_rows(simhash(documents, bits), keys, carry=("simhash",))


def simhash_bucket_stats(
    documents: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bits: int = SIMHASH_BITS,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """``bucket_stats`` of the simhash pigeonhole bands (r3 verdict #3):
    what ``simhash_pairs``' hot-bucket cap drops must be driver-visible,
    never silent."""
    return bucket_stats(simhash_bands(documents, max_hamming, bits), max_bucket)


def simhash_pairs(
    documents: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bits: int = SIMHASH_BITS,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs by SimHash: (id_a, id_b, hamming <= max_hamming).

    Pigeonhole banding: split the hash into ``max_hamming + 1`` bands — two
    hashes within ``max_hamming`` bits MUST agree exactly on at least one
    band, so candidates = same (band, key) pairs, confirmed by
    ``bit_count(xor)``.  Recall is exact UP TO the hot-bucket cap (the only
    probabilistic-free claim this operator makes): buckets above
    ``max_bucket`` are skipped per band under the same no-silent-caps
    contract as ``minhash_lsh_pairs`` — report ``simhash_bucket_stats``
    alongside so the drop is visible.

    Scale note: band keys carry ``bits / (max_hamming + 1)`` bits.  The
    production configuration is ``bits=64`` => 16-bit band keys (65,536
    buckets per band); the 32-bit variant's 8-bit keys crowd at corpus
    scale and survive only as the compact twin.  Both widths are bit-exact
    against the DuckDB oracle (signed-BIGINT xor / bit_count / shift
    agree across engines).

    The cap is the shared skew-safe ``cap_hot_buckets`` (groupBy +
    join-back, never a window over the hot bucket key).  Persist note:
    same interleaved-A/B result as minhash_lsh_pairs — pinning the
    (doc_id, simhash) frame measured ~1.8x slower than letting
    ReuseExchange dedupe the band subtrees.
    """
    bands = simhash_bands(documents, max_hamming, bits)
    cand = bucket_join(bands, ["band", "bkey"], max_bucket, carry=("simhash",)).distinct()
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        cand.where(ham <= max_hamming)
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
    )


def _chunk_cols(chunk_tokens: int):
    """(chunks array, tail) columns, aliased ``chunks``/``tail`` — the ONE
    chunking spec of the three line-dedup operators (and the SQL oracles):
    disjoint ``chunk_tokens``-token windows over the normalized token
    array, leftover tokens as the tail.  The ``when`` guard is
    load-bearing: Spark's sequence(0, n-1) with n <= 0 generates a
    DESCENDING range ([0, -1]), not an empty array.  ``line_dedup``
    explodes the chunks expression itself: exploding a projected
    ``chunks`` column makes Spark infer a ``size(chunks) > 0`` filter below
    the projection, which computes the chunking twice per document."""
    toks = tokens_col(F.col("text"))
    n_chunks = F.floor(F.size(toks) / chunk_tokens).cast("int")
    chunks = F.when(
        n_chunks >= 1,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tail = F.array_join(
        F.slice(toks, n_chunks * chunk_tokens + 1, F.size(toks)), " "
    )
    return chunks.alias("chunks"), tail.alias("tail")


def line_dedup_within_page(
    documents: DataFrame, chunk_tokens: int = 10
) -> DataFrame:
    """Within-PAGE repeated-chunk removal (the other half of the C4 line
    rules: cross-document boilerplate is ``line_dedup_clean``, repeated
    menus/footers INSIDE one page is this): keep the first occurrence of
    each chunk within a document, preserve order, re-append the sub-chunk
    tail.  Returns (doc_id, n_chunks, n_kept, text_clean) — the same
    contract as ``line_dedup_clean`` (shared ``_chunk_cols`` spec, same
    normalized-space rebuild), so the two transforms compose in either
    order.

    Scale shape: MAP-ONLY, zero shuffle — the dedup set is per-row array
    logic (``array_distinct`` preserves first-occurrence order in Spark,
    pytest-pinned; the oracle uses the order-explicit first-index filter
    because DuckDB's list_distinct does NOT preserve order).  Runs
    strictly before the corpus-wide election at 100 TB: it shrinks the
    exploded chunk volume that election must shuffle."""
    ded = F.array_distinct(F.col("chunks"))
    return documents.select("doc_id", *_chunk_cols(chunk_tokens)).select(
        "doc_id",
        F.size("chunks").cast("int").alias("n_chunks"),
        F.size(ded).cast("int").alias("n_kept"),
        F.trim(
            F.concat_ws(" ", F.array_join(ded, " "), F.col("tail"))
        ).alias("text_clean"),
    )


def line_dedup_clean(documents: DataFrame, chunk_tokens: int = 10) -> DataFrame:
    """The C4 cleaning TRANSFORM (line_dedup reports the signal; this
    removes the duplication): per document, drop every text chunk that
    already occurred earlier in the corpus — the globally FIRST occurrence
    (ordered by (doc_id, chunk index)) survives, all later copies are cut.

    Returns (doc_id, n_chunks, n_kept, text_clean) for every doc — docs
    shorter than one chunk pass through unchanged (0 chunks, tail only).
    ``text_clean`` is the kept chunks in original order plus the
    sub-chunk tail, re-joined with single spaces; it lives in the
    token-normalized space (lowercased, whitespace-collapsed — the same
    normalization every dedup operator here shares).

    Scale shape (deliberately the line_dedup groupBy+join-back shape, NOT
    a window): the winner per chunk digest is ``min(struct(doc_id, idx))``
    via ONE groupBy on the 16-byte md5 key — partial min combines
    map-side, so a boilerplate chunk shared by 10^8 docs reduces inside
    each task instead of sorting in one window partition (window
    partitions cannot be split; AQE's skew mitigation applies to
    sort-merge JOINS, which is what the winner join-back is, not to
    windows).  Chunkless docs never enter the election or the join —
    they re-attach at the per-doc rebuild, so the degenerate NULL key
    creates no hotspot.  The winner rule is deterministic on any
    partitioning.
    """
    ex = documents.select("doc_id", *_chunk_cols(chunk_tokens)).select(
        "doc_id", "tail", F.posexplode_outer("chunks").alias("idx", "chunk")
    )
    chunked = ex.where(F.col("chunk").isNotNull()).withColumn(
        "_ck", F.md5(F.col("chunk"))
    )
    winners = chunked.groupBy("_ck").agg(
        F.min(F.struct("doc_id", "idx")).alias("_w")
    )
    marked = (
        chunked.join(winners, "_ck")
        .withColumn(
            "_keep",
            (F.col("doc_id") == F.col("_w.doc_id"))
            & (F.col("idx") == F.col("_w.idx")),
        )
        .select("doc_id", "tail", "idx", "chunk", "_keep")
    )
    # chunkless docs (posexplode_outer's NULL row) skip the election and
    # re-attach here so they survive with tail-only text
    ranked = marked.unionByName(
        ex.where(F.col("chunk").isNull()).withColumn("_keep", F.lit(True))
    )
    kept_arr = F.array_sort(
        F.collect_list(
            F.when(
                F.col("_keep") & F.col("chunk").isNotNull(),
                F.struct(F.col("idx"), F.col("chunk")),
            )
        )
    )
    return (
        ranked.groupBy("doc_id", "tail")
        .agg(
            F.sum(F.when(F.col("chunk").isNotNull(), 1).otherwise(0)).alias(
                "n_chunks"
            ),
            F.sum(
                F.when(F.col("_keep") & F.col("chunk").isNotNull(), 1).otherwise(0)
            ).alias("n_kept"),
            kept_arr.alias("_kept"),
        )
        .select(
            "doc_id",
            F.col("n_chunks").cast("int").alias("n_chunks"),
            F.col("n_kept").cast("int").alias("n_kept"),
            F.trim(
                F.concat_ws(
                    " ",
                    F.array_join(
                        F.transform(F.col("_kept"), lambda s: s["chunk"]), " "
                    ),
                    F.col("tail"),
                )
            ).alias("text_clean"),
        )
        .orderBy("doc_id")
    )


BLOOM_M_BITS = 1 << 16  # filter width (bits); false-positive knob
BLOOM_K = 4             # hash functions


def _bloom_pos_sql(i: int, m: int = BLOOM_M_BITS, fp: str = "fp") -> str:
    """The i-th bit position of a fingerprint, as a SQL expression string:
    pos_i = int(md5(fp || ':' || i)[:5], 16) % m — 20 hex-derived bits per
    hash, md5-based so the DuckDB oracle computes identical positions.
    (Strings, not Column objects: the shift functions' bit-count argument
    is expression-valued, which the Python shiftleft/shiftright API does
    not accept.)"""
    return (
        f"pmod(cast(conv(substring(md5(concat({fp}, ':{i}')), 1, 5), 16, 10) "
        f"as bigint), {m})"
    )


def bloom_dedup(
    seen: DataFrame,
    new: DataFrame,
    m: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Incremental exact-dedup of a NEW batch against a SEEN corpus via a
    Bloom prefilter — (doc_id, status) with status in {'new', 'dup',
    'false_positive'}.

    The production shape for "dedupe this crawl drop against everything
    ever ingested": joining 10^9 new rows against 10^12 seen fingerprints
    shuffles both sides, but almost all new rows are NOT dups — a Bloom
    filter over the seen fingerprints turns those into a map-only reject.

      1. SEEN pass: fingerprint (md5 of normalized text, the exact_dedup
         spec) -> k bit positions -> bitmap words via ONE groupBy(word)
         with map-side bit_or partials; at most m/64 rows cross the
         shuffle and reach the driver (m is a CONFIG CONSTANT — 8 KiB at
         the default 2^16 bits — independent of corpus size, the same
         bounded-collect contract as the IVF trainer).
      2. NEW pass: map-only membership test against the broadcast-literal
         bitmap — rows with ANY unset bit are definitely 'new' and never
         shuffle.
      3. Only the maybe-dup remainder (all k bits set) is exactly
         confirmed — and the SEEN corpus is never shuffled for it: the
         tiny maybe-fingerprint set BROADCASTS into a map-only semi-join
         over seen (which fingerprints really exist), and the resulting
         hit list (<= maybe set) broadcasts back onto the maybe rows.
         'dup' if the fingerprint truly exists, else 'false_positive'
         (the Bloom trade made VISIBLE, not silently misclassified —
         no-silent-caps rule).

    Sizing: false-positive rate ~ (1 - e^(-k*n/m))^k; the default
    (m=65536, k=4) is sized for the sf test corpora — production uses
    m ~ 10 bits/seen-doc (e.g. 2^43 bits ~ 1 TiB distributed as an
    Iceberg-stored bitmap, or per-partition filters); ``m`` must be a
    multiple of 64 (bitmap words).  The point the operator pins is the
    SHAPE: constant-size broadcast, map-only reject path, exact confirm
    only for the tiny maybe set.  Fully SQL-expressible: the oracle
    computes identical md5 positions and uses set-membership (EXISTS)
    semantics, which equals the bitmap test.

    NULL text fingerprints as the empty string (coalesce before the
    shared norm spec): a NULL-text doc gets a real status instead of a
    NULL fingerprint that would crash the bitmap build on the seen side
    and silently drop the doc on the new side.
    """
    from .textstats import norm_text_col

    if m % 64:
        raise ValueError(f"m must be a multiple of 64 (bitmap words), got {m}")
    norm = norm_text_col(F.coalesce(F.col("text"), F.lit("")))
    seen_fp = seen.select(F.md5(norm).alias("fp"))
    new_fp = new.select("doc_id", F.md5(norm).alias("fp"))

    n_words = m // 64
    pos_arr = F.expr(
        "array(" + ",".join(_bloom_pos_sql(i, m) for i in range(k)) + ")"
    )
    seen_bits = (
        seen_fp.select(F.explode(pos_arr).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
    )
    words = [0] * n_words
    for r in seen_bits.collect():  # <= m/64 rows, corpus-size-independent
        words[r.w] = r.bits
    bitmap = "array(" + ",".join(f"{w}L" for w in words) + ")"

    maybe = " AND ".join(
        f"((shiftright(element_at(_bm, cast(({_bloom_pos_sql(i, m)}) / 64 as int) + 1), "
        f"cast(pmod({_bloom_pos_sql(i, m)}, 64) as int)) & 1L) = 1L)"
        for i in range(k)
    )
    probed = (
        new_fp.withColumn("_bm", F.expr(bitmap))
        .withColumn("_maybe", F.expr(maybe))
        .drop("_bm")
    )

    maybe_rows = probed.where(F.col("_maybe"))
    maybe_fps = maybe_rows.select("fp").distinct()
    # seen is the probe side of a semi-join against the BROADCAST maybe
    # set — map-only over the big corpus; distinct() bounds the hit list
    # by the maybe set's size
    hits = (
        seen_fp.join(F.broadcast(maybe_fps), "fp", "left_semi")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    confirmed = maybe_rows.join(F.broadcast(hits), "fp", "left")
    return (
        probed.where(~F.col("_maybe")).select("doc_id", F.lit("new").alias("status"))
        .unionByName(
            confirmed.select(
                "doc_id",
                F.when(F.col("_hit"), F.lit("dup"))
                .otherwise(F.lit("false_positive"))
                .alias("status"),
            )
        )
        .orderBy("doc_id")
    )


def line_dedup(
    documents: DataFrame,
    chunk_tokens: int = 10,
) -> DataFrame:
    """C4-style duplicated-line signal: per document, the fraction of its
    text chunks that also occur verbatim in ANOTHER document.

    C4/CCNet dedup at line granularity — a line seen elsewhere in the
    corpus is boilerplate (headers, navigation, license blurbs) and is
    removed before training.  The documents table carries no newlines, so
    disjoint ``chunk_tokens``-token windows stand in for lines; the
    mechanics (explode -> global count -> join back -> per-doc ratio) are
    exactly the two-pass line-dedup shape.

    Returns (doc_id, n_chunks, n_dup_chunks, dup_ratio) — docs shorter
    than one chunk are absent (no chunks, no signal).

    Scale shape: one explode (rows x ~n_tokens/chunk_tokens), ONE groupBy
    on a 128-bit MD5 DIGEST of the chunk (r4 verdict #4: the shuffle key
    is 16 bytes regardless of chunk length — raw boilerplate chunks are
    100s of bytes and dominate shuffle volume; md5 collisions are
    negligible at 2^64 chunks and the DuckDB oracle computes the identical
    digest, so exactness is preserved), one join back on the same key —
    the counts side arrives pre-partitioned by the groupBy, so only the
    exploded side shuffles for the join — then a per-doc groupBy.

    Double explode: the plan explodes the corpus twice (once feeding the
    counts, once as the join probe — two Generate nodes in the pinned
    plan); re-scanning columnar parquet is usually cheaper at 100 TB than
    materializing an exploded corpus in executor storage.
    Skew: a boilerplate chunk shared by 10^8 docs lands its join-back rows
    in one partition — exactly the case AQE's skew-join splitting handles
    (spark.sql.adaptive.skewJoin.enabled, on by default); the aggregate
    side is immune (partial combine on (chunk_key, doc_id)).
    """
    ex = documents.select(
        "doc_id", F.explode(_chunk_cols(chunk_tokens)[0]).alias("chunk")
    ).select("doc_id", F.md5(F.col("chunk")).alias("chunk_key"))
    counts = ex.groupBy("chunk_key").agg(
        F.countDistinct("doc_id").alias("docs_with")
    )
    return (
        ex.join(counts, "chunk_key")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("docs_with") > 1, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6).alias(
                "dup_ratio"
            ),
        )
        .orderBy("doc_id")
    )


# --- exact-substring dedup (anchor k-grams) ---------------------------------
#
# The dedup mode MinHash misses: two documents sharing one long VERBATIM
# span (a quoted article inside an otherwise-unrelated page) have low
# whole-document Jaccard, so no LSH band collides — but the span itself is
# exactly what substring dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better") removes with a suffix array.  A
# distributed suffix array is not a Spark-shaped structure; the standard
# scale substitute is CONTENT-DEFINED anchor sampling: every k-token gram
# whose hash lands in a fixed residue class is an anchor, so any shared
# span of >= ~k * anchor_mod tokens contains a shared anchor with high
# probability REGARDLESS of its byte offset in either document (offset
# shifts do not move content-defined anchors — the same robustness
# argument as rsync/rolling-hash chunking).

SUBSTR_GRAM = 8          # anchor gram length (tokens)
SUBSTR_ANCHOR_MOD = 4    # keep grams with hash32 % mod == 0 (1/mod sampling)
SUBSTR_MIN_ANCHORS = 2   # pair must share this many distinct anchors
SUBSTR_MAX_BUCKET = 64   # hot-anchor cap (boilerplate spans)


def substring_anchors(
    documents: DataFrame,
    k: int = SUBSTR_GRAM,
    anchor_mod: int = SUBSTR_ANCHOR_MOD,
) -> DataFrame:
    """(doc_id, anchor) — distinct content-defined anchor k-grams.

    Grams are built with the shifted-slice zip_with chain (one pass,
    O(tokens) — see ``shingles``); an anchor is the md5 of the
    '_'-joined gram, kept iff its first-32-bits integer lands in residue
    0 mod ``anchor_mod`` (deterministic 1/anchor_mod sampling of gram
    POSITIONS by CONTENT, so both copies of a shared span elect the same
    anchors).  Docs with < k tokens emit nothing — a span shorter than
    one gram is below the detection floor by construction (deliberately
    NOT the ``shingles`` whole-doc fallback: exact short docs are
    ``exact_dedup``'s job).

    Map-only until the explode; ~|tokens| / anchor_mod rows of 32-byte
    keys per document reach the shuffle — the 100 TB knob is
    ``anchor_mod`` (bytes shuffled scale as 1/mod, detection floor as
    ~k * mod tokens).
    """
    toks = tokens_col(F.col("text"))
    grams = F.when(
        F.size(toks) >= k, _gram_chain(toks, k)
    ).otherwise(F.array().cast("array<string>"))
    h32 = F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10).cast("long")
    return (
        documents.select(
            "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
        )
        .where(F.pmod(h32, F.lit(anchor_mod)) == 0)
        .select("doc_id", F.md5(F.col("gram")).alias("anchor"))
    )


def substring_dedup_pairs(
    documents: DataFrame,
    k: int = SUBSTR_GRAM,
    anchor_mod: int = SUBSTR_ANCHOR_MOD,
    min_anchors: int = SUBSTR_MIN_ANCHORS,
    max_bucket: int = SUBSTR_MAX_BUCKET,
) -> DataFrame:
    """(id_a, id_b, n_shared) — document pairs sharing >= ``min_anchors``
    distinct content-defined anchors: exact-substring dup candidates.

    Shape mirrors ``minhash_lsh_pairs``: anchors -> shared skew-safe
    ``cap_hot_buckets`` on the anchor key (a boilerplate span present in
    10^6 docs is a hot anchor; capped buckets are skipped, the span
    still links through its rarer neighboring anchors) -> self-equi-join
    on anchor -> groupBy pair counting shared anchors (per-doc anchors
    are distinct, so count(*) IS the distinct-anchor count).  Pair
    output is bounded by max_bucket^2 per anchor; requiring
    ``min_anchors`` >= 2 suppresses single-gram coincidences.
    """
    anchors = substring_anchors(documents, k, anchor_mod)
    return (
        bucket_join(anchors, ["anchor"], max_bucket)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("int").alias("n_shared"))
        .where(F.col("n_shared") >= min_anchors)
    )
