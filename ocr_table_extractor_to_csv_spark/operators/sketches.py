"""Deterministic cardinality sketches for corpus accounting.

``kmv_distinct`` estimates the number of DISTINCT shingles per source with
a k-minimum-values sketch (Bar-Yossef et al. 2002): keep the k smallest
60-bit shingle hashes; for a uniform hash, the k-th minimum m estimates
the cardinality as ``(k-1) / (m / 2^60)``.  This is the 100 TB answer to
"how much unique text does each source contribute" — the exact count needs
a full distinct over ~1e12 shingle rows, the sketch needs k longs per
source and is MERGEABLE (min-k of a union = min-k of the per-part min-k
unions).

Unlike Spark's ``approx_count_distinct`` (HLL, whose binary registers and
rounding are engine-private), every step here is deterministic and
engine-portable: the hash is the repo-standard 60-bit md5 prefix, the
estimator is INTEGER arithmetic (truncating division agrees across Spark
``div`` / DuckDB ``//`` / Python ``//`` on non-negative operands), so the
sketch is bit-exact on any partitioning and fully oracle-checkable.
No-overflow proof: the k hashes are distinct non-negative ints, so
``kth_min >= k-1`` and ``(k-1) * (2^60 div kth_min) <= 2^60 < 2^63``.

Scale shape: shingle explode is map-only; the ONE real shuffle is the
(source, h) distinct, a groupBy that gets map-side partial dedup (viral
duplicate shingles collapse before the wire).  Min-k then is the
two-phase ``plans.partitioning.salted_min_k`` with salt h mod
``KMV_SALT_MOD``, so no task sorts a whole source's distinct set; the
oracle is the plain ROW_NUMBER()<=k formulation.  Pick the salt ~
distinct_per_source / 1e6 in production.

No reference analogue (the reference has no sketch surface); sibling of
the Bloom filter in ``operators/dedup.py`` — same "constant-size summary
of an unbounded corpus" class, read side instead of write side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.partitioning import salted_min_k
from .dedup import shingles
from .textstats import md5_int_col

KMV_K = 64
KMV_SALT_MOD = 8
HASH_SPACE = 1 << 60  # range of md5_int_col(s, 1, 15)


def kmv_state(documents: DataFrame) -> DataFrame:
    """(source, h) — the sketch STATE: the k smallest distinct 60-bit
    shingle hashes per source (<= k rows/source); ``kmv_stats`` turns it
    into the summary row."""
    sh = shingles(documents, carry=("source",))
    # the one real shuffle: distinct (source, h) — compiles to a
    # HashAggregate pair, so viral duplicates collapse map-side
    d = sh.select("source", md5_int_col(F.col("shingle"), 1, 15).alias("h")).distinct()
    return salted_min_k(d, "source", "h", KMV_K, KMV_SALT_MOD).select("source", "h")


def kmv_stats(state: DataFrame) -> DataFrame:
    """(source, n_sketch, kth_min, distinct_est) from a sketch state.

    * ``n_sketch``: sketch fill (= min(k, true distinct count));
    * ``kth_min``: the k-th smallest hash, NULL while the sketch is not
      full;
    * ``distinct_est``: EXACT count while n_sketch < k (the sketch saw
      every value), else ``(k-1) * (2^60 div kth_min)``.
    """
    k = KMV_K
    agg = state.groupBy("source").agg(
        F.count("*").cast("int").alias("n_sketch"),
        F.max("h").alias("mx"),
    )
    full = F.col("n_sketch") == k
    return agg.select(
        "source",
        "n_sketch",
        F.when(full, F.col("mx")).alias("kth_min"),
        F.when(full, F.expr(f"({k} - 1) * ({HASH_SPACE} div mx)"))
        .otherwise(F.col("n_sketch"))
        .cast("long")
        .alias("distinct_est"),
    )


def kmv_distinct(documents: DataFrame) -> DataFrame:
    """One-shot sketch summary: ``kmv_stats(kmv_state(documents))``."""
    return kmv_stats(kmv_state(documents))
