"""Hand-derived and property checks for the shared md5-integer hash spec
and the KMV cardinality sketch built on it.

Determinism is the operator's whole claim, so checks are ==-level: a
pure-Python twin over hashlib (same 60-bit md5 prefix, same integer
estimator), the exact small-cardinality path, mergeability, and
partitioning invariance.  Cross-engine value identity is separately
covered by the generated DuckDB oracle in test_oracle_parity.
"""

import hashlib

from ocr_table_extractor_to_csv_spark.operators.sketches import (
    HASH_SPACE,
    KMV_K,
    kmv_distinct,
)


def test_md5_int_helpers_equal_hashlib(spark):
    """``md5_int_col`` (Spark), ``md5_int`` (driver) and the oracles'
    ``_md5_int_sql`` (DuckDB) all equal int(md5(s).hexdigest()[a:b], 16)
    on random strings at every slice the operators take, and the uniform
    draws of both engines equal md5_int(prefix || doc_id, 1, 8) / 2^32."""
    import random
    import string

    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from ocr_table_extractor_to_csv_spark.operators.textstats import (
        md5_int,
        md5_int_col,
        uniform_col,
    )

    rng = random.Random(18)
    strings = ["", "a", "ñandú 10€"] + [
        "".join(rng.choice(string.printable) for _ in range(rng.randint(1, 40)))
        for _ in range(200)
    ]
    rows = list(enumerate(strings))
    slices = [(1, 2), (1, 5), (1, 8), (9, 8), (1, 15)]
    want = {
        i: [int(hashlib.md5(s.encode()).hexdigest()[a - 1 : a - 1 + n], 16) for a, n in slices]
        for i, s in rows
    }
    assert {i: [md5_int(s, a, n) for a, n in slices] for i, s in rows} == want

    df = spark.createDataFrame(rows, "doc_id long, s string")
    cols = [md5_int_col(F.col("s"), a, n).alias(f"h{j}") for j, (a, n) in enumerate(slices)]
    got = df.select("doc_id", *cols, uniform_col("mix:").alias("u")).collect()
    assert {r[0]: list(r[1:-1]) for r in got} == want

    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = ", ".join(entry_mod._md5_int_sql("s", a, n) for a, n in slices)
    ddb = con.sql(f"SELECT doc_id, {sql}, {entry_mod._uniform_sql('mix:')} FROM t").fetchall()
    assert {r[0]: list(r[1:-1]) for r in ddb} == want

    u = {i: md5_int(f"mix:{i}", 1, 8) / 2**32 for i, _ in rows}
    assert {r[0]: r[-1] for r in got} == u == {r[0]: r[-1] for r in ddb}


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _shingles(text: str, n=3):
    toks = text.lower().strip().split()
    if len(toks) >= n:
        grams = {"_".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    else:
        grams = {"_".join(toks)}
    return {g for g in grams if g}


def _py_kmv(texts, k=KMV_K):
    hs = sorted({_h60(s) for t in texts for s in _shingles(t)})
    if len(hs) < k:
        return len(hs), None, len(hs)
    kth = hs[k - 1]
    return k, kth, (k - 1) * (HASH_SPACE // kth)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_small_cardinality_is_exact_and_kth_is_null(spark):
    # 2 docs, 3 distinct shingles total ("a b c d" and "c d e" overlap none)
    rows = [(0, "s1", "a b c d"), (1, "s1", "c d e")]
    [r] = kmv_distinct(_docs(spark, rows)).collect()
    want = _shingles("a b c d") | _shingles("c d e")
    assert (r["n_sketch"], r["kth_min"], r["distinct_est"]) == (
        len(want),
        None,
        len(want),
    )


def test_full_sketch_matches_python_twin_exactly(spark):
    # >> KMV_K distinct shingles in one source, a second source stays small
    texts = [" ".join(f"w{(i * 7 + j) % 211}" for j in range(40)) for i in range(60)]
    rows = [(i, "big", t) for i, t in enumerate(texts)] + [
        (999, "tiny", "x y z")
    ]
    got = {r["source"]: r for r in kmv_distinct(_docs(spark, rows)).collect()}
    n, kth, est = _py_kmv(texts)
    assert n == KMV_K and kth is not None
    assert (
        got["big"]["n_sketch"],
        got["big"]["kth_min"],
        got["big"]["distinct_est"],
    ) == (n, kth, est)
    assert got["tiny"]["distinct_est"] == len(_shingles("x y z"))
    # estimator sanity on this fixed input: within 35% of truth (KMV
    # stderr ~ 1/sqrt(k-2) ~= 13%; deterministic data, so not flaky)
    true = len({s for t in texts for s in _shingles(t)})
    assert true > KMV_K and abs(est - true) / true < 0.35


def test_partitioning_invariance_bit_exact(spark):
    rows = [
        (i, f"s{i % 3}", " ".join(f"t{(i * 13 + j) % 97}" for j in range(20)))
        for i in range(90)
    ]
    df = _docs(spark, rows)
    key = lambda r: (r["source"], r["n_sketch"], r["kth_min"], r["distinct_est"])  # noqa: E731
    a = sorted(map(key, kmv_distinct(df.coalesce(1)).collect()))
    b = sorted(map(key, kmv_distinct(df.repartition(7, "doc_id")).collect()))
    assert a == b


def test_mergeability_union_equals_merged_sketch(spark):
    # min-k over A union B == min-k over (min-k(A) union min-k(B)):
    # computed on two halves, merged in Python, equals the one-shot sketch
    texts = [" ".join(f"m{(i * 11 + j) % 503}" for j in range(30)) for i in range(80)]
    rows = [(i, "s", t) for i, t in enumerate(texts)]
    [whole] = kmv_distinct(_docs(spark, rows)).collect()
    half_hashes = []
    for part in (rows[:40], rows[40:]):
        hs = sorted({_h60(s) for _i, _src, t in part for s in _shingles(t)})
        half_hashes.append(hs[:KMV_K])
    merged = sorted(set(half_hashes[0]) | set(half_hashes[1]))[:KMV_K]
    assert whole["n_sketch"] == KMV_K
    assert whole["kth_min"] == merged[KMV_K - 1]
