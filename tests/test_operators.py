"""Operator tests: dedup/similarity math against hand-computed values,
curation and graph plans, and windowed streaming aggregation."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from ocr_table_extractor_to_csv_spark.operators import dedup, similarity
from ocr_table_extractor_to_csv_spark.operators.evaluation import numeric_metrics
from ocr_table_extractor_to_csv_spark.plans.scope import RunScope


def test_bpe_token_count_known_strings(spark):
    """BPE-ish estimator on hand-tokenized strings:
    "it's 42 ok!" -> [it]['s][ 42][ ok][!] = 5; "hello" -> 1; "" -> 0;
    "don't stop" -> [don]['t][ stop] = 3."""
    from ocr_table_extractor_to_csv_spark.operators.textstats import token_count_bpe

    docs = spark.createDataFrame(
        [(1, "it's 42 ok!"), (2, "hello"), (3, ""), (4, "don't stop"),
         (5, "a\x0bb")],  # vertical tab: Java \s vs RE2 \s divergence trap
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_bpe_tokens for r in token_count_bpe(docs).collect()}
    assert got == {1: 5, 2: 1, 3: 0, 4: 3, 5: 2}

    # cross-engine pin on the same strings (incl. the VT case): DuckDB/RE2
    # must count identically to Spark/Java
    import duckdb
    from ocr_table_extractor_to_csv_spark.operators.textstats import BPE_TOKEN_RE

    con = duckdb.connect()
    pat = BPE_TOKEN_RE.replace("'", "''")
    for doc_id, text in [(1, "it's 42 ok!"), (4, "don't stop"), (5, "a\x0bb")]:
        n = con.execute(
            f"SELECT len(regexp_extract_all(lower(?), '{pat}'))", [text]
        ).fetchone()[0]
        assert n == got[doc_id], (doc_id, n, got[doc_id])


def test_exact_dedup_groups(spark):
    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string",
    )
    rows = {r.fp: r for r in dedup.exact_dedup(docs).collect()}
    fp = hashlib.md5(b"hello world").hexdigest()
    assert rows[fp].n_docs == 2 and rows[fp].keeper_id == 1


def test_shingles_zipwith_chain_matches_python_reference(spark, monkeypatch):
    """The zip_with-chain shingle builder must equal the definitional
    Python n-gram construction for n=2..4, including short docs (< n
    tokens emit the full join), duplicate grams (distinct), and empties."""
    texts = [
        (1, "a b c d e"),
        (2, "x y"),            # shorter than n for n>=3
        (3, "w"),              # single token
        (4, ""),               # empty -> no rows
        (5, "p q p q p q"),    # duplicate grams collapse
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    for n in (2, 3, 4):
        monkeypatch.setattr(dedup, "SHINGLE_N", n)
        got = {(r.doc_id, r.shingle) for r in dedup.shingles(docs).collect()}
        want = set()
        for doc_id, text in texts:
            toks = text.split() if text else []
            if not toks:
                grams = [""]
            elif len(toks) >= n:
                grams = ["_".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            else:
                grams = ["_".join(toks)]
            want |= {(doc_id, g) for g in set(grams) if g != ""}
        assert got == want, f"n={n}"


def test_shingles_and_jaccard_identical_docs(spark):
    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (17, "a b c d e f"), (34, "x y z w v u")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs).collect()}
    assert pairs == {(0, 17): 1.0}  # identical docs; disjoint doc shares nothing


def test_minhash_identical_docs_always_pair(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the dog"),
         (2, "the quick brown fox jumps over the dog"),
         (3, "entirely different words appear in this one")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_hot_bucket_capped(spark):
    """A 1,000-doc identical-text cluster must NOT emit ~500k pairs (the
    M^2/2 hot-bucket explosion); genuine small near-dup pairs still link,
    and lsh_bucket_stats accounts for the dropped hot buckets."""
    hot = [(i, "common boilerplate page text repeated everywhere") for i in range(1000)]
    pair = [
        (2001, "a genuinely unique document about alpine marmots and glaciers"),
        (2002, "a genuinely unique document about alpine marmots and glaciers"),
    ]
    docs = spark.createDataFrame(hot + pair, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert (2001, 2002) in pairs
    assert len(pairs) == 1, f"hot bucket leaked {len(pairs) - 1} extra pairs"
    stats = {r.band: r for r in dedup.lsh_bucket_stats(docs).collect()}
    assert all(s.n_hot_buckets >= 1 for s in stats.values())
    assert all(s.n_docs_in_hot == 1000 for s in stats.values())


def test_connected_components_long_path_and_cycle(spark):
    """The convergence loop must handle diameters far beyond the clique-ish
    typical case: a 15-node path (diameter 14), a 3-cycle, and singletons."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 16)] + [(20,), (21,), (22,), (30,)], "doc_id long")
    path = [(i, i + 1) for i in range(1, 15)]
    cycle = [(20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(path + cycle, "id_a long, id_b long")
    with RunScope(spark) as scope:
        cc = {
            r.doc_id: r.cluster_id
            for r in dedup.connected_components(nodes, pairs, scope=scope).collect()
        }
    assert all(cc[i] == 1 for i in range(1, 16))
    assert cc[20] == cc[21] == cc[22] == 20
    assert cc[30] == 30
    # pointer doubling: O(log diameter) rounds, not O(diameter) — the
    # 14-hop path must converge well under 14 iterations
    [fact] = scope.facts["connected_components"]
    assert fact["converged"] and fact["iterations"] <= 7, fact


def test_connected_components_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """With a work dir, CC materializes every iteration as parquet in the
    fault-tolerant store (the 100 TB durability path — localCheckpoint
    dies with an executor): identical labels, only the final labels left
    after convergence, nothing left after a non-convergence raise, and the
    scope's run directory gone once it closes."""
    import os

    import pytest as _pytest

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 7)], "id_a long, id_b long")
    work = str(tmp_path / "work")
    with RunScope(spark, work) as scope:
        cc = {
            r.doc_id: r.cluster_id
            for r in dedup.connected_components(nodes, pairs, scope=scope).collect()
        }
        assert all(cc[i] == 1 for i in range(1, 8))
        written = [
            os.path.relpath(os.path.join(dp, f), scope.run_dir)
            for dp, _dn, fn in os.walk(scope.run_dir) for f in fn
        ]
        assert written, "no durable artifact was written"
        # checkpoint hygiene (r3 advice): every per-iteration table is
        # deleted after convergence — only the final labels parquet survives
        assert all(p.startswith("cc-final-") for p in written), written
        [landed] = scope.facts["landed"]
        assert landed["path"].endswith(".parquet") and "cc-final" in landed["path"]

        # non-convergence must CLEAN UP its iteration tables, not leak
        # max_iter label copies into the fault-tolerant store
        before = set(os.listdir(scope.run_dir))
        with _pytest.raises(RuntimeError, match="did not converge"):
            monkeypatch.setattr(dedup, "CC_MAX_ITER", 0)
            dedup.connected_components(nodes, pairs, scope=scope)
        assert set(os.listdir(scope.run_dir)) == before
        assert scope.facts["connected_components"][-1]["converged"] is False
    assert os.listdir(work) == [], "closed scope left its run directory"


def test_dedup_clusters_keeper_semantics(spark):
    docs = spark.createDataFrame(
        [(5, "the quick brown fox jumps over the dog"),
         (9, "the quick brown fox jumps over the dog"),
         (2, "entirely different words appear in this one")],
        "doc_id long, text string",
    )
    with RunScope(spark) as scope:
        rows = {r.doc_id: r for r in dedup.dedup_clusters(docs, scope=scope).collect()}
    assert rows[5].cluster_id == 5 and rows[5].is_keeper
    assert rows[9].cluster_id == 5 and not rows[9].is_keeper
    assert rows[2].cluster_id == 2 and rows[2].is_keeper


def test_simhash_pairs_identical_and_radius(spark):
    """Identical docs always pair at hamming 0 (pigeonhole banding gives
    EXACT recall at the radius); every emitted pair respects the radius."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "utterly unrelated content entirely"), (4, "mid alpha beta x")],
        "doc_id long, text string",
    )
    rows = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_pairs(docs).collect()}
    assert rows[(1, 2)] == 0
    assert all(h <= dedup.SIMHASH_MAX_HAMMING for h in rows.values())


def test_simhash_identical_equal_and_bounded(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta eps zeta")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert rows[1] == rows[2]
    assert -(2**63) <= rows[1] < 2**63
    assert rows[1] != rows[3]


def test_simhash_defaults_are_production_width(spark):
    """r4 verdict #3: a library caller gets the production configuration,
    64-bit hashes (16-bit band keys)."""
    assert dedup.SIMHASH_BITS == 64
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    by_default = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    # the top word is actually in use (a 32-bit hash could never show this)
    assert any(v < 0 or v >= 2**32 for v in by_default.values())


def test_simhash64_exact_recall_vs_brute_force(spark):
    """64-bit pigeonhole banding (4 x 16-bit bands) must return EXACTLY the
    pairs within the hamming radius — cross-checked against a brute-force
    all-pairs bit_count on the real sf0.001 docs (no hot bucket reaches the
    cap at this scale, so recall is exact, not 'exact up to the cap')."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    want = {
        (a, b): bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1")
        for a in sh
        for b in sh
        if a < b and bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_pairs(docs).collect()
    }
    assert got == want
    # 64-bit hashes actually use the top word (sign bit reachable)
    assert any(v < 0 or v >= 2**32 for v in sh.values())


def test_simhash_bucket_stats_accounts_for_all_docs(spark, monkeypatch):
    """Stats twin invariant: per band, n_docs == corpus size (every doc is
    in exactly one bucket per band) and hot-doc count is consistent."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    monkeypatch.setattr(dedup, "SIMHASH_MAX_BUCKET", 4)
    rows = dedup.simhash_bucket_stats(docs).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.n_docs == n
        assert 0 <= r.n_docs_in_hot <= n and r.n_hot_buckets <= r.n_buckets


def test_brute_force_topk_math(spark):
    # query 0 with unit vectors at known angles
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0]),       # cos 1.0
            (2, [0.7071, 0.7071]),  # cos ~0.7071
            (3, [0.0, 1.0]),       # cos 0.0
        ],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.brute_force_topk(emb, k=3).collect()
    got = [(r.rank, r.neighbor_id, r.cos_sim) for r in sorted(rows, key=lambda r: r.rank)]
    assert got[0] == (1, 1, 1.0)
    assert got[1][1] == 2 and abs(got[1][2] - 0.7071) < 1e-3
    assert got[2] == (3, 3, 0.0)


def test_lsh_topk_buckets_contain_identical_vectors(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0]), (50, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.lsh_topk(emb, k=2).collect()
    # identical vectors share every hyperplane bucket -> both found, cos 1.0
    found = {(r.query_id, r.neighbor_id): r.cos_sim for r in rows}
    assert found[(0, 1)] == 1.0 and found[(0, 50)] == 1.0
    assert found[(50, 0)] == 1.0 and found[(50, 1)] == 1.0


def test_cosine_dup_pairs_identical_and_threshold(spark):
    """Identical vectors share every bucket -> paired at cos 1.0; an
    orthogonal vector never crosses the threshold even when co-bucketed."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0]),
            (2, [1.0, 2.0, 3.0]),
            (3, [2.0, 4.0, 6.0]),    # colinear -> cos 1.0
            (4, [-3.0, 0.0, 1.0]),   # cos 0 vs 1/2/3
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {(r.id_a, r.id_b): r.cos_sim for r in similarity.cosine_dup_pairs(emb).collect()}
    assert rows[(1, 2)] == 1.0 and rows[(1, 3)] == 1.0 and rows[(2, 3)] == 1.0
    assert not any(4 in p for p in rows)


def test_cosine_dup_pairs_hot_bucket_capped(spark):
    """500 identical vectors (one bucket per table) must be skipped by the
    hot-bucket cap instead of emitting ~125k pairs; a small distinct pair
    still links."""
    hot = [(i, [1.0, 2.0, 3.0]) for i in range(500)]
    pair = [(9001, [5.0, -1.0, 2.0]), (9002, [5.0, -1.0, 2.0])]
    emb = spark.createDataFrame(hot + pair, "vec_id long, embedding array<float>")
    rows = {(r.id_a, r.id_b) for r in similarity.cosine_dup_pairs(emb).collect()}
    assert (9001, 9002) in rows
    assert len(rows) == 1, f"hot bucket leaked {len(rows) - 1} pairs"


def test_ivf_recall_floor_vs_brute_force(spark):
    """IVF-flat (16 TRAINED centroids, probe 4 => ~25% of lists searched)
    recall floor on the worst-case near-random test embeddings; clustered
    real-world embeddings concentrate into lists and score far higher.
    The integer-Lloyd trained quantizer lifted recall@5 from 0.46 (r2's
    vec_id<K seed centroids, floor 0.38) to 0.70 — floor tightened."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    bf = {(r.query_id, r.neighbor_id) for r in similarity.brute_force_topk(emb, k=5).collect()}
    iv = {(r.query_id, r.neighbor_id) for r in similarity.ivf_topk(emb, k=5).collect()}
    recall = len(bf & iv) / len(bf)
    assert recall >= 0.6, recall  # measured 0.70 (r2 seed quantizer: 0.46)


def test_ivf_train_sample_bounded_by_absolute_count(spark):
    """r3 verdict #1: the training collect must be O(max_train), NOT a
    proportional fraction of the corpus — at 10^9 vectors a 20% collect is
    a driver OOM.  Doubling the corpus must leave the collected sample at
    exactly max_train rows, and the sample must be a deterministic function
    of the id set (hash-ordered LIMIT)."""

    def corpus(n):
        return spark.range(n).selectExpr(
            "id AS vec_id",
            "array(CAST(1.0 + id % 7 AS FLOAT), CAST(2.0 + id % 3 AS FLOAT)) AS embedding",
        )

    s1 = similarity._collect_train_sample(corpus(2000), sample_mod=1, max_train=64)
    s2 = similarity._collect_train_sample(corpus(4000), sample_mod=1, max_train=64)
    assert len(s1) == 64 and len(s2) == 64
    # determinism: same call twice -> identical sample
    assert s1 == similarity._collect_train_sample(corpus(2000), sample_mod=1, max_train=64)
    # corpus smaller than the cap -> everything eligible is taken
    s3 = similarity._collect_train_sample(corpus(40), sample_mod=2, max_train=64)
    assert len(s3) == 20


def test_ivf_sparse_offset_id_space(spark):
    """The inverted-list join must use actual centroid vec_ids, not list
    positions: with a gapped id space below n_centroids (ids 1,3 only),
    assignment and probing still line up and identical vectors are found."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0])]
        + [(i, [0.0, float(i % 3), 1.0]) for i in range(10, 30)]
        + [(50, [4.0, 4.0, 0.0]), (51, [4.0, 4.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.ivf_topk(emb, k=2, n_centroids=4, n_probe=2).collect()
    found = {(r.query_id, r.neighbor_id): r.cos_sim for r in rows}
    assert found[(50, 51)] == 1.0


def test_sketch_dim_mismatch_raises(spark):
    """Any dim mismatch must fail loudly: longer would NULL-pad via zip_with
    and collapse every vector into bucket 0; shorter would project against
    truncated weights while the SQL oracle NULLs out (silent divergence).
    The sketch's dim is the first vector's, so a ragged table raises
    whichever of its lengths comes first."""
    import pytest as _pytest

    for other in (8, 3):
        ragged = spark.createDataFrame(
            [(0, [1.0] * 4), (1, [1.0] * other)], "vec_id long, embedding array<float>"
        )
        with _pytest.raises(Exception, match="does not match sketch dim"):
            similarity.multi_table_sketch(ragged).collect()


def test_ivf_identical_vectors_found(spark):
    """Identical vectors land in the same inverted list -> always found."""
    emb = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, 2.0]) for i in range(20)]
        + [(50, [9.0, 9.0, 9.0]), (51, [9.0, 9.0, 9.0])],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.ivf_topk(emb, k=3, n_centroids=4, n_probe=2).collect()
    found = {(r.query_id, r.neighbor_id): r.cos_sim for r in rows}
    assert found[(50, 51)] == 1.0


def test_lsh_recall_floor_vs_brute_force(spark):
    """Multi-table hyperplane LSH recall on the (near-random, worst-case)
    test embeddings — regression floor for the ANN path."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    bf = {(r.query_id, r.neighbor_id) for r in similarity.brute_force_topk(emb, k=5).collect()}
    ls = {(r.query_id, r.neighbor_id) for r in similarity.lsh_topk(emb, k=5).collect()}
    recall = len(bf & ls) / len(bf)
    assert recall >= 0.35, recall  # measured 0.42 on random data; ~0.9 on clustered


def test_topk_paths_share_one_rerank_and_drop_zero_queries(spark):
    """A zero vector has no cosine: brute force drops it on the query side
    as on the neighbor side (under ANSI division it used to fail the whole
    query), and an IVF that probes every list re-ranks exactly the
    candidates brute force does, so the two agree row for row."""
    n = 120
    emb = spark.createDataFrame(
        [(0, [0.0] * 4)]
        + [(i, [float((i * j * 7 + j) % 11) - 5.0 for j in range(1, 5)]) for i in range(1, n)],
        "vec_id long, embedding array<float>",
    )
    bf = sorted(similarity.brute_force_topk(emb).collect())
    assert bf and {r.query_id for r in bf} == {50, 100}
    assert all(r.neighbor_id != 0 for r in bf)
    c = similarity.IVF_CENTROIDS
    assert sorted(similarity.ivf_topk(emb, n_centroids=c, n_probe=c).collect()) == bf


def test_numeric_metrics_known_values(spark):
    # y_true = [1,2,3], y_pred = [2,2,2]: mse = 2/3, r2 = 1 - 2/2 = 0
    pairs = spark.createDataFrame(
        [("1", "2"), ("2", "2"), ("3", "2"), ("-", "9"), ("", "9")],
        "y_true string, y_pred string",
    )
    m = numeric_metrics(pairs).collect()[0]
    assert m.n == 3  # '-' and '' are masked out (evaluation.py:46-50)
    assert abs(m.mse - 2 / 3) < 1e-6  # outputs are round(..., 6)
    assert abs(m.rmse - math.sqrt(2 / 3)) < 1e-6
    assert abs(m.r2 - 0.0) < 1e-6


def test_numeric_metrics_zero_variance_r2_null(spark):
    pairs = spark.createDataFrame(
        [("5", "4"), ("5", "6")], "y_true string, y_pred string"
    )
    m = numeric_metrics(pairs).collect()[0]
    assert m.r2 is None  # reference returns NaN (evaluation.py:67-70)


def test_curate_equals_operator_composition(spark):
    """The single-scan curate plan must equal the definitional composition
    of the standalone operators (quality x lang x exact-dedup keepers)."""
    from ocr_table_extractor_to_csv_spark.operators import textstats
    from ocr_table_extractor_to_csv_spark.operators.curation import (
        DEFAULT_LANGS,
        DEFAULT_MIN_QUALITY,
        curate,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {tuple(r) for r in curate(docs).collect()}

    quality = textstats.text_quality(docs).select("doc_id", "n_tokens", "quality_score")
    lang = textstats.lang_id(docs).select("doc_id", "lang_pred")
    keepers = dedup.exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    want = {
        tuple(r)
        for r in quality.join(lang, "doc_id")
        .join(keepers, "doc_id", "left_semi")
        .where(
            (F.col("quality_score") >= DEFAULT_MIN_QUALITY)
            & F.col("lang_pred").isin(list(DEFAULT_LANGS))
        )
        .select("doc_id", "n_tokens", "quality_score", "lang_pred")
        .collect()
    }
    assert got == want and len(got) > 0


def test_pii_scrub_counts_and_redaction(spark):
    import hashlib

    from ocr_table_extractor_to_csv_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "mail a@b.com and c.d+x@e.org, ip 10.0.0.7, call +1 (555) 010-0099 now")],
        "doc_id long, text string",
    )
    r = textstats.pii_scrub(docs).collect()[0]
    assert (r.n_emails, r.n_ips, r.n_phones) == (2, 1, 1)
    expected = "mail <EMAIL> and <EMAIL>, ip <IP>, call <PHONE> now"
    assert r.scrubbed_md5 == hashlib.md5(expected.encode()).hexdigest()


def test_repetition_stats_known_values(spark):
    from ocr_table_extractor_to_csv_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, ""), (3, "solo")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in textstats.repetition_stats(docs).collect()}
    r = rows[1]
    # tokens [a,a,a,b]: top token a=3/4; bigrams [a_a,a_a,a_b]: top 2/3;
    # unique 2/4
    assert (r.n_tokens, r.top_token_frac, r.unique_token_frac) == (4, 0.75, 0.5)
    assert r.top_bigram_frac == round(2 / 3, 5)
    assert tuple(rows[2])[1:] == (0, 0.0, 0.0, 0.0)
    assert rows[3].n_tokens == 1 and rows[3].top_bigram_frac == 0.0


def test_repetition_stats_matches_definitional_python(spark):
    """The map-only sort+fold must equal the Counter-based definition on
    200 seeded random token lists (incl. empty/single/all-same edges)."""
    import random
    from collections import Counter

    rng = random.Random(7)
    vocab = ["a", "b", "c", "dd", "e1"]
    texts = ["", "a", "a a a a"] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 40)))
        for _ in range(197)
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    from ocr_table_extractor_to_csv_spark.operators import textstats

    got = {r.doc_id: r for r in textstats.repetition_stats(docs).collect()}
    for i, t in enumerate(texts):
        toks = t.split() if t.strip() else []
        n = len(toks)
        grams = [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
        exp = (
            n,
            round(max(Counter(toks).values()) / n, 5) if n else 0.0,
            round(max(Counter(grams).values()) / (n - 1), 5) if n > 1 else 0.0,
            round(len(set(toks)) / n, 5) if n else 0.0,
        )
        assert tuple(got[i])[1:] == exp, (i, t, tuple(got[i]), exp)


def test_vocab_topk_counts_and_tie_cut(spark, monkeypatch):
    from ocr_table_extractor_to_csv_spark.operators import textstats

    monkeypatch.setattr(textstats, "VOCAB_TOPK", 3)

    docs = spark.createDataFrame(
        [(1, "a a b z"), (2, "a c z")], "doc_id long, text string"
    )
    rows = [(r.token, r.tf, r.df) for r in textstats.vocab_topk(docs).collect()]
    # tf ties (b,c,z all candidates at tf<=2) break token-ASC at the k cut
    assert rows == [("a", 3, 2), ("z", 2, 2), ("b", 1, 1)]


def test_search_topk_score_formula(spark, monkeypatch):
    from ocr_table_extractor_to_csv_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "data data join"), (2, "data"), (3, "nothing here")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(textstats, "SEARCH_TERMS", ("data", "join"))
    rows = {r.doc_id: r for r in textstats.search_topk(docs).collect()}
    # N=3; df(data)=2, df(join)=1 -> idf(data)=4/3, idf(join)=4/2
    assert rows[1].n_hits == 2 and rows[1].score == round(2 * (4 / 3) + 1 * 2.0, 5)
    assert rows[2].n_hits == 1 and rows[2].score == round(1 * (4 / 3), 5)
    assert 3 not in rows


def test_source_stats_exact_aggregates(spark):
    from ocr_table_extractor_to_csv_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "one two", "s1"), (2, "three", "s1"), (3, "x.", "s2")],
        "doc_id long, text string, source string",
    )
    rows = {r.source: r for r in textstats.source_stats(docs).collect()}
    assert rows["s1"].n_docs == 2 and rows["s1"].total_tokens == 3
    assert rows["s1"].total_chars == 7 + 5
    assert rows["s2"].min_quality == rows["s2"].max_quality


def test_decontaminate_eval_overlap(spark):
    from ocr_table_extractor_to_csv_spark.operators.curation import decontaminate

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),      # eval doc (0 % 97 == 0)
            (1, "alpha beta gamma epsilon"),    # shares 1 of 2 shingles
            (2, "totally different words here"),
        ],
        "doc_id long, text string",
    )
    with RunScope(spark) as scope:
        rows = {r.doc_id: r for r in decontaminate(docs, scope=scope).collect()}
    assert rows[0].contaminated and rows[0].overlap_ratio == 1.0
    assert rows[1].n_shingles == 2 and rows[1].n_overlap == 1
    assert rows[1].overlap_ratio == 0.5 and rows[1].contaminated  # >= threshold
    assert rows[2].n_overlap == 0 and not rows[2].contaminated


def test_decontaminate_oversized_eval_falls_back_to_shuffle(spark, monkeypatch):
    """r3 verdict #7: above max_broadcast_shingles the eval side must NOT
    be broadcast-hinted (driver/executor OOM at real eval-suite overflow) —
    the operator explicitly picks a shuffle hash join, says so, and the
    results are identical to the broadcast path."""
    from ocr_table_extractor_to_csv_spark.operators import curation
    from ocr_table_extractor_to_csv_spark.operators.curation import decontaminate

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma epsilon"),
            (2, "totally different words here"),
        ],
        "doc_id long, text string",
    )
    with RunScope(spark) as scope:
        want = {tuple(r) for r in decontaminate(docs, scope=scope).collect()}
        monkeypatch.setattr(curation, "DECONTAMINATE_MAX_BROADCAST_SHINGLES", 1)
        small = decontaminate(docs, scope=scope)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        plan = small._jdf.queryExecution().explainString(mode)
        assert "BroadcastHashJoin" not in plan
        assert {tuple(r) for r in small.collect()} == want
    assert [f["strategy"] for f in scope.facts["decontaminate"]] == ["broadcast", "shuffle"]


def test_sample_stratified_deterministic_and_bounded(spark):
    from ocr_table_extractor_to_csv_spark.operators.curation import sample_stratified

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {tuple(r) for r in sample_stratified(docs).collect()}
    b = {tuple(r) for r in sample_stratified(docs).collect()}
    assert a == b and len(a) > 0  # same sample on every run, any partitioning
    # every kept row is under its stratum's rate
    for doc_id, stratum, u in a:
        rate = {"en": 0.5, "es": 0.25}.get(stratum, 0.1)
        assert u < rate + 1e-6


def test_pack_sequences_contiguous_fill(spark, monkeypatch):
    """Contiguous-fill packing: running cumsum within a shard, docs may
    straddle bin boundaries, long docs span multiple bins."""
    from ocr_table_extractor_to_csv_spark.operators import curation
    from ocr_table_extractor_to_csv_spark.operators.curation import pack_sequences

    monkeypatch.setattr(curation, "PACK_BUDGET", 5)
    monkeypatch.setattr(curation, "PACK_SHARDS", 1)

    # one shard (n_shards=1): token counts 3, 4, 6 with budget 5
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f g"), (2, "h i j k l m")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pack_sequences(docs).collect()}
    assert (rows[0].bin_id, rows[0].offset_in_bin) == (0, 0)   # cum 3
    assert (rows[1].bin_id, rows[1].offset_in_bin) == (0, 3)   # straddles 5
    assert (rows[2].bin_id, rows[2].offset_in_bin) == (1, 2)   # cum 7 -> bin 1
    # sharding: docs land in doc_id % n_shards, packed independently
    monkeypatch.setattr(curation, "PACK_SHARDS", 2)
    sharded = pack_sequences(docs).collect()
    assert {r.shard for r in sharded} == {0, 1}
    assert all(r.offset_in_bin < 5 for r in sharded)


def test_curate_neardup_equals_operator_composition(spark):
    """curate_neardup must equal the definitional composition of the
    standalone operators with CLUSTER keepers (quality x lang x
    dedup_clusters keepers) — and keep strictly fewer-or-equal docs than
    exact-dup curate (near-dup clusters subsume exact-dup groups)."""
    from ocr_table_extractor_to_csv_spark.operators import textstats
    from ocr_table_extractor_to_csv_spark.operators.curation import (
        DEFAULT_LANGS,
        DEFAULT_MIN_QUALITY,
        curate,
        curate_neardup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with RunScope(spark) as scope:
        got = {tuple(r) for r in curate_neardup(docs, scope=scope).collect()}

        quality = textstats.text_quality(docs).select("doc_id", "n_tokens", "quality_score")
        lang = textstats.lang_id(docs).select("doc_id", "lang_pred")
        keepers = (
            dedup.dedup_clusters(docs, scope=scope).where(F.col("is_keeper")).select("doc_id")
        )
        want = {
            tuple(r)
            for r in quality.join(lang, "doc_id")
            .join(keepers, "doc_id", "left_semi")
            .where(
                (F.col("quality_score") >= DEFAULT_MIN_QUALITY)
                & F.col("lang_pred").isin(list(DEFAULT_LANGS))
            )
            .select("doc_id", "n_tokens", "quality_score", "lang_pred")
            .collect()
        }
    assert got == want and len(got) > 0
    assert len(got) <= curate(docs).count()


def test_streaming_windowed_agg_watermark_and_late_drop(spark, tmp_path):
    """Event-time tumbling windows with a watermark: append mode emits a
    window only once it is finalized, a watermark-advancing straggler
    flushes the open tail, and an event older than the watermark is DROPPED
    (no duplicate/updated window rows).  The final log must equal the batch
    groupBy(window) over exactly the non-late events."""
    from ocr_table_extractor_to_csv_spark.streaming.windows import windowed_event_counts

    def run_windowed_counts(spark, events_dir, out_dir, checkpoint_dir):
        """One availableNow pass: append newly-FINALIZED windows to out_dir."""
        schema = spark.read.parquet(events_dir).schema
        stream = spark.readStream.schema(schema).parquet(events_dir)
        windowed_event_counts(stream).writeStream.format("parquet").option(
            "path", out_dir
        ).option("checkpointLocation", checkpoint_dir).outputMode("append").trigger(
            availableNow=True
        ).start().awaitTermination()

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    events_dir = str(tmp_path / "events")
    out_dir = str(tmp_path / "win")
    ckpt = str(tmp_path / "ckpt")

    ev.write.mode("append").parquet(events_dir)
    run_windowed_counts(spark, events_dir, out_dir, ckpt)
    n_pass1 = spark.read.parquet(out_dir).count()

    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    straggler = spark.createDataFrame(
        [(10**6, hi + __import__("datetime").timedelta(hours=2), 1, "straggler", 1.0, "{}")],
        ev.schema,
    )
    too_late = spark.createDataFrame(
        [(10**6 + 1, lo, 1, "late", 1.0, "{}")], ev.schema
    )
    straggler.unionByName(too_late).write.mode("append").parquet(events_dir)
    run_windowed_counts(spark, events_dir, out_dir, ckpt)

    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["w"].start, r.event_type): (r.n, r.sum_value)
        for r in ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .collect()
    }
    assert got == want, f"sizes {len(got)} vs {len(want)}"
    assert n_pass1 < len(want), "pass 1 must hold back the open window tail"
    assert not any(t == "late" for (_, t) in got), "late event must be dropped"
    assert not any(t == "straggler" for (_, t) in got), "straggler window stays open"


def test_canonicalize_url_rules(spark):
    from ocr_table_extractor_to_csv_spark.operators.weburl import canonicalize_url

    cases = [
        # (raw, expected canonical)
        ("HTTP://WWW.Example.COM:80/a/index.html?utm_source=x#frag",
         "http://www.example.com/a"),
        ("https://H.com:443/", "https://h.com/"),
        ("http://h.com", "http://h.com/"),
        ("http://h.com/a?id=3&utm_campaign=z&b=2", "http://h.com/a?id=3&b=2"),
        ("http://h.com/index.html", "http://h.com/"),
        ("http://h.com:8080/a", "http://h.com:8080/a"),   # non-default port kept
        ("https://h.com:80/a", "https://h.com:80/a"),     # :80 is not https default
        ("not-a-url#x", "not-a-url"),                     # no scheme -> defrag only
        ("", ""),                                         # empty survives
        ("#", ""),                                        # bare fragment
        ("http://", "http:///"),                          # empty authority+path
        ("http://h.com?a=1", "http://h.com/?a=1"),        # query with no path
        ("http://h.com/x?utm_a=1&utm_b=2", "http://h.com/x"),  # all params utm
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "u string")
    got = [r.c for r in df.select(canonicalize_url(F.col("u")).alias("c")).collect()]
    for (raw, want), g in zip(cases, got):
        assert g == want, f"{raw!r}: got {g!r} want {want!r}"


def test_url_dedup_folds_variants(spark):
    from ocr_table_extractor_to_csv_spark.operators.weburl import url_dedup

    df = spark.createDataFrame(
        [
            (1, "http://a.com/x"),
            (2, "HTTP://A.COM:80/x/index.html#top"),
            (3, "http://a.com/x?utm_source=s"),
            (4, "http://a.com/y"),
        ],
        "doc_id long, url string",
    )
    rows = {r.canon_url: r for r in url_dedup(df).collect()}
    assert rows["http://a.com/x"].n_docs == 3
    assert rows["http://a.com/x"].n_variants == 3
    assert rows["http://a.com/x"].keeper_doc_id == 1
    assert rows["http://a.com/y"].n_docs == 1


def test_canonicalize_url_idempotent(spark):
    """canonicalize(canonicalize(u)) == canonicalize(u) over a messy URL
    space — the defining property of a canonical form.  One batched Spark
    job (deterministic generator, no hypothesis: the URL space is built to
    hit every rule combination)."""
    import itertools

    from ocr_table_extractor_to_csv_spark.operators.weburl import canonicalize_url

    schemes = ["http://", "HTTP://", "https://", "HtTpS://", ""]
    hosts = ["A.COM", "a.com:80", "a.com:443", "a.com:8080", "xn--bcher-kva.de"]
    paths = ["", "/", "/x", "/x/", "/x/index.html", "/index.html", "/x//y/"]
    queries = ["", "?", "?a=1", "?utm_a=1", "?a=1&utm_b=2&c=3", "?utm_a=1&utm_b=2"]
    frags = ["", "#f", "#a#b"]
    urls = [
        s + h + p + q + f
        for s, h, p, q, f in itertools.product(schemes, hosts, paths, queries, frags)
    ]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    out = df.select(
        F.col("u"),
        canonicalize_url(F.col("u")).alias("c1"),
        canonicalize_url(canonicalize_url(F.col("u"))).alias("c2"),
    ).collect()
    bad = [(r.u, r.c1, r.c2) for r in out if r.c1 != r.c2]
    assert not bad, f"{len(bad)} non-idempotent, first: {bad[:3]}"


def test_line_dedup_hand_case(spark):
    from ocr_table_extractor_to_csv_spark.operators.dedup import line_dedup

    shared = " ".join(f"w{i}" for i in range(10))      # one exact shared chunk
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    short = "tiny doc"                                  # < 10 tokens -> absent
    df = spark.createDataFrame(
        [
            (1, shared + " " + uniq_a),   # 2 chunks, 1 duplicated
            (2, shared + " " + uniq_b),   # 2 chunks, 1 duplicated
            (3, uniq_b),                  # 1 chunk — ALSO in doc 2 -> duplicated
            (4, short),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in line_dedup(df).collect()}
    assert 4 not in rows
    assert rows[1].n_chunks == 2 and rows[1].n_dup_chunks == 1 and rows[1].dup_ratio == 0.5
    assert rows[2].n_chunks == 2 and rows[2].n_dup_chunks == 2  # shared AND uniq_b
    assert rows[3].n_chunks == 1 and rows[3].dup_ratio == 1.0


def test_bloom_dedup_hand_case(spark):
    """Bloom-prefiltered incremental exact-dedup: true dups are 'dup',
    novel docs are 'new' (or, rarely, 'false_positive' — the visible
    Bloom trade), and whitespace-normalization folds into the fingerprint
    exactly as in exact_dedup."""
    from ocr_table_extractor_to_csv_spark.operators.dedup import bloom_dedup

    seen = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "a totally different document")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "THE  quick   brown FOX"),   # normalizes to seen #1 -> dup
            (11, "a totally different document"),  # exact seen #2 -> dup
            (12, "something never seen before"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.status for r in bloom_dedup(seen, new).collect()}
    assert rows[10] == "dup" and rows[11] == "dup"
    assert rows[12] in ("new", "false_positive")  # fp possible, never silent

    # every new row gets exactly one status
    assert set(rows) == {10, 11, 12}


def test_bloom_dedup_never_false_negative(spark):
    """THE Bloom property: a true duplicate can NEVER be labeled 'new'
    (false positives exist by design and are visible; false negatives
    would silently re-ingest dups).  Randomized corpus, fixed seed."""
    import random

    from ocr_table_extractor_to_csv_spark.operators.dedup import bloom_dedup

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    seen_rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 12))))
        for i in range(60)
    ]
    new_rows = []
    for j in range(40):
        if j % 2 == 0:  # true dup: copy a seen text (maybe re-spaced)
            t = seen_rows[rng.randrange(len(seen_rows))][1]
            t = t.replace(" ", "  ") if j % 4 == 0 else t
        else:
            t = "novel " + " ".join(rng.choice(vocab) for _ in range(5)) + f" {j}"
        new_rows.append((1000 + j, t))
    seen = spark.createDataFrame(seen_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    rows = {r.doc_id: r.status for r in bloom_dedup(seen, new).collect()}
    for j in range(0, 40, 2):
        assert rows[1000 + j] == "dup", (j, rows[1000 + j])


def test_embedding_quantize_hand_case(spark):
    """Exact int8 codes on a hand vector, zero-vector guard (scale 0, all
    zero codes, zero error — not a divide-by-zero), and reconstruction
    error bounded by scale/2 per element."""
    from ocr_table_extractor_to_csv_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in quantize_embeddings(emb).collect()}
    r1 = rows[1]
    assert abs(r1.scale - 1.0 / 127) < 1e-6  # output scale is rounded to 6 dp
    assert list(r1.q) == [127, -63, 32, 0]  # floor(x/scale + 0.5)
    assert r1.mean_abs_err <= r1.scale / 2 + 1e-6
    r2 = rows[2]
    assert r2.scale == 0.0 and list(r2.q) == [0, 0, 0, 0] and r2.mean_abs_err == 0.0


def test_mix_plan_hand_case(spark, monkeypatch):
    """Mix planning: rates hit the budget, zero-weight sources stay
    visible at rate 0, and over-budget targets surface epochs > 1."""
    from ocr_table_extractor_to_csv_spark.operators import textstats
    from ocr_table_extractor_to_csv_spark.operators.textstats import mix_plan

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j", "big"),    # 10 tokens
            (2, "a b c d e f g h i j", "big"),    # big: 20 available
            (3, "a b c d e", "small"),            # small: 5 available
            (4, "x y", "zero"),                   # zero-weight
        ],
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(textstats, "MIX_BUDGET", 20)
    monkeypatch.setattr(textstats, "MIX_WEIGHTS", {"big": 0.5, "small": 0.4, "ghost": 0.1})
    rows = {r.source: r for r in mix_plan(docs).collect()}
    assert set(rows) == {"big", "small", "zero", "ghost"}
    assert rows["big"].available_tokens == 20 and rows["big"].sample_rate == 0.5
    assert rows["small"].sample_rate == 1.0 and rows["small"].epochs == 1.6  # upsample
    assert rows["zero"].weight == 0.0 and rows["zero"].sample_rate == 0.0
    # weighted-but-absent source surfaces (r5 advice): its budget slice is
    # a visibly unmeetable target, never a silent drop
    g = rows["ghost"]
    assert g.available_tokens == 0 and g.weight == 0.1
    assert g.target_tokens == 2.0 and g.sample_rate == 0.0 and g.epochs is None


def test_bpe_train_hand_case(spark, monkeypatch):
    """Hand-derived BPE merges: pair counts weight by corpus word
    frequency; ties break (count DESC, left ASC, right ASC); later merges
    see earlier merges' symbols; and the double-space delimiter framing
    reproduces reference BPE's greedy merge scan exactly (r6: the r5
    same-symbol-run divergence is closed, not just documented)."""
    from ocr_table_extractor_to_csv_spark.operators import bpe
    from ocr_table_extractor_to_csv_spark.operators.bpe import bpe_train

    monkeypatch.setattr(bpe, "BPE_MERGES", 2)
    # low x3, lowest x1: iter 1 pairs (l,o)=4 ties (o,w)=4 -> 'l' < 'o'
    # elects (l,o); iter 2: vocab is 'lo w' x3 + 'lo w e s t' -> (lo,w)=4
    docs = spark.createDataFrame(
        [(1, "low low"), (2, "low lowest")], "doc_id long, text string"
    )
    rows = [tuple(r) for r in bpe_train(docs).collect()]
    assert rows[0] == (1, "l", "o", 4)
    assert rows[1] == (2, "lo", "w", 4)

    # same-symbol run, 'aaaa' x2 (freq 2): (a,a) counts every adjacency
    # (3 x 2 = 6); ONE merge pass now folds the whole run left-to-right
    # ('aaaa' -> 'aa aa', reference BPE) so merge 2 is (aa,aa) at count 2
    docs2 = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    m = [tuple(r) for r in bpe_train(docs2).collect()]
    assert m[0] == (1, "a", "a", 6)
    assert m[1] == (2, "aa", "aa", 2)

    # odd-length run: reference BPE leaves the unmerged symbol at the END
    # ('aaaaa' -> 'aa aa a'), so merge 2 sees pairs (aa,aa) and (aa,a):
    # counts tie at 1 and (aa,a) < (aa,aa) lexicographically
    docs3 = spark.createDataFrame([(1, "aaaaa")], "doc_id long, text string")
    m3 = [tuple(r) for r in bpe_train(docs3).collect()]
    assert m3[0] == (1, "a", "a", 4)
    assert m3[1] == (2, "aa", "a", 1)

    # immediately-repeated DISTINCT pair (the r5 ADVICE case): 'abab' with
    # winner (a,b) merges BOTH occurrences in one pass -> 'ab ab'
    docs4 = spark.createDataFrame([(1, "abab abab")], "doc_id long, text string")
    m4 = [tuple(r) for r in bpe_train(docs4).collect()]
    assert m4[0] == (1, "a", "b", 4)
    assert m4[1] == (2, "ab", "ab", 2)


def test_token_count_trained_hand_case(spark, monkeypatch):
    """Encoding applies merges in rank order: with merges [(l,o),(lo,w)]
    (the two this corpus trains: (l,o) and (o,w) tie at 2, 'l' < 'o'),
    'low' collapses to ONE symbol and 'lowest' to [low,e,s,t]."""
    from ocr_table_extractor_to_csv_spark.operators import bpe
    from ocr_table_extractor_to_csv_spark.operators.bpe import token_count_trained

    monkeypatch.setattr(bpe, "BPE_MERGES", 2)
    docs = spark.createDataFrame([(1, "low lowest")], "doc_id long, text string")
    rows = [tuple(r) for r in token_count_trained(docs).collect()]
    assert rows == [(1, 2, 5, 2.5)]  # n_words=2, tokens 1 + 4


def test_curate_incremental_hand_case(spark):
    """Retained/fresh semantics: unchanged docs carry prev verdicts;
    added docs that duplicate an unchanged doc are dropped; genuinely
    novel added docs are curated; changed docs are re-curated; and the
    documented divergence (no keeper re-election on removal) holds."""
    from ocr_table_extractor_to_csv_spark.operators.curation import (
        curate,
        curate_incremental,
    )

    good = "this is a reasonably long document with enough tokens to pass the gate " * 3
    old = spark.createDataFrame(
        [
            (1, good + "one"),    # unchanged keeper
            (2, good + "two"),    # will be REMOVED in new
            (3, good + "one"),    # dup of 1 (non-keeper in prev)
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, good + "one"),            # unchanged
            (3, good + "one"),            # unchanged (still non-keeper)
            (4, good + "one"),            # added dup of unchanged 1 -> dropped
            (5, good + "five"),           # added novel -> fresh
            (6, good + "two"),            # added; dups REMOVED doc 2 -> fp gone -> fresh
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in curate_incremental(old, new).collect()}
    prev = {r.doc_id for r in curate(old).collect()}
    assert prev == {1, 2}  # 3 lost the keeper election to 1
    assert rows.keys() == {1, 5, 6}
    assert rows[1].origin == "retained"
    assert rows[5].origin == "fresh" and rows[6].origin == "fresh"
    # divergence by spec: doc 3 stays absent (its group keeper 1 is retained);
    # doc 4's fp exists among unchanged docs -> dropped; doc 6's twin was
    # removed, so its fp is genuinely absent -> curated fresh


def test_curate_incremental_no_delta_identity(spark):
    """Identity property: refreshing with an UNCHANGED snapshot returns
    exactly the previous keepers, all tagged 'retained' — zero fresh work
    (the spec's fixed point)."""
    from ocr_table_extractor_to_csv_spark.operators.curation import (
        curate,
        curate_incremental,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    prev = curate(docs)
    out = curate_incremental(docs, docs, prev_keepers=prev).collect()
    assert all(r.origin == "retained" for r in out)
    assert {(r.doc_id, r.n_tokens, r.quality_score, r.lang_pred) for r in out} == {
        tuple(r) for r in prev.collect()
    }


def test_bloom_dedup_null_text_and_m_validation(spark):
    """NULL text fingerprints as empty string — the seen side must not
    crash the bitmap build and a NULL-text new doc must get a status
    (r5 review: it used to vanish).  The filter width is the constant
    ``BLOOM_M_BITS``, so there is no ``m`` left to validate."""
    from ocr_table_extractor_to_csv_spark.operators.dedup import bloom_dedup

    seen = spark.createDataFrame(
        [(1, None), (2, "real document body here")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, None), (11, ""), (12, "real document body here")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.status for r in bloom_dedup(seen, new).collect()}
    assert set(rows) == {10, 11, 12}  # nobody vanishes
    assert rows[10] == "dup" and rows[11] == "dup"  # NULL == '' by spec
    assert rows[12] == "dup"


def test_mix_plan_zero_available_source(spark, monkeypatch):
    """A source whose docs are all empty must not divide-by-zero: rate 0,
    NULL epochs — and a nonzero weight on it is visibly unmeetable."""
    from ocr_table_extractor_to_csv_spark.operators import textstats
    from ocr_table_extractor_to_csv_spark.operators.textstats import mix_plan

    docs = spark.createDataFrame(
        [(1, "some real tokens here", "full"), (2, "   ", "empty")],
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(textstats, "MIX_BUDGET", 10)
    monkeypatch.setattr(textstats, "MIX_WEIGHTS", {"full": 0.5, "empty": 0.5})
    rows = {r.source: r for r in mix_plan(docs).collect()}
    assert rows["empty"].sample_rate == 0.0 and rows["empty"].epochs is None
    assert rows["empty"].target_tokens == 5.0  # unmeetable target is visible
    assert rows["full"].sample_rate == 1.0


def test_token_count_trained_oracle_survives_merge_exhaustion():
    """DuckDB-only: a corpus whose vocab fully merges before n_merges must
    NOT NULL-poison the oracle's encode chain (r5 review, confirmed bug:
    empty p{i} scalar subqueries made the whole chain NULL)."""
    import duckdb

    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT 1::BIGINT AS doc_id, 'ab ab' AS text")
    rows = con.sql(entry_mod._oracle_token_count_trained()).fetchall()
    assert rows == [(1, 2, 2, 1.0)]  # 'ab' merges in 1 step; later merges no-op


def test_bloom_dedup_statuses_partition_new_batch(spark):
    """On real sf docs: statuses partition the new batch, every engineered
    donor-text dup is caught, and false positives (if any) are rows whose
    fp genuinely is absent from seen."""
    import __spark_entry__ as entry_mod

    out = entry_mod.q_bloom_dedup(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    n_new_batch = len([r for r in rows])
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert n_new_batch == docs.where("doc_id % 3 = 0").count()
    statuses = {r.status for r in rows}
    assert "dup" in statuses and "new" in statuses
    assert statuses <= {"new", "dup", "false_positive"}


def test_line_dedup_clean_hand_case(spark):
    """The C4 cleaning transform: global-first occurrence survives, later
    copies are cut; sub-chunk tails always pass through; short docs are
    untouched."""
    from ocr_table_extractor_to_csv_spark.operators.dedup import line_dedup_clean

    shared = " ".join(f"w{i}" for i in range(10))
    uniq = " ".join(f"u{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, shared + " " + uniq + " tail1 bits"),  # first owner of shared
            (2, shared + " tail2"),                    # later copy -> cut
            (3, "short doc"),                          # no chunks -> untouched
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in line_dedup_clean(df).collect()}
    assert rows[1].n_chunks == 2 and rows[1].n_kept == 2
    assert rows[1].text_clean == shared + " " + uniq + " tail1 bits"
    assert rows[2].n_chunks == 1 and rows[2].n_kept == 0
    assert rows[2].text_clean == "tail2"              # chunk cut, tail kept
    assert rows[3].n_chunks == 0 and rows[3].text_clean == "short doc"


def test_line_dedup_clean_global_uniqueness_invariant(spark):
    """Corpus-level invariant on real sf docs: after cleaning, every
    chunk string survives EXACTLY once across the whole corpus (the
    definition of the transform), counts reconcile (n_kept <= n_chunks,
    sum(n_kept) == number of distinct chunks), and cleaned text stays in
    the token-normalized space of the original."""
    from collections import Counter

    from ocr_table_extractor_to_csv_spark.operators.dedup import line_dedup_clean

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    rows = line_dedup_clean(docs).collect()

    def chunks_of(text):
        toks = text.split()
        return [" ".join(toks[i : i + 10]) for i in range(0, len(toks) // 10 * 10, 10)]

    orig = Counter()
    for r in docs.select("text").collect():
        norm = " ".join((r.text or "").lower().split())
        orig.update(chunks_of(norm))

    kept = Counter()
    for r in rows:
        assert 0 <= r.n_kept <= r.n_chunks
        kept.update(chunks_of(r.text_clean)[: r.n_kept])
    # every distinct original chunk survives exactly once, none invented
    assert sum(r.n_kept for r in rows) == len(orig)
    for c, n in kept.items():
        assert n == 1 and c in orig, c[:60]


def test_corpus_diff_hand_case(spark):
    from ocr_table_extractor_to_csv_spark.operators.curation import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], "doc_id long, text string"
    )
    got = [(r.doc_id, r.status) for r in corpus_diff(old, new).collect()]
    assert got == [(1, "removed"), (3, "changed"), (4, "added")]

    # NULL text is content, not absence: null->text is 'changed',
    # null->null is unchanged (absent from the diff)
    old2 = spark.createDataFrame([(5, None), (6, None)], "doc_id long, text string")
    new2 = spark.createDataFrame([(5, "x"), (6, None)], "doc_id long, text string")
    got2 = [(r.doc_id, r.status) for r in corpus_diff(old2, new2).collect()]
    assert got2 == [(5, "changed")]


def test_new_dedup_ops_partitioning_neutral(spark):
    """url_dedup / line_dedup / corpus_diff must produce identical rows
    regardless of input partitioning — their keeper/status rules are
    value-deterministic (min doc_id, content digests), never
    first-row-wins."""
    from ocr_table_extractor_to_csv_spark.operators.curation import corpus_diff
    from ocr_table_extractor_to_csv_spark.operators.dedup import line_dedup
    from ocr_table_extractor_to_csv_spark.operators.weburl import (
        url_dedup,
        with_synth_url,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a, b = docs.repartition(13), docs.coalesce(1)

    for op in (
        lambda d: url_dedup(with_synth_url(d)),
        line_dedup,
        lambda d: corpus_diff(d.where(F.col("doc_id") % 2 == 0), d),
    ):
        ra = [tuple(r) for r in op(a).collect()]
        rb = [tuple(r) for r in op(b).collect()]
        assert ra == rb and len(ra) > 0


def test_substring_dedup_planted_span(spark):
    """Two docs sharing a 40-token verbatim span at DIFFERENT offsets must
    pair (content-defined anchors are offset-invariant); unrelated docs
    must not.  Docs shorter than one gram emit no anchors at all."""
    span = " ".join(f"shared{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, "intro one two three " + span + " outro alpha"),
            (2, "completely different preamble tokens here " + span),
            (3, " ".join(f"noise{i}" for i in range(60))),
            (4, "tiny doc"),  # < SUBSTR_GRAM tokens: below detection floor
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.n_shared
             for r in dedup.substring_dedup_pairs(docs).collect()}
    assert set(pairs) == {(1, 2)}
    # 40-token span -> 33 grams, ~1/4 sampled: several shared anchors
    assert pairs[(1, 2)] >= dedup.SUBSTR_MIN_ANCHORS
    assert dedup.substring_anchors(
        docs.where(F.col("doc_id") == 4)
    ).count() == 0


def test_substring_dedup_hot_anchor_cap(spark, monkeypatch):
    """A span present in > max_bucket docs is a hot anchor: its buckets are
    skipped entirely (no quadratic pair blowup), so with max_bucket=3 a
    4-doc boilerplate family yields zero pairs while a 2-doc family still
    links — the minhash_lsh_pairs cap semantics on the anchor key."""
    boiler = " ".join(f"boiler{i}" for i in range(30))
    rare = " ".join(f"rare{i}" for i in range(30))
    rows = [(i, f"doc {i} header " + boiler) for i in range(1, 5)]
    rows += [(10, "x " + rare), (11, "y y y " + rare)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(dedup, "SUBSTR_MAX_BUCKET", 3)
    pairs = {(r.id_a, r.id_b)
             for r in dedup.substring_dedup_pairs(docs).collect()}
    assert pairs == {(10, 11)}


def test_quality_classifier_learns_separable_vocabulary(spark):
    """The vote model must ACTUALLY LEARN when the label is carried by
    vocabulary: label-1 docs use one token set (long, no punctuation ->
    quality 1.0), label-0 docs another (comma-suffixed tokens -> punct
    ratio ~0.17 -> quality ~0.83 < 0.9).  Held-out docs (doc_id % 5 != 0)
    must be classified perfectly — every label-1 token's bucket has
    pos == cnt (vote +1), every label-0 token's has pos == 0 (vote -1).
    The driver-registry corpus shows the documented opposite (near-zero
    lexical signal, held-out ~0.47): this test is the capability half of
    that honesty note."""
    from ocr_table_extractor_to_csv_spark.operators.textstats import (
        quality_classifier,
    )

    good = " ".join(f"alpha{i % 7}" for i in range(60))
    bad = " ".join(f"zork{i % 7}," for i in range(60))
    rows = [(i, good if i % 2 == 0 else bad) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = quality_classifier(docs).collect()
    assert {r.label for r in out} == {0, 1}  # both classes present
    held = [r for r in out if r.doc_id % 5 != 0]
    assert held and all((r.vote >= 0) == (r.label == 1) for r in held)
    assert all(r.pred == (r.vote >= 0) for r in out)


def test_score_quality_with_materialized_model_matches_composed(spark, tmp_path):
    """The production shape: train_quality_model written to parquet and
    reloaded must score ==-identically to the inline composed
    quality_classifier (model is a plain table, no session state)."""
    from ocr_table_extractor_to_csv_spark.operators.textstats import (
        quality_classifier,
        score_quality,
        train_quality_model,
    )

    good = "the quick brown fox jumps over the lazy dog again and again. " * 3
    bad = " ".join(f"zork{i % 7}," for i in range(60))
    docs = spark.createDataFrame(
        [(i, good if i % 2 == 0 else bad) for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "qc_model.parquet")
    train_quality_model(docs).write.parquet(path)
    reloaded = spark.read.parquet(path)
    key = lambda r: (r.doc_id, r.n_tokens, r.label, r.vote, r.pred)  # noqa: E731
    assert sorted(map(key, score_quality(docs, reloaded).collect())) == sorted(
        map(key, quality_classifier(docs).collect())
    )


def test_semdedup_exact_duplicate_dropped_keeper_kept(spark):
    """SemDeDup keeper rule on the real sf embeddings PLUS a planted exact
    duplicate: an appended copy of an existing vector (new max vec_id)
    must land in the same cluster and be marked is_keeper=False (its
    lower-id twin has cosine 1.0), while the twin's own verdict is
    unchanged vs the run without the copy."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base_out = {r.vec_id: (r.cid, r.is_keeper)
                for r in similarity.semdedup(emb).collect()}
    first = emb.orderBy("vec_id").limit(1).collect()[0]
    clone_id = max(base_out) + 1_000_000
    # keep the clone OUT of the IVF training sample (vec_id % sample_mod
    # == 0 would admit it, shift the Lloyd sums, and invalidate the
    # 'twin verdict unchanged' assertion on regenerated fixtures)
    while clone_id % similarity.IVF_SAMPLE_MOD == 0:
        clone_id += 1
    clone = spark.createDataFrame(
        [(clone_id, first.embedding)], emb.select("vec_id", "embedding").schema
    )
    out = {r.vec_id: (r.cid, r.is_keeper)
           for r in similarity.semdedup(
               emb.select("vec_id", "embedding").unionByName(clone)
           ).collect()}
    assert out[clone_id][0] == out[first.vec_id][0]  # same cluster
    assert out[clone_id][1] is False                 # the copy is the dup
    assert out[first.vec_id][1] == base_out[first.vec_id][1]


def test_line_dedup_within_page_first_occurrence_order_and_tail(spark, monkeypatch):
    """The load-bearing claim: kept chunks preserve FIRST-occurrence order
    (Spark array_distinct semantics the oracle mirrors explicitly), the
    sub-chunk tail re-attaches, chunkless docs pass through tail-only."""
    from ocr_table_extractor_to_csv_spark.operators.dedup import (
        line_dedup_within_page,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d a b e f c d x"),  # chunks: ab cd ab ef cd + tail x
            (1, "short"),  # < 1 chunk: tail-only passthrough
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(dedup, "CHUNK_TOKENS", 2)
    out = {r.doc_id: r for r in line_dedup_within_page(docs).collect()}
    assert (out[0].n_chunks, out[0].n_kept) == (5, 3)
    assert out[0].text_clean == "a b c d e f x"  # order kept, dups cut
    assert (out[1].n_chunks, out[1].n_kept) == (0, 0)
    assert out[1].text_clean == "short"


def test_line_dedup_within_page_is_map_only(spark):
    from ocr_table_extractor_to_csv_spark.operators.dedup import (
        line_dedup_within_page,
    )

    docs = spark.createDataFrame(
        [(i, f"t{i} " * 25) for i in range(10)], "doc_id long, text string"
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = (
        line_dedup_within_page(docs)._jdf.queryExecution().explainString(mode)
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_cluster_stats_accounting_and_invariance(spark):
    """cluster_stats conservation + exactness: n_vecs sums to the corpus
    size; integer ppm shares sum to 1e6 minus at most n_clusters flooring
    ulps; cids agree with assign_centroids; and the output is ==-identical
    under repartitioning (integer arithmetic claim)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out = similarity.cluster_stats(emb).collect()
    total = emb.count()
    assert sum(r.n_vecs for r in out) == total
    ppm = sum(r.share_ppm for r in out)
    assert 1_000_000 - len(out) <= ppm <= 1_000_000
    # cid histogram matches an independent assign_centroids pass
    cents = similarity.train_ivf_centroids(emb)
    hist = {
        r.cid: r.cnt
        for r in similarity.assign_centroids(emb, cents)
        .groupBy("cid").agg(F.count("*").alias("cnt")).collect()
    }
    assert {r.cid: r.n_vecs for r in out} == hist
    key = lambda r: (r.cid, r.n_vecs, r.share_ppm)  # noqa: E731
    again = similarity.cluster_stats(emb.repartition(7, "vec_id")).collect()
    assert sorted(map(key, out)) == sorted(map(key, again))


def test_mix_sample_integer_and_fractional_epochs(spark, monkeypatch):
    """mix_sample copy semantics: epochs exactly 2.0 -> EVERY doc emitted
    exactly twice (copy 1..2, no u-gate involvement); epochs 0.5 -> each
    doc 0-or-1 copies with a nonempty strict subset kept.  Zero-weight
    sources emit nothing."""
    from ocr_table_extractor_to_csv_spark.operators import textstats
    from ocr_table_extractor_to_csv_spark.operators.textstats import mix_sample

    monkeypatch.setattr(textstats, "MIX_WEIGHTS", {"src_a": 1.0})
    docs = spark.createDataFrame(
        [(i, "src_a" if i < 40 else "src_b", " ".join(f"t{j}" for j in range(10)))
         for i in range(50)],
        "doc_id long, source string, text string",
    )
    # src_a: 40 docs x 10 tokens = 400 available; budget*1.0 = 800 -> e = 2.0
    monkeypatch.setattr(textstats, "MIX_BUDGET", 800)
    two = mix_sample(docs).collect()
    assert {r.source for r in two} == {"src_a"}  # src_b weight 0: nothing
    per_doc = {}
    for r in two:
        per_doc.setdefault(r.doc_id, []).append(r.copy)
    assert len(per_doc) == 40 and all(sorted(c) == [1, 2] for c in per_doc.values())
    # budget 200 -> e = 0.5: deterministic u-gated subset, 0 < kept < 40
    monkeypatch.setattr(textstats, "MIX_BUDGET", 200)
    half = mix_sample(docs).collect()
    kept = {r.doc_id for r in half}
    assert 0 < len(kept) < 40 and all(r.copy == 1 for r in half)


def test_gopher_rules_hand_cases(spark):
    """Each Gopher rule (Rae et al. 2021 A1.1) exercised by a crafted doc;
    the all-pass doc sits ON the mean-word-len lower boundary (3.0) so the
    >= comparison itself is pinned."""
    from ocr_table_extractor_to_csv_spark.operators.textstats import gopher_rules

    base = "the be to of and that have with "  # 8 stopwords, mean len 3.0
    docs = spark.createDataFrame(
        [
            (0, base * 7),                         # 56 words -> keep
            (1, "the be to of"),                   # word count + mean len fail
            (2, "\n".join(["- item " + base] * 10)),   # bullet ratio 1.0
            (3, "\n".join([base + "more..."] * 10)),   # ellipsis ratio 1.0
            (4, base * 7 + " ".join(["#"] * 8)),   # symbols 8/64 > 0.1
            (5, base + " ".join(str(n) for n in range(48))),  # alpha 8/56
            (6, "zz " * 55),                       # stop hits 0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_rules(docs).collect()}

    assert out[0]["keep"] and out[0]["n_words"] == 56
    assert out[0]["mean_word_len"] == 3.0 and out[0]["mean_len_ok"]
    assert out[0]["stop_hits"] == 56

    assert not out[1]["word_count_ok"] and not out[1]["mean_len_ok"]
    assert out[1]["stop_ok"] and not out[1]["keep"]

    assert out[2]["bullet_line_ratio"] == 1.0 and not out[2]["bullet_ok"]
    assert out[3]["ellipsis_line_ratio"] == 1.0 and not out[3]["ellipsis_ok"]
    # the trailing '...' also counts as a symbol; doc 3 still fails only
    # via rules we assert, keep stays False
    assert not out[3]["keep"]

    assert out[4]["symbol_ratio"] == pytest.approx(8 / 64) and not out[4]["symbol_ok"]
    assert not out[5]["alpha_ok"] and out[5]["alpha_word_ratio"] == pytest.approx(
        8 / 56, abs=1e-5
    )
    assert out[6]["stop_hits"] == 0 and not out[6]["stop_ok"] and not out[6]["keep"]


def test_url_filter_hand_cases(spark, monkeypatch):
    """One crafted URL per rule; thresholds tightened so each flag flips
    exactly where intended."""
    from ocr_table_extractor_to_csv_spark.operators import weburl
    from ocr_table_extractor_to_csv_spark.operators.weburl import url_filter

    monkeypatch.setattr(weburl, "URL_MAX_PATH_DEPTH", 3)
    monkeypatch.setattr(weburl, "URL_MAX_PARAMS", 2)
    monkeypatch.setattr(weburl, "URL_MAX_HOST_DIGIT_RATIO", 0.25)
    monkeypatch.setattr(weburl, "URL_BLOCKLIST", ("bad.example.com",))

    docs = spark.createDataFrame(
        [
            (0, "http://ok.example.com/a/b?x=1"),
            (1, "http://bad.example.com/a"),
            (2, "http://ok.example.com/a?p1=1&p2=2&p3=3"),
            (3, "http://ok.example.com/a/b/c/d/e"),
            (4, "http://spin-casino.example.com/x"),
            (5, "http://123456.example.com/x"),
        ],
        "doc_id long, url string",
    )
    out = {
        r["doc_id"]: r
        for r in url_filter(docs).collect()
    }
    assert out[0]["keep"] and out[0]["n_params"] == 1 and out[0]["path_depth"] == 2
    assert out[1]["host_blocked"] and not out[1]["keep"]
    assert out[2]["too_many_params"] and out[2]["n_params"] == 3
    assert out[3]["path_too_deep"] and out[3]["path_depth"] == 5
    assert out[4]["banned_hit"] and not out[4]["keep"]
    assert out[5]["digit_host"] and out[5]["host_digit_ratio"] == pytest.approx(
        6 / len("123456.example.com"), abs=1e-5
    )
    for i in range(1, 6):
        assert not out[i]["keep"]


def test_domain_cap_hand_case_and_window_equivalence(spark, monkeypatch):
    """Two-phase salted min-k == plain ROW_NUMBER()<=cap: a hand case with
    an uneven host, then equivalence against the window reference on the
    synth-URL corpus (the shape the oracle uses)."""
    from pyspark.sql import Window

    from ocr_table_extractor_to_csv_spark.operators import weburl
    from ocr_table_extractor_to_csv_spark.operators.weburl import (
        canonicalize_url,
        domain_cap,
        with_synth_url,
    )

    rows = [(i, "http://a.com/p") for i in range(10)] + [
        (100 + i, "https://b.com/q") for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    monkeypatch.setattr(weburl, "DOMAIN_CAP", 3)
    monkeypatch.setattr(weburl, "DOMAIN_SALT_MOD", 2)
    got = [
        (r["host"], r["doc_id"], r["domain_rank"])
        for r in domain_cap(docs).collect()
    ]
    assert got == [
        ("a.com", 0, 1), ("a.com", 1, 2), ("a.com", 2, 3),
        ("b.com", 100, 1), ("b.com", 101, 2), ("b.com", 102, 3),
    ]

    synth = with_synth_url(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    cap = 4
    monkeypatch.setattr(weburl, "DOMAIN_CAP", cap)
    monkeypatch.setattr(weburl, "DOMAIN_SALT_MOD", 3)
    ref = (
        synth.select(
            "doc_id",
            F.regexp_extract(
                canonicalize_url(F.col("url")), r"^[^:/?#]+://([^/?#]*)", 1
            ).alias("host"),
        )
        .withColumn(
            "domain_rank",
            F.row_number().over(Window.partitionBy("host").orderBy("doc_id")),
        )
        .where(F.col("domain_rank") <= cap)
    )
    got2 = {
        (r["host"], r["doc_id"], r["domain_rank"])
        for r in domain_cap(synth).collect()
    }
    want = {(r["host"], r["doc_id"], r["domain_rank"]) for r in ref.collect()}
    assert got2 == want


def test_normalize_text_hand_cases(spark):
    """Every NORMALIZE_RULES entry pinned on crafted docs, plus the rule
    ORDERING interactions the chain depends on: NBSP folds BEFORE the
    space-collapse (so folded spaces collapse too), CRLF folds BEFORE the
    blank-line cap, tab-collapse runs BEFORE newline-adjacent-space strip."""
    from ocr_table_extractor_to_csv_spark.operators.textstats import normalize_text

    docs = spark.createDataFrame(
        [
            (0, "a  b"),                      # NBSP run -> ONE space
            (1, "‘x’ “y” – z…"),  # quotes/dash/ellipsis
            (2, "a\x01b\x1fc\x7fd"),                    # control chars dropped
            (3, "l1\r\nl2\rl3"),                        # CRLF + bare CR -> LF
            (4, "p1\r\n\r\n\r\n\r\np2"),                # 4 blank-line run -> one
            (5, "  a\t\tb  \n  c  "),                   # tabs/runs/edges/trim
            (6, ""),                                    # empty stays empty
            (7, "already clean"),                       # changed = False
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in normalize_text(docs).collect()}

    assert out[0]["text_norm"] == "a b" and out[0]["changed"]
    assert out[0]["n_chars_raw"] == 4 and out[0]["n_chars_norm"] == 3
    assert out[1]["text_norm"] == "'x' \"y\" - z..."
    assert out[2]["text_norm"] == "abcd"
    assert out[3]["text_norm"] == "l1\nl2\nl3"
    assert out[4]["text_norm"] == "p1\n\np2"
    assert out[5]["text_norm"] == "a b\nc"
    assert out[6]["text_norm"] == "" and not out[6]["changed"]
    assert out[7]["text_norm"] == "already clean" and not out[7]["changed"]
