"""Physical-plan quality gates: the promises in README/SURVEY §4 must show
up in .explain output — column pruning to (url, html) at the scan, predicate
pushdown into parquet, and AQE broadcast of a small resume anti-join."""

import pytest
from pyspark.sql import functions as F

from ocr_table_extractor_to_csv_spark.operators.extract import extract_pages
from ocr_table_extractor_to_csv_spark.plans.resume import pending_pages


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    from ocr_table_extractor_to_csv_spark.sources.pages import fixture_pages

    path = str(tmp_path_factory.mktemp("plans") / "pages")
    fixture_pages(spark, scale=0.1).select(
        "url", "warc_ts", "html", "text", "lang"
    ).write.mode("overwrite").parquet(path)
    return path


def _formatted(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_scan_prunes_to_url_html(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    plan = _formatted(spark, extract_pages(pages, layout="generic"))
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # text (the biggest other column) and warc_ts must NOT be read
    assert "url" in read and "html" in read
    assert "text" not in read and "warc_ts" not in read and "lang" not in read


def test_lang_filter_pushed_down(spark, pages_path):
    pages = spark.read.parquet(pages_path).where(F.col("lang") == "es")
    plan = _formatted(spark, extract_pages(pages, layout="financial"))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "EqualTo(lang,es)" in pushed


def test_small_progress_anti_join_broadcasts_at_runtime(spark, pages_path):
    pages = spark.read.parquet(pages_path).select("url", "html")
    progress = spark.createDataFrame(
        [("https://fixtures.test/generic4/000000", "done")], "url string, status string"
    )
    pend = pending_pages(pages.select("url"), progress)
    jdf = pend._jdf  # hold THIS dataset's queryExecution
    pend.collect()  # execute it so AQE finalizes the physical plan
    executed = jdf.queryExecution().executedPlan().toString()
    # AQE must have replaced the static sort-merge anti join with a broadcast
    assert "isFinalPlan=true" in executed
    assert "BroadcastHashJoin" in executed, executed[:2000]


def test_similarity_topk_no_python_udf_in_plan(spark):
    from ocr_table_extractor_to_csv_spark.operators.similarity import brute_force_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(100)], "vec_id long, embedding array<float>"
    )
    plan = _formatted(spark, brute_force_topk(emb))
    # dot products stay JVM-side: no Python/Arrow eval nodes
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curate_single_scan_single_shuffle(spark):
    """The composed curation decision, pinned at the r6 skew-safe shape
    (r5 verdict #2): the keeper election is groupBy(fp) + join-back on
    doc_id — exactly ONE shuffle exchange (the fp agg, map-side partials),
    NO window over the data-skewed fingerprint, no Python.  The join-back
    re-reads the pruned (doc_id, text) projection (2 scan nodes) — the
    deliberate trade vs a window: a second columnar scan is splittable and
    cheap; a viral-fingerprint window partition is neither."""
    import re

    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["curate"](spark, "/root/testdata/sf0.001")
    plan = _formatted(spark, df)
    # exactly ONE key (hash) exchange — the fp agg.  r7: the query-level
    # scale-adaptive fan-out (__spark_entry__._fan) may add round-robin
    # exchanges on tiny inputs; those are not keyed shuffles and vanish at
    # scale, so the pin counts hashpartitioning exchanges only.
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1
    # the fan-out adds exchanges, never scans: the projection is read twice
    n = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
    assert n == 2, f"{n} parquet scan nodes"
    assert "Window" not in plan, "keeper election regressed to a window"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curate_neardup_filters_before_join(spark):
    """curate_neardup: lang/quality predicates must run below the keeper
    join (only gate-survivors shuffle), and the scoring side stays JVM-only
    (Python appears nowhere — the whole query is column expressions +
    joins)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["curate_neardup"](spark, "/root/testdata/sf0.001")
    plan = _formatted(spark, df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the quality/lang gate predicate must appear in the plan (it runs as a
    # Filter below the keeper join, not as a post-join filter)
    assert "lang_pred" in plan and ">= 0.5" in plan, "gate predicate missing from plan"


def test_args_dispatch_single_documents_scan(spark):
    """The 3-variant args-dispatch query must synthesize every variant from
    ONE scan of documents."""
    import re

    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["extract_args_dispatch"](spark, "/root/testdata/sf0.001")
    plan = _formatted(spark, df)
    n = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
    assert n == 1, f"documents scanned {n} times"


def test_pipeline_full_single_cached_corpus_scan(spark):
    """The composed pipeline (scoring + decontaminate + keeper election +
    packing) must reuse ONE cached (doc_id, text) projection: the final
    plan reads the corpus exclusively through InMemoryTableScan — zero
    direct parquet scans of documents (r3 verdict #8: operators compose
    without recomputation)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["pipeline_full"](spark, "/root/testdata/sf0.001")
    plan = _formatted(spark, df)
    doc_scans = [
        l for l in plan.splitlines() if "Scan parquet" in l and "documents" in l
    ]
    assert not doc_scans, f"documents rescanned: {doc_scans}"
    assert "InMemoryTableScan" in plan


def test_pipeline_full_v2_url_pass0_zero_extra_scans(spark):
    """pipeline_full_v2 (URL dedup as pass 0): the canonicalization +
    keeper election must derive from the SAME shared projection as the
    content passes — still zero direct parquet scans of documents, and no
    Python eval nodes anywhere (canonicalize_url is pure JVM regex)."""
    import __spark_entry__ as entry_mod

    import re

    df = entry_mod.queries()["pipeline_full_v2"](spark, "/root/testdata/sf0.001")
    plan = _formatted(spark, df)
    doc_scans = [
        l for l in plan.splitlines() if "Scan parquet" in l and "documents" in l
    ]
    assert not doc_scans, f"documents rescanned: {doc_scans}"
    # exactly ONE scan node total: the cached projection's own build plan
    # (same budget as pipeline_full — pass 0 must not add a second read)
    n = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
    assert n <= 1, f"{n} parquet scan nodes"
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pipeline_full_materialize_table_plan_and_parity(spark, tmp_path):
    """With a work dir (the 100 TB mode — r4 verdict #2) the plan must read
    the corpus exclusively through the pruned parquet LANDING table — zero
    scans of the original documents source, zero cache — and produce rows
    identical to the cache mode."""
    from ocr_table_extractor_to_csv_spark.operators.curation import curate_pipeline
    from ocr_table_extractor_to_csv_spark.plans.scope import RunScope

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with RunScope(spark) as scope:
        cached = curate_pipeline(docs, scope=scope).orderBy("doc_id").collect()

    with RunScope(spark, str(tmp_path / "work")) as scope:
        landed_df = curate_pipeline(docs, scope=scope)
        plan = _formatted(spark, landed_df)
        # every parquet scan reads the landing table; the original documents
        # source is never rescanned (decontaminate's small eval-shingle cache
        # may still appear as an InMemoryTableScan — that one is intentional)
        assert "curate_base" in plan
        assert "documents.parquet" not in plan, "source rescanned in table mode"
        assert scope.facts["landed"][0]["path"].startswith(scope.run_dir)
        assert landed_df.orderBy("doc_id").collect() == cached


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval-set side of the overlap join must BROADCAST (benchmark
    suites are tiny vs a 100 TB corpus — a shuffle join here would shuffle
    the whole corpus's shingles)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["decontaminate"](spark, "/root/testdata/sf0.001")
    plan = _formatted(spark, df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_and_sampling_jvm_only_single_scan(spark):
    """pii_scrub, sample_stratified, and repetition_stats are map-only
    passes: one scan, no shuffle, no Python (repetition via per-doc
    array_sort + fold instead of an explode/groupBy token shuffle)."""
    import re

    import __spark_entry__ as entry_mod

    for name in ("pii_scrub", "sample_stratified", "repetition_stats"):
        df = entry_mod.queries()[name](spark, "/root/testdata/sf0.001")
        plan = _formatted(spark, df)
        assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 1, name
        # r7: the scale-adaptive fan-out (__spark_entry__._fan) may add a
        # round-robin exchange on tiny inputs (identity at scale); the
        # map-only contract forbids KEYED shuffles — hash or range —
        # which is what would break at 100 TB.
        assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_ivf_and_embedding_dedup_jvm_only(spark):
    """The IVF assignment and embedding-dedup pipelines must stay JVM-side
    column expressions end to end — no Python/Arrow eval nodes."""
    from ocr_table_extractor_to_csv_spark.operators.similarity import (
        cosine_dup_pairs,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for df in (ivf_topk(emb), cosine_dup_pairs(emb)):
        plan = _formatted(spark, df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixed_dispatch_single_documents_scan(spark):
    """The 4-family mixed-dispatch query must synthesize every family from
    ONE scan of documents (a per-family union would scan it 4x)."""
    import re

    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["extract_mixed_dispatch"](spark, "/root/testdata/sf0.001")
    plan = _formatted(spark, df)
    n = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
    assert n == 1, f"documents scanned {n} times"


def test_lsh_topk_single_sketch_scan(spark, tmp_path_factory):
    """r01 verdict #3: the 8-table union scanned embeddings once PER table.
    The single-pass sketch must read the parquet a bounded number of times
    (sketch + candidate fetch + broadcast query fetch = 3), with no Python
    eval nodes and no per-row md5 weight derivation."""
    from ocr_table_extractor_to_csv_spark.operators.similarity import lsh_topk

    path = str(tmp_path_factory.mktemp("emb") / "embeddings")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").write.mode(
        "overwrite"
    ).parquet(path)
    emb = spark.read.parquet(path)
    plan = _formatted(spark, lsh_topk(emb))
    # formatted explain prints each scan node twice (tree + detail section);
    # count unique node ids.  4 = band self-join sides (the query side's
    # vec_id filter is pushed below the sketch projections, so the full
    # 48-projection sketch runs once) + candidate fetch + broadcast q fetch.
    import re

    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
    assert n_scans <= 4, f"embeddings scanned {n_scans} times"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "md5" not in plan, "plane weights must be precomputed literals"


def test_url_dedup_single_shuffle_no_python(spark):
    """url_dedup is ONE hash groupBy over JVM string expressions: a single
    exchange (plus the orderBy's range exchange) and no Python eval nodes —
    the cheapest member of the dedup family must stay that way."""
    import re

    from ocr_table_extractor_to_csv_spark.operators.weburl import (
        url_dedup,
        with_synth_url,
    )

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(50)], "doc_id long, source string"
    )
    plan = _formatted(spark, url_dedup(with_synth_url(docs)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly 3 exchanges: countDistinct(_raw)'s two-phase exact-distinct
    # aggregate (partial by (canon_url, _raw), final by canon_url) plus the
    # output orderBy's range exchange.  A 4th exchange would mean the
    # canonicalization stopped being map-side.
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 3, plan[:3000]


def test_bloom_dedup_seen_never_shuffles_for_confirm(spark):
    """bloom_dedup's plan contract at 100 TB: the definite-'new' path is
    map-only against the literal bitmap (no join), and BOTH confirm joins
    broadcast the tiny maybe-set side — the seen corpus appears only as
    the probe of broadcast joins, never as a shuffle-exchange input.  All
    JVM-side."""
    import re

    from ocr_table_extractor_to_csv_spark.operators.dedup import bloom_dedup

    seen = spark.createDataFrame(
        [(i, f"seen doc {i} body words") for i in range(40)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, f"{'seen' if i % 2 else 'new'} doc {i} body words") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _formatted(spark, bloom_dedup(seen, new))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, flags=re.M)) == 2
    # no sort-merge / shuffled-hash join anywhere: a shuffle join here means
    # the seen side stopped being map-only
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_line_dedup_clean_no_window(spark):
    """line_dedup_clean's winner election must stay the skew-safe
    groupBy+join-back shape: NO window over the chunk digest (window
    partitions cannot be split — a boilerplate-hot chunk would sort in
    one task; AQE skew mitigation only covers sort-merge joins), and no
    Python eval nodes."""
    from ocr_table_extractor_to_csv_spark.operators.dedup import line_dedup_clean

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j % 5}" for j in range(25))) for i in range(30)],
        "doc_id long, text string",
    )
    plan = _formatted(spark, line_dedup_clean(docs))
    assert "Window" not in plan, "winner election regressed to a window"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucket_caps_and_elections_never_window_on_data_keys(spark):
    """r5 verdict #2, pinned repo-wide: the hot-bucket cap counts
    (minhash/simhash/embedding LSH) and the exact-dup keeper election must
    use groupBy + join-back, never ``count()/min() OVER (PARTITION BY
    <data-skewed key>)`` — a 10^8-member boilerplate bucket would have to
    materialize inside ONE unsplittable window task (AQE skew mitigation
    covers sort-merge joins only).  Windows keyed on query_id/shard remain
    legitimate; none of these plans needs ANY window."""
    from ocr_table_extractor_to_csv_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from ocr_table_extractor_to_csv_spark.operators.similarity import (
        cosine_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i + j) % 9}" for j in range(12))) for i in range(25)],
        "doc_id long, text string",
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for name, df in [
        ("minhash_lsh_pairs", minhash_lsh_pairs(docs)),
        ("simhash_pairs", simhash_pairs(docs)),
        ("cosine_dup_pairs", cosine_dup_pairs(emb)),
    ]:
        plan = _formatted(spark, df)
        assert "Window" not in plan, f"{name}: cap count regressed to a window"
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_pipeline_full_v3_clean_pass_single_source_scan(spark):
    """pipeline_full_v3 (C4 cleaning as pass 1): every downstream branch
    must read the materialized CLEANED projection — the documents source
    is scanned only inside the cached base's build, never directly by the
    final plan; the chunk election stays window-free; no Python eval."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["pipeline_full_v3"](spark, "/root/testdata/sf0.001")
    plan = _formatted(spark, df)
    doc_scans = [
        l for l in plan.splitlines() if "Scan parquet" in l and "documents" in l
    ]
    assert not doc_scans, f"documents rescanned: {doc_scans}"
    assert "InMemoryTableScan" in plan
    # (the per-shard packing window is legitimate — shard is a chosen
    # modulus, not a data key; the chunk election's window-freedom is
    # pinned on line_dedup_clean directly)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_line_dedup_plan_shape(spark):
    """line_dedup's two-pass shape, pinned: explode feeds a chunk-keyed
    sort-merge self-join against the countDistinct aggregate (2 exchanges
    for the exact-distinct two-phase + 1 for the join's probe side), then
    one per-doc groupBy exchange and the output sort's range exchange —
    5 total, all JVM-side.  A 6th exchange or a Python eval node means the
    chunking expression fell off the codegen path."""
    import re

    from ocr_table_extractor_to_csv_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j % 7}" for j in range(25))) for i in range(40)],
        "doc_id long, text string",
    )
    plan = _formatted(spark, line_dedup(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 5, plan[:3000]


def test_substring_dedup_no_window_no_python(spark):
    """substring_dedup_pairs must keep the skew-safe shape end to end: the
    hot-anchor cap is the shared groupBy+join-back (no window over the
    anchor key — a boilerplate span shared by 10^6 docs is exactly the
    hot key), and the whole plan is JVM-only column expressions."""
    from ocr_table_extractor_to_csv_spark.operators.dedup import (
        substring_dedup_pairs,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(10)],
        "doc_id long, text string",
    )
    plan = _formatted(spark, substring_dedup_pairs(docs))
    assert "Window" not in plan, "hot-anchor cap regressed to a window"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_classifier_broadcasts_model(spark):
    """quality_classifier's corpus-side plan must join the <= n_buckets
    stats table and the 1-row global via BROADCAST joins only — the
    exploded corpus token stream must never shuffle against itself (no
    SortMergeJoin / ShuffledHashJoin anywhere), and must stay JVM-only."""
    from ocr_table_extractor_to_csv_spark.operators.textstats import (
        quality_classifier,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j % 11}" for j in range(30))) for i in range(20)],
        "doc_id long, text string",
    )
    plan = _formatted(spark, quality_classifier(docs))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_classifier_splits_tokens_once_per_use(spark):
    """The classifier's token rows compute the token split once for the
    label and once for the exploded tokens: no filter inferred from the
    explode recomputes it below the label projection."""
    from ocr_table_extractor_to_csv_spark.operators.textstats import _qc_token_rows

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j % 11}" for j in range(30))) for i in range(20)],
        "doc_id long, text string",
    )
    plan = _qc_token_rows(docs, 64, 0.5)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(") == 2, plan


def test_mix_sample_plan_broadcasts_to_corpus(spark):
    """mix_sample's per-source plan (bounded rows) must reach the corpus
    scan as a BROADCAST join — the doc side never shuffles for the join
    (the only Exchange allowed on it is the final orderBy's range
    partitioning), and the whole plan stays JVM-only."""
    from ocr_table_extractor_to_csv_spark.operators.textstats import mix_sample

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "a b c d e") for i in range(30)],
        "doc_id long, source string, text string",
    )
    plan = _formatted(spark, mix_sample(docs, budget_tokens=100))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_exactly_two_joins_no_window(spark):
    """semdedup's cid must be computed INLINE in the scan projection
    (centroid_cid_expr), never glued onto the vectors via a vec_id
    self-join: the plan has exactly TWO joins — the within-cluster pair
    join (the one payload shuffle, on cid) and the id-only keeper-verdict
    join — plus zero windows and zero Python nodes.  A third join means
    the assignment join-back regressed (r6 review: it doubled shuffle
    volume and tripled the embedding scan payload)."""
    import re

    from ocr_table_extractor_to_csv_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(8)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    plan = _formatted(spark, sim.semdedup(emb, n_centroids=4))
    joins = re.findall(r"\(\d+\) \w*Join", plan)
    assert len(joins) == 2, joins
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gopher_rules_map_only(spark):
    """gopher_rules is the first content gate at 100 TB: it must be pure
    column expressions — zero exchange, zero window, zero Python."""
    from ocr_table_extractor_to_csv_spark.operators.textstats import gopher_rules

    docs = spark.createDataFrame(
        [(i, "the be to of and that have with more") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _formatted(spark, gopher_rules(docs))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_filter_broadcasts_blocklist_corpus_never_shuffles(spark):
    """The blocklist is DATA (10^6-row curated lists in real pipelines):
    it must arrive as a BroadcastHashJoin build side; the corpus side
    must not hash-shuffle and no Python may appear."""
    from ocr_table_extractor_to_csv_spark.operators.weburl import (
        url_filter,
        with_synth_url,
    )

    docs = with_synth_url(
        spark.createDataFrame(
            [(i, f"t{i}", "src%d" % (i % 3)) for i in range(30)],
            "doc_id long, text string, source string",
        )
    )
    plan = _formatted(spark, url_filter(docs, ["src0.example.com"]))
    assert "BroadcastHashJoin" in plan, "blocklist join must broadcast"
    assert "Exchange hashpartitioning" not in plan, "corpus must not shuffle"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_domain_cap_first_window_is_salted(spark):
    """domain_cap's phase-1 window must include the salt in its partition
    spec (bounding every window partition to ~1/salt_mod of the hottest
    domain); the host-only window is legal ONLY because its input is
    pre-capped at salt_mod x cap rows per host.  Pin: exactly two Window
    nodes and the salt column appears in the plan's partition specs."""
    from ocr_table_extractor_to_csv_spark.operators.weburl import (
        domain_cap,
        with_synth_url,
    )

    docs = with_synth_url(
        spark.createDataFrame(
            [(i, f"t{i}", "src%d" % (i % 3)) for i in range(30)],
            "doc_id long, text string, source string",
        )
    )
    plan = _formatted(spark, domain_cap(docs, cap=3, salt_mod=4))
    assert plan.count("Window") >= 2
    assert "_salt" in plan, "phase-1 window lost its salt"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmv_distinct_plan_salted_and_partial_dedup(spark):
    """kmv_distinct at 100 TB: the (source, h) distinct must compile to a
    partial/final HashAggregate pair (viral duplicate shingles collapse
    map-side, before the wire), and the phase-1 min-k window must carry
    the salt (no task sorts a whole source's distinct set).  No Python
    eval nodes anywhere."""
    from ocr_table_extractor_to_csv_spark.operators.sketches import kmv_distinct

    docs = spark.createDataFrame(
        [(i, "src%d" % (i % 3), f"a b c d{i}") for i in range(30)],
        "doc_id long, source string, text string",
    )
    plan = _formatted(spark, kmv_distinct(docs, salt_mod=4))
    assert "partial_" in plan or "HashAggregate" in plan
    assert plan.count("Window") >= 2
    assert "_salt" in plan, "phase-1 window lost its salt"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pagerank_weights_join_broadcasts(spark):
    """pagerank_weights at 100 TB: the host-rank table (host-cardinality,
    tiny vs the corpus) must BROADCAST onto the corpus scan — the corpus
    side never shuffles for this join."""
    import __spark_entry__ as entry_mod

    plan = _formatted(
        spark, entry_mod.q_pagerank_weights(spark, "/root/testdata/sf0.001")
    )
    assert "BroadcastHashJoin" in plan
    tail = plan.split("BroadcastHashJoin", 1)[0]
    # the docs-side scan feeding the join must not sit behind an Exchange
    # other than the broadcast one
    assert "Exchange hashpartitioning(doc_id" not in tail


def test_normalize_text_map_only(spark):
    """normalize_text fuses into the extraction scan at 100 TB: pure
    sequential regexp_replace column expressions — zero exchange, zero
    window, zero Python."""
    from ocr_table_extractor_to_csv_spark.operators.textstats import normalize_text

    docs = spark.createDataFrame(
        [(i, "some  text\r\n\r\n\r\nmore") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _formatted(spark, normalize_text(docs))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
