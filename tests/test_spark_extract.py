"""Spark-layer tests: the distributed pipeline must equal the single-process
kernel byte-for-byte (distribution independence), resume must be exact, and
lineage manifests must account for every input row."""

import hashlib
import json
import uuid
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from ocr_table_extractor_to_csv_spark.operators.extract import extract_pages
from ocr_table_extractor_to_csv_spark.plans.lineage import build_manifests
from ocr_table_extractor_to_csv_spark.plans.resume import (
    COMMITTED_SCHEMA,
    PROGRESS_SCHEMA,
    pending_pages,
    read_progress,
)
from ocr_table_extractor_to_csv_spark.session import DEFAULT_CONF
from ocr_table_extractor_to_csv_spark.sources.pages import fixture_pages, grid_hocr

GOLDEN = Path(__file__).parent / "goldens" / "fixture_manifest.json"


def sha(b):
    return hashlib.sha256(b).hexdigest()


@pytest.fixture(scope="module")
def pages(spark):
    return fixture_pages(spark, scale=0.3).cache()


GIANT_THRESHOLD = 50_000


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    """Fixture pages with giants over ``GIANT_THRESHOLD``, landed as
    parquet like a crawl drop."""
    path = str(tmp_path_factory.mktemp("pages") / "pages")
    fixture_pages(spark, scale=0.2, giant_tokens=3000).select(
        "url", "html", "layout", "args"
    ).write.parquet(path)
    return path


def test_spark_matches_kernel_goldens(spark, pages):
    """Every url extracted through mapInPandas (4-way parallel, per-row
    dispatch) must hash-match the frozen single-process goldens."""
    manifest = json.loads(GOLDEN.read_text())
    rows = extract_pages(pages, per_row_dispatch=True).collect()
    assert rows, "no rows extracted"
    for r in rows:
        want = manifest[r.url]
        assert sha(bytes(r.csv)) == want["csv_sha"], r.url
        assert r.n_rows == want["n_rows"] and r.n_cols == want["n_cols"], r.url
        if want["csv_numeric_sha"] is not None:
            assert sha(bytes(r.csv_numeric)) == want["csv_numeric_sha"], r.url
        assert r.error is None, (r.url, r.error)


def test_partitioning_is_content_neutral(spark, pages):
    """Repartitioning the input must not change any output byte."""
    base = {
        r.url: sha(bytes(r.csv))
        for r in extract_pages(pages, per_row_dispatch=True).collect()
    }
    spread = pages.select("url", "html", "layout", "args").repartition(8)
    got = {
        r.url: sha(bytes(r.csv))
        for r in extract_pages(spread, per_row_dispatch=True).collect()
    }
    assert got == base
    assert spread.rdd.getNumPartitions() == 8


def test_arrow_batch_size_is_content_neutral(spark, pages):
    """The kernel must be stateless across Arrow batch boundaries: batches
    cut at 4 rows or at 64 KiB yield byte-identical output to the session
    defaults — the invariant that lets the session bound batches by rows
    and by bytes, with giants and small pages in one write."""
    base = {
        r.url: sha(bytes(r.csv))
        for r in extract_pages(pages, per_row_dispatch=True).collect()
    }
    for key, value in (
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "4"),
        ("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024)),
    ):
        prev = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            tiny = {
                r.url: sha(bytes(r.csv))
                for r in extract_pages(pages, per_row_dispatch=True).collect()
            }
        finally:
            spark.conf.set(key, prev)
        assert tiny == base, key


def test_arrow_batches_are_bounded_by_bytes(spark):
    """Under the session defaults a ``mapInArrow`` batch of large rows
    closes at the byte cap plus one row, long before the 256-row limit."""
    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    cap = int(DEFAULT_CONF[key])
    assert int(spark.conf.get(key)) == cap
    row_bytes, n = 3 * 1024 * 1024, 40

    def sizes(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"rows": [b.num_rows], "bytes": [b.column(0).nbytes]}
            )

    big = spark.range(0, n, numPartitions=1).select(
        F.repeat(F.lit("x"), row_bytes).alias("payload")
    )
    got = big.mapInArrow(sizes, "rows long, bytes long").collect()
    assert sum(r.rows for r in got) == n
    assert len(got) > 1
    for r in got:
        assert r.rows * row_bytes <= cap + row_bytes, (r.rows, r.bytes)


def test_malformed_rows_become_error_rows(spark):
    grid = grid_hocr("a1 b2 c3 d4 e5 f6 g7 h8".split())
    bad = spark.createDataFrame(
        [
            ("u1", None, None, None),
            ("u2", b"<html><p>hi there this is content</p></html>", None, None),
            ("u3", grid, "generic", "{bad"),
            ("u4", grid, "generic", "[1, 2]"),
            ("u5", grid, "generic", '{"table_bbox": 5}'),
            ("u6", grid, "generic", '{"expected_n_cols": 2}'),
        ],
        "url string, html binary, layout string, args string",
    )
    out = extract_pages(bad, per_row_dispatch=True).collect()
    by_url = {r.url: r for r in out}
    assert len(out) == 6
    assert by_url["u1"].error is None  # empty html -> empty result, no error
    assert by_url["u2"].error is None
    # unusable per-row args fail their own row, never the task or silently
    for url in ("u3", "u4", "u5"):
        assert by_url[url].error.startswith("args:"), by_url[url].error
        assert by_url[url].n_rows == 0
    assert by_url["u6"].error is None
    assert (by_url["u6"].n_rows, by_url["u6"].n_cols) == (1, 2)


def test_resume_anti_join_and_idempotent_commit(spark, pages, tmp_path, monkeypatch):
    """Two batches through the job body: batch 1 skips batch 0's urls, and a
    batch 1 that dies between its data write and its progress commit, then
    re-runs, commits every url exactly once."""
    import jobs.extract_job as ej

    ext_path = str(tmp_path / "extracted")
    prog_path = str(tmp_path / "progress")
    base = pages.select("url", "html", "layout", "args")

    def run(df, batch_id):
        ej.run_extract(
            spark, df, out=ext_path, progress_path=prog_path, batch_id=batch_id,
            per_row_dispatch=True,
        )

    # batch 0: first half (split by hash for determinism)
    b0 = base.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    run(b0, 0)

    # resume: pending excludes batch-0 urls exactly
    progress = read_progress(spark, prog_path)
    pend = pending_pages(base, progress)
    assert pend.count() == base.count() - b0.count()
    assert pend.join(b0.select("url"), "url", "inner").count() == 0

    # batch 1 over all pages: the first commit fails, the re-run must
    # replace the written data instead of duplicating it
    real_commit = ej.commit_progress
    calls = []

    def commit_fails_once(*args, **kwargs):
        calls.append(args)
        if len(calls) == 1:
            raise RuntimeError("killed before the progress commit")
        real_commit(*args, **kwargs)

    monkeypatch.setattr(ej, "commit_progress", commit_fails_once)
    with pytest.raises(RuntimeError, match="killed"):
        run(base, 1)
    run(base, 1)
    assert len(calls) == 2

    extracted = spark.read.parquet(ext_path)
    assert extracted.count() == base.count()
    assert extracted.select("url").distinct().count() == base.count()

    # after full progress, nothing is pending and no url is committed twice
    progress = read_progress(spark, prog_path)
    assert progress.count() == progress.select("url").distinct().count() == base.count()
    assert pending_pages(base, progress).count() == 0


def test_one_write_commits_both_passes(spark, pages_dir, tmp_path, monkeypatch):
    """``run_extract`` commits small pages and fanned-out giants in ONE
    write action, touches no session conf, and routes every giant to
    ``pass=giant``."""
    import jobs.extract_job as ej

    pages = spark.read.parquet(pages_dir)
    giants = {
        r.url
        for r in pages.where(F.length("html") >= GIANT_THRESHOLD).select("url").collect()
    }
    assert giants, "fixture giants must exercise the giant branch"
    calls = []
    real = ej.write_batch

    def spy(*args, **kwargs):
        calls.append(args)
        real(*args, **kwargs)

    monkeypatch.setattr(ej, "write_batch", spy)
    overwrite_key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(overwrite_key)
    keys = [
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.execution.arrow.maxBytesPerBatch",
        overwrite_key,
    ]
    before = {k: spark.conf.get(k) for k in keys}
    committed, facts = ej.run_extract(
        spark,
        pages,
        out=str(tmp_path / "out"),
        progress_path=str(tmp_path / "prog"),
        batch_id=0,
        per_row_dispatch=True,
        giant_threshold=GIANT_THRESHOLD,
    )
    assert len(calls) == 1, "one write action per batch"
    assert {k: spark.conf.get(k) for k in keys} == before
    rows = committed.select("url", "pass").collect()
    assert {r.url for r in rows if r["pass"] == "giant"} == giants
    assert len(rows) == len({r.url for r in rows}) == pages.count()
    assert (facts["rows"], facts["batch_id"]) == (len(rows), 0)


def test_lineage_manifest_accounts_for_all_rows(spark, pages):
    extracted = extract_pages(pages, per_row_dispatch=True).cache()
    manifests = build_manifests(extracted)
    totals = manifests.agg(
        F.sum("n_urls").alias("urls"),
        F.sum("n_ok").alias("ok"),
        F.sum("n_failed").alias("failed"),
    ).collect()[0]
    n = pages.count()
    assert totals.urls == n
    assert totals.ok + totals.failed == n
    assert totals.failed == 0
    extracted.unpersist()


def _run_batch(spark, pages, root, batch_id):
    """One ``run_extract`` call with giants and manifests under ``root``,
    looked up at call time so a monkeypatched package call is seen."""
    import jobs.extract_job as ej

    return ej.run_extract(
        spark,
        pages,
        out=str(root / "out"),
        progress_path=str(root / "progress"),
        batch_id=batch_id,
        per_row_dispatch=True,
        giant_threshold=GIANT_THRESHOLD,
        manifests=str(root / "manifests"),
    )


def _manifest_urls(spark, root, batch_id):
    return (
        spark.read.parquet(str(root / "manifests"))
        .where(F.col("batch_id") == batch_id)
        .agg(F.sum("n_urls"))
        .collect()[0][0]
    )


def _content(committed):
    cols = ["url", "csv", "csv_numeric", "main_text", "n_rows", "n_cols", "error", "pass"]
    return sorted(committed.select(*cols).collect(), key=lambda r: r.url)


def test_rerun_after_failed_progress_commit_counts_batch_once(
    spark, pages_dir, tmp_path, monkeypatch
):
    """The progress commit fails while the concurrent manifest write
    succeeds.  The error names its branch, and the re-run replaces the
    batch's manifests instead of adding to them, commits each url's
    progress once, and commits the bytes of a clean run."""
    import jobs.extract_job as ej

    pages = spark.read.parquet(pages_dir)
    n = pages.count()
    clean, _ = _run_batch(spark, pages, tmp_path / "clean", 0)

    real_commit = ej.commit_progress
    calls = []

    def commit_fails_once(*args, **kwargs):
        calls.append(args)
        if len(calls) == 1:
            raise RuntimeError("progress commit lost")
        real_commit(*args, **kwargs)

    monkeypatch.setattr(ej, "commit_progress", commit_fails_once)
    root = tmp_path / "rerun"
    with pytest.raises(RuntimeError, match="progress commit lost") as err:
        _run_batch(spark, pages, root, 0)
    assert any("'progress'" in note for note in err.value.__notes__)
    assert _manifest_urls(spark, root, 0) == n, "the manifest branch committed"

    committed, facts = _run_batch(spark, pages, root, 0)
    assert len(calls) == 2
    assert _manifest_urls(spark, root, 0) == n
    progress = spark.read.parquet(str(root / "progress"))
    assert progress.count() == progress.select("url").distinct().count() == n
    assert facts["rows"] == n
    assert _content(committed) == _content(clean)


def test_fully_resumed_batch_commits_nothing(spark, pages_dir, tmp_path):
    """A batch whose every page is already done writes no partition: it
    reads back empty, observes zero rows and adds no manifest rows."""
    pages = spark.read.parquet(pages_dir)
    _run_batch(spark, pages, tmp_path, 0)
    committed, facts = _run_batch(spark, pages, tmp_path, 1)
    assert committed.count() == 0
    assert facts == {"rows": 0, "failed": 0, "html_bytes": 0, "batch_id": 1}
    assert _manifest_urls(spark, tmp_path, 1) is None
    assert read_progress(spark, str(tmp_path / "progress")).count() == pages.count()


def test_rerun_of_a_committed_batch_keeps_its_rows(spark, pages, tmp_path):
    """A batch id is immutable once its progress has landed: re-running
    batch 0 over the same pages, one of which failed, extracts nothing,
    appends no progress and leaves the committed rows and manifests as the
    first run wrote them (the failed url is retried under a new id)."""
    import jobs.extract_job as ej

    cols = ["url", "html", "layout", "args"]
    good = sorted(pages.select(*cols).collect(), key=lambda r: r.url)[:10]
    bad = (good[0].url + "#bad", good[0].html, "generic", "{bad")
    df = spark.createDataFrame([tuple(r) for r in good] + [bad], pages.select(*cols).schema)
    out = str(tmp_path / "out")

    def run():
        return ej.run_extract(
            spark, df, out=out, progress_path=str(tmp_path / "progress"), batch_id=0,
            per_row_dispatch=True, manifests=str(tmp_path / "manifests"),
        )

    first, facts = run()
    want = _content(first)
    assert len(want) == 11 and facts["failed"] == 1
    _, facts = run()
    assert facts == {"rows": 0, "failed": 0, "html_bytes": 0, "batch_id": 0}
    assert _content(spark.read.parquet(out)) == want
    progress = spark.read.parquet(str(tmp_path / "progress"))
    assert progress.count() == progress.select("url").distinct().count() == 11
    assert _manifest_urls(spark, tmp_path, 0) == 11


def test_read_progress_probes_a_missing_path(spark, tmp_path, monkeypatch):
    """A missing progress table is found by a filesystem probe, with no
    read attempted: once an ``Observation`` has run in the session, each
    failed read logs a listener stack trace."""

    def no_read(self):
        raise AssertionError("spark.read used for a missing path")

    monkeypatch.setattr(type(spark), "read", property(no_read))
    assert read_progress(spark, str(tmp_path / "missing")) is None


def test_declared_schemas_match_the_written_tables(spark, pages_dir, tmp_path):
    """The schemas the job reads its own tables back with are the ones
    Spark infers from what it wrote."""
    pages = spark.read.parquet(pages_dir).limit(3)
    _run_batch(spark, pages, tmp_path, 0)
    for table, declared in (("out", COMMITTED_SCHEMA), ("progress", PROGRESS_SCHEMA)):
        inferred = spark.read.parquet(str(tmp_path / table)).schema
        assert [(f.name, f.dataType) for f in inferred] == [
            (f.name, f.dataType) for f in declared
        ], table


def _job_count(spark, call) -> int:
    """The Spark jobs ``call()`` submits: the job-id gap between two marker
    jobs.  A job group set around the call would miss the jobs of the
    driver threads it starts, which do not inherit the group."""
    sc = spark.sparkContext

    def marker() -> int:
        group = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count marker")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        (job,) = sc.statusTracker().getJobIdsForGroup(group)
        return job

    first = marker()
    call()
    return marker() - first - 1


def test_job_count_per_batch(spark, pages_dir, tmp_path):
    """Spark jobs per ``run_extract`` call with giants and manifests.  No
    read-back of a table the job wrote infers its schema, and the batch is
    read back once: a fresh batch takes 5 jobs, and a resumed one 6 (the
    progress anti-join's broadcast adds one).  Each inferred read-back
    would add a one-task footer-reading job."""
    pages = spark.read.parquet(pages_dir)
    first_half = pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    fresh = _job_count(spark, lambda: _run_batch(spark, first_half, tmp_path, 0))
    resumed = _job_count(spark, lambda: _run_batch(spark, pages, tmp_path, 1))
    print(f"jobs per call: fresh {fresh}, resumed {resumed}")
    assert fresh <= 5
    assert resumed <= 6
