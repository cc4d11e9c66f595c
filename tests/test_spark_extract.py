"""Spark-layer tests: the distributed pipeline must equal the single-process
kernel byte-for-byte (distribution independence), resume must be exact, and
lineage manifests must account for every input row."""

import hashlib
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ocr_table_extractor_to_csv_spark.operators.extract import extract_pages
from ocr_table_extractor_to_csv_spark.plans.lineage import build_manifests
from ocr_table_extractor_to_csv_spark.plans.resume import pending_pages, read_progress
from ocr_table_extractor_to_csv_spark.sources.pages import fixture_pages

GOLDEN = Path(__file__).parent / "goldens" / "fixture_manifest.json"


def sha(b):
    return hashlib.sha256(b).hexdigest()


@pytest.fixture(scope="module")
def pages(spark):
    return fixture_pages(spark, scale=0.3).cache()


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
    """The kernel must be stateless across Arrow batch boundaries: running
    the giants-pass batch size (4) over the whole corpus yields byte-
    identical output to the default (256) — the invariant that makes the
    two-pass small/giant split safe."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    base = {
        r.url: sha(bytes(r.csv))
        for r in extract_pages(pages, per_row_dispatch=True).collect()
    }
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        tiny = {
            r.url: sha(bytes(r.csv))
            for r in extract_pages(pages, per_row_dispatch=True).collect()
        }
    finally:
        spark.conf.set(key, prev)
    assert tiny == base


def test_malformed_rows_become_error_rows(spark):
    bad = spark.createDataFrame(
        [("u1", None), ("u2", b"<html><p>hi there this is content</p></html>")],
        "url string, html binary",
    )
    out = extract_pages(bad).collect()
    by_url = {r.url: r for r in out}
    assert len(out) == 2
    assert by_url["u1"].error is None  # empty html -> empty result, no error
    assert by_url["u2"].error is None


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


def test_giant_pass_conf_isolated(spark, tmp_path, monkeypatch):
    """r01 verdict #2: the giant pass's maxRecordsPerBatch=4 must NOT leak
    into the small pass (the old lazy-union ran both passes at 4), and the
    session conf must be restored afterwards."""
    import jobs.extract_job as ej

    pages = fixture_pages(spark, scale=0.2, giant_tokens=3000).select(
        "url", "html", "layout", "args"
    )
    seen = []
    real = ej.write_batch

    def spy(extracted, batch_id, path, sub="all"):
        seen.append(
            (
                sub,
                extracted.sparkSession.conf.get(
                    "spark.sql.execution.arrow.maxRecordsPerBatch"
                ),
            )
        )
        real(extracted, batch_id, path, sub=sub)

    monkeypatch.setattr(ej, "write_batch", spy)
    overwrite_key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(overwrite_key)
    overwrite_mode = spark.conf.get(overwrite_key)
    committed = ej.run_extract(
        spark,
        pages,
        out=str(tmp_path / "out"),
        progress_path=str(tmp_path / "prog"),
        batch_id=0,
        per_row_dispatch=True,
        giant_threshold=50_000,
    )
    confs = dict(seen)
    assert confs["small"] == "256", "small pass must run at the fast batch size"
    assert confs["giant"] == "4", "giant pass must run memory-bounded"
    assert (
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "256"
    ), "conf must be restored"
    assert (
        spark.conf.get(overwrite_key) == overwrite_mode
    ), "the dynamic overwrite is a write option, not a session setting"
    by_pass = {r["pass"]: r["n"] for r in committed.groupBy("pass").agg(F.count("*").alias("n")).collect()}
    assert by_pass.get("giant", 0) >= 1, "fixture giants must exercise the giant pass"
    assert committed.select("url").distinct().count() == pages.count()


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
