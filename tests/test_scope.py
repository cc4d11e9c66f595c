"""RunScope ownership: every cache, local checkpoint and landing table an
operator creates belongs to the scope it was given, is released when that
scope closes (also on failure), and never to a later call."""

import os

import pytest

from ocr_table_extractor_to_csv_spark.operators import dedup
from ocr_table_extractor_to_csv_spark.operators.curation import curate_pipeline
from ocr_table_extractor_to_csv_spark.plans.scope import RunScope
from tests.test_oracle_parity import SF_DIR

DOCS = os.path.join(os.path.dirname(SF_DIR), "sf0.001", "documents.parquet")


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_close_releases_everything_also_on_raise(spark, tmp_path):
    before = _persisted(spark)  # other tests share the session
    with pytest.raises(ZeroDivisionError):
        with RunScope(spark, str(tmp_path)) as scope:
            df = spark.range(10)
            scope.persist(df).count()
            assert scope.reuse(df, "r").count() == 10
            assert scope.truncate(df, "t").count() == 10
            assert os.path.isdir(scope.run_dir)
            1 / 0
    assert not os.path.exists(scope.run_dir)
    assert [f["tag"] for f in scope.facts["landed"]] == ["r", "t"]
    with RunScope(spark) as scope:
        scope.persist(spark.range(10)).count()
        scope.truncate(spark.range(20), "t").count()
        assert len(_persisted(spark) - before) == 2
    assert _persisted(spark) <= before


def test_pipeline_results_outlive_a_later_call(spark, tmp_path):
    """Two table-mode pipelines built in turn, the first collected after the
    second was built: each reads its own landing table, so both equal the
    cache-mode rows (a later call never deletes an earlier call's table)."""
    docs = spark.read.parquet(DOCS)
    with RunScope(spark) as scope:
        want = curate_pipeline(docs, scope=scope).orderBy("doc_id").collect()
    work = str(tmp_path / "work")
    with RunScope(spark, work) as first, RunScope(spark, work) as second:
        a = curate_pipeline(docs, scope=first)
        b = curate_pipeline(docs, scope=second)
        assert a.orderBy("doc_id").collect() == want
        assert b.orderBy("doc_id").collect() == want
    assert os.listdir(work) == []


def test_pipeline_branch_failure_surfaces_and_releases(spark, tmp_path, monkeypatch):
    """A failing keeper branch is raised with its branch name after the
    decontaminate branch has finished too, and the scope still releases
    every cache and deletes its run directory."""

    def boom(documents, *, scope):
        raise RuntimeError("keeper branch exploded")

    monkeypatch.setattr(dedup, "dedup_clusters", boom)
    docs = spark.read.parquet(DOCS)
    before = _persisted(spark)  # other tests share the session
    with pytest.raises(RuntimeError, match="keeper branch exploded") as err:
        with RunScope(spark, str(tmp_path / "work")) as scope:
            curate_pipeline(docs, scope=scope)
    assert any("dedup_clusters" in n for n in err.value.__notes__)
    assert scope.facts["decontaminate"], "the other branch was not waited for"
    assert _persisted(spark) <= before
    assert not os.path.exists(scope.run_dir)


def test_table_bytes_missing_local_table_raises(tmp_path):
    import __spark_entry__ as entry_mod

    with pytest.raises(FileNotFoundError):
        entry_mod._table_bytes(str(tmp_path), "documents")
    # object stores have no local size: assume big (no fan-out)
    big = entry_mod._table_bytes("s3a://bucket/sf", "documents")
    assert big > entry_mod._FAN_MAX_BYTES
