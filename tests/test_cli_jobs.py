"""Smoke tests for the thin CLI parity wrappers (VERDICT r01 #9):
jobs/run_doc.py (reference run.py twin) and jobs/dataset_job.py (dataset_cli
--pair twin with pair dedup)."""

import json
from pathlib import Path

from ocr_table_extractor_to_csv_spark.kernel import extract_document
from ocr_table_extractor_to_csv_spark.sources.fixtures import generate_fixture


def test_run_doc_cli_matches_kernel(tmp_path):
    from jobs.run_doc import main

    row = generate_fixture("dyn", 0)
    hocr = tmp_path / "page.hocr"
    hocr.write_bytes(row["html"])
    out = tmp_path / "out.csv"
    rc = main([str(out), "--hocr_path", str(hocr), "--layout", "dynamic"])
    assert rc == 0

    res = extract_document(row["html"], layout="dynamic")
    assert out.read_bytes() == res.csv
    # dynamic also writes the numeric variant with the reference's naming
    # (main.py:32-37: foo.csv -> foo.num.csv)
    num = tmp_path / "out.num.csv"
    assert num.exists() and num.read_bytes() == res.csv_numeric


def test_curate_job_exact_and_neardup(tmp_path, spark):
    """The curate job writes keepers (+ bucket stats in neardup mode) and
    its outputs equal the operators it wraps."""
    import os

    from jobs.curate_job import run_curate
    from ocr_table_extractor_to_csv_spark.operators.curation import (
        curate,
        curate_neardup,
        curate_pipeline,
    )
    from ocr_table_extractor_to_csv_spark.plans.scope import RunScope

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out1 = str(tmp_path / "exact")
    kept, _ = run_curate(spark, docs, out=out1)
    assert {tuple(r) for r in kept.collect()} == {tuple(r) for r in curate(docs).collect()}

    out2 = str(tmp_path / "near")
    work = str(tmp_path / "work")
    kept2, facts2 = run_curate(spark, docs, out=out2, neardup=True, work_dir=work)
    with RunScope(spark) as scope:
        want2 = {tuple(r) for r in curate_neardup(docs, scope=scope).collect()}
    assert {tuple(r) for r in kept2.collect()} == want2
    assert facts2["connected_components"][0]["converged"]
    stats = spark.read.parquet(f"{out2}/bucket_stats")
    assert stats.count() > 0 and "n_docs_in_hot" in stats.columns

    out3 = str(tmp_path / "pipe")
    kept3, facts3 = run_curate(spark, docs, out=out3, neardup="pipeline")
    with RunScope(spark) as scope:
        want3 = {tuple(r) for r in curate_pipeline(docs, scope=scope).collect()}
    assert {tuple(r) for r in kept3.collect()} == want3
    assert "bin_id" in kept3.columns and "offset_in_bin" in kept3.columns
    assert facts3["decontaminate"][0]["strategy"] == "broadcast"

    # --work-dir (the 100 TB mode) must flow through the job and produce
    # identical keepers from the pruned landing table, which the job's
    # scope deletes on exit
    out4 = str(tmp_path / "pipe_table")
    kept4, facts4 = run_curate(spark, docs, out=out4, neardup="pipeline", work_dir=work)
    assert {tuple(r) for r in kept4.collect()} == want3
    assert [f["tag"] for f in facts4["landed"]] == ["curate_base", "cc-final"]
    assert os.listdir(work) == []


def test_curate_job_incremental_mode(tmp_path, spark):
    """--incremental-old: the job wraps curate_incremental (prev keepers
    from the stored table) and rejects combination with the full-corpus
    cluster modes."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from jobs.curate_job import run_curate
    from ocr_table_extractor_to_csv_spark.operators.curation import (
        curate,
        curate_incremental,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 != 1)
    prev = curate(old)
    kept, _ = run_curate(
        spark, new, out=str(tmp_path / "inc"),
        incremental_old=old, prev_keepers=prev,
    )
    want = curate_incremental(old, new, prev_keepers=prev)
    assert {tuple(r) for r in kept.collect()} == {tuple(r) for r in want.collect()}
    with _pytest.raises(ValueError, match="exclusive"):
        run_curate(spark, new, out=str(tmp_path / "bad"),
                   incremental_old=old, neardup=True)
    # --prev-keepers outside incremental mode would be a silent no-op:
    # verdicts would NOT carry over (r6 review)
    with _pytest.raises(ValueError, match="prev-keepers"):
        run_curate(spark, new, out=str(tmp_path / "bad2"),
                   prev_keepers=prev)
    # degenerate clean_chunks would empty the corpus silently (NULL chunk
    # index -> '' text -> quality gate drops everything) — reject loudly
    with _pytest.raises(ValueError, match="clean-chunks"):
        run_curate(spark, new, out=str(tmp_path / "bad3"),
                   neardup="pipeline", clean_chunks=0)


def test_run_doc_cli_transformer_max_cols(tmp_path):
    """--transformer-max-cols (run.py parity, ADVICE r2): the transformers
    layout's target column count must flow expected_n_cols -> max_columns ->
    MAX_MODEL_COLUMNS, and the flag must change the output accordingly."""
    from jobs.run_doc import main

    row = generate_fixture("generic4", 0)
    hocr = tmp_path / "page.hocr"
    hocr.write_bytes(row["html"])
    out2 = tmp_path / "two.csv"
    out6 = tmp_path / "six.csv"
    assert main([str(out2), "--hocr_path", str(hocr), "--layout", "transformers",
                 "--transformer-max-cols", "2"]) == 0
    assert main([str(out6), "--hocr_path", str(hocr), "--layout", "transformers"]) == 0
    assert out2.read_bytes() != out6.read_bytes()
    assert out2.read_bytes() == extract_document(
        row["html"], layout="transformers", max_columns=2
    ).csv
    # expected_n_cols wins over max_columns (reference precedence)
    assert extract_document(
        row["html"], layout="transformers", expected_n_cols=3, max_columns=2
    ).csv == extract_document(row["html"], layout="transformers", expected_n_cols=3).csv


def test_run_doc_cli_bbox_and_layout_flags(tmp_path):
    from jobs.run_doc import main

    row = generate_fixture("bbox_crop", 0)
    args = json.loads(row["args"])
    hocr = tmp_path / "page.hocr"
    hocr.write_bytes(row["html"])
    out = tmp_path / "out.csv"
    bbox = [str(v) for v in args["table_bbox"]]
    rc = main([str(out), "--hocr_path", str(hocr), "--layout", "generic", "--bbox", *bbox])
    assert rc == 0
    res = extract_document(
        row["html"], layout="generic", table_bbox=tuple(args["table_bbox"])
    )
    assert out.read_bytes() == res.csv


def test_dataset_job_pair_dedup_and_jsonl(spark, tmp_path):
    from jobs.dataset_job import parse_pairs, run_dataset

    row = generate_fixture("generic4", 0)
    h1 = tmp_path / "a.hocr"
    h1.write_bytes(row["html"])
    row2 = generate_fixture("generic4", 1)
    h2 = tmp_path / "b.hocr"
    h2.write_bytes(row2["html"])

    # the duplicate (same url, same resolved path) must be dropped
    # (dataset_cli.py:189-195)
    pairs = parse_pairs(
        [f"u://1:{h1}", f"u://1:{h1}", f"u://2:{h2}"]
    )
    assert len(pairs) == 2

    out = str(tmp_path / "dataset")
    examples = run_dataset(spark, out=out, pairs=pairs)
    assert examples.count() == 2

    lines = []
    for p in Path(out).glob("*.json"):
        lines += [json.loads(l) for l in p.read_text().splitlines()]
    assert len(lines) == 2
    assert {l["url"] for l in lines} == {"u://1", "u://2"}
    assert all(l["error"] is None for l in lines)
    assert all(len(l["words"]) == len(l["labels"]) > 0 for l in lines)


def test_eval_job_numeric_columns_selection(spark, tmp_path):
    """eval parity incl. --numeric-columns (eval_cli.py:19): named columns
    (ref header or col_{idx} alias) restrict both per-column and overall
    numeric metrics; auto-inference skips no-coercible-pair columns."""
    from jobs.eval_job import evaluate

    ref = tmp_path / "ref.csv"
    prd = tmp_path / "pred.csv"
    ref.write_text("name,v1,v2\r\na,1,10\r\nb,2,20\r\n")
    # predicted carries an EXTRA column beyond the reference header: that
    # padded position is the only place the reference's col_{idx} alias
    # applies (evaluation.py:113 assigns it solely to _ref_dummy_ padding)
    prd.write_text("name,v1,v2,extra\r\na,1,11,7\r\nb,3,20,8\r\n")

    full = evaluate(spark, str(ref), str(prd))
    # auto mode: the text column has no coercible pair -> no group emitted;
    # the padded column's ref cells are "" -> no coercible pair either
    assert [m["c"] for m in full["numeric_by_column"]] == [1, 2]
    assert full["numeric_overall"]["n"] == 4

    only_v1 = evaluate(spark, str(ref), str(prd), numeric_columns=["v1"])
    assert [m["c"] for m in only_v1["numeric_by_column"]] == [1]
    assert only_v1["numeric_overall"]["n"] == 2
    assert abs(only_v1["numeric_overall"]["mse"] - 0.5) < 1e-9  # (0^2+1^2)/2

    # col_{idx} must NOT select a real reference column (reference parity)
    by_alias = evaluate(spark, str(ref), str(prd), numeric_columns=["col_2"])
    assert by_alias["numeric_by_column"] == []
    assert by_alias["numeric_overall"] is None
    # ...but DOES select the padded-beyond-header position (index 3 here);
    # its ref side is all "" so no coercible pair -> empty metrics, selected
    # without error (mirrors reference behavior on dummy columns)
    padded = evaluate(spark, str(ref), str(prd), numeric_columns=["col_3"])
    assert padded["numeric_by_column"] == []
    # text accuracy unaffected by the numeric scope
    assert full["text_accuracy"] == only_v1["text_accuracy"]


def test_curate_job_url_dedup_prepass(tmp_path, spark):
    """--url-dedup keeps one doc per canonical URL BEFORE the content pass:
    the kept set equals curate() over the URL keepers, and a documents
    frame without a url column raises."""
    import pytest as _pytest

    from jobs.curate_job import run_curate
    from ocr_table_extractor_to_csv_spark.operators.curation import curate
    from ocr_table_extractor_to_csv_spark.operators.weburl import with_synth_url

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with _pytest.raises(ValueError, match="url"):
        run_curate(spark, docs, out=str(tmp_path / "x"), url_dedup=True)

    wdocs = with_synth_url(docs)
    kept, _ = run_curate(spark, wdocs, out=str(tmp_path / "u"), url_dedup=True)

    from pyspark.sql import functions as F

    from ocr_table_extractor_to_csv_spark.operators.weburl import canonicalize_url

    keep_ids = (
        wdocs.select("doc_id", canonicalize_url(F.col("url")).alias("c"))
        .groupBy("c").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    want = curate(wdocs.join(keep_ids, "doc_id"))
    assert {tuple(r) for r in kept.collect()} == {tuple(r) for r in want.collect()}
    # the pre-pass must actually shrink the input (synth URLs collide by design)
    assert kept.count() < curate(wdocs).count()

    # null/empty URLs pass through the pre-pass — they must NOT collapse
    # into one keeper on the shared null key
    ndocs = wdocs.withColumn(
        "url",
        F.when(F.col("doc_id") % 3 == 0, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 3 == 1, F.lit(""))
        .otherwise(F.col("url")),
    )
    kept_n, _ = run_curate(spark, ndocs, out=str(tmp_path / "n"), url_dedup=True)
    keyless_kept = curate(ndocs.where(F.col("url").isNull() | (F.col("url") == "")))
    assert kept_n.count() >= keyless_kept.count() > 1

    # a raw URL that canonicalizes to '' (bare fragment) is keyless too —
    # two of them must both survive, not collapse into the '' group
    from ocr_table_extractor_to_csv_spark.operators.weburl import url_keepers

    frag = spark.createDataFrame(
        [(1, "#a"), (2, "#b"), (3, "http://h.com/x")], "doc_id long, url string"
    )
    assert url_keepers(frag).count() == 3


def test_extract_job_warc_rerun_of_committed_batch_parses_no_segment(
    spark, tmp_path, monkeypatch, capsys
):
    """Re-running a committed ``--warc`` batch lands nothing: the job finds
    the batch committed before it parses a segment, still rewrites the
    batch's manifests, and reports zero rows."""
    import shutil

    from jobs import extract_job
    from ocr_table_extractor_to_csv_spark.sources import warc

    d = tmp_path / "warcs"
    warc.write_warc_segments(
        [(i, f"https://rerun.example/{i}", "2025-01-01T00:00:00Z", b"tok a tok b") for i in range(4)],
        str(d),
    )
    out, manifests = tmp_path / "out", tmp_path / "manifests"
    monkeypatch.setattr(extract_job, "get_spark", lambda app_name: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(
        "sys.argv",
        ["extract_job.py", "--warc", str(d), "--out", str(out), "--progress",
         str(tmp_path / "progress"), "--manifests", str(manifests), "--batch-id", "3",
         "--layout", "generic"],
    )

    def facts():
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    extract_job.main()
    first = facts()
    assert (first["rows"], first["failed"], first["batch_id"]) == (4, 0, 3)

    def no_parse(*args, **kwargs):
        raise AssertionError("a committed batch parsed its WARC segments")

    monkeypatch.setattr(warc, "read_warc", no_parse)
    shutil.rmtree(manifests)
    extract_job.main()
    assert facts() == {"rows": 0, "failed": 0, "html_bytes": 0, "batch_id": 3}
    assert spark.read.parquet(str(manifests)).count() > 0
