"""Subprocess smoke tests for the job ENTRYPOINTS (``main()``), not just
their bodies.

Why these exist (r4 advice): the --warc CLI path carried a NameError for a
full round because every test invoked ``land_warc``/``run_extract``
directly and nothing ever executed ``main()`` — argument wiring, source
dispatch, the final stats print, and ``spark.stop()`` were all dead code
to the suite.  Each test here runs the real CLI in a fresh interpreter
(own JVM — these are the slowest tests in the suite, by design) and
asserts on exit code, stdout contract, and on-disk output.
"""

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _run(args, timeout=420):
    return subprocess.run(
        [sys.executable, *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_extract_job_main_warc_path(tmp_path):
    """The --warc entry end to end: segment landing, extraction, resume
    commit, and the final stats print (the line the r4 NameError killed)."""
    from ocr_table_extractor_to_csv_spark.sources.warc import write_warc_segments

    d = tmp_path / "warcs"
    write_warc_segments(
        (
            (i, f"https://cli.example/{i}", "2025-01-01T00:00:00Z",
             f"tok{i}a tok{i}b tok{i}c tok{i}d " .encode() * 3)
            for i in range(6)
        ),
        str(d),
    )
    out = tmp_path / "out"
    res = _run([
        "jobs/extract_job.py", "--warc", str(d), "--out", str(out),
        "--progress", str(tmp_path / "progress"), "--batch-id", "1",
        "--layout", "generic",
    ])
    assert res.returncode == 0, res.stderr[-2000:]
    facts = json.loads(res.stdout.strip().splitlines()[-1])
    assert (facts["rows"], facts["failed"], facts["batch_id"]) == (6, 0, 1), res.stdout[-500:]
    assert facts["html_bytes"] > 0
    assert out.exists()


def test_extract_job_main_rejects_warc_with_lang(tmp_path):
    """WARC pages have no lang column, so ``--warc`` with ``--lang`` is a
    usage error raised before any segment is parsed or landed."""
    from ocr_table_extractor_to_csv_spark.sources.warc import write_warc_segments

    d = tmp_path / "warcs"
    write_warc_segments(
        [(0, "https://cli.example/0", "2025-01-01T00:00:00Z", b"tok0a tok0b")], str(d)
    )
    out = tmp_path / "out"
    res = _run([
        "jobs/extract_job.py", "--warc", str(d), "--out", str(out),
        "--progress", str(tmp_path / "progress"), "--batch-id", "1",
        "--lang", "es",
    ])
    assert res.returncode == 2, res.stderr[-2000:]
    assert "--lang" in res.stderr
    assert not (tmp_path / "out_warc_landing").exists()


def test_eval_job_main(tmp_path):
    """The eval CLI: reference vs predicted CSV -> JSON metrics on stdout
    and the reference-format CSV report on disk."""
    ref = tmp_path / "ref.csv"
    pred = tmp_path / "pred.csv"
    ref.write_text("Cuenta,V1\nrow1,10\nrow2,20\n")
    pred.write_text("Cuenta,V1\nrow1,10\nrow2,25\n")
    rep = tmp_path / "report.csv"
    res = _run([
        "jobs/eval_job.py", "--reference", str(ref), "--predicted", str(pred),
        "--report", str(rep),
    ])
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout[res.stdout.index("{"):])
    assert 0.0 < out["text_accuracy"] < 1.0
    assert rep.exists() and "text_accuracy" in rep.read_text()


def test_verify_job_main_detects_corruption(tmp_path, spark):
    """The verify CLI: exits 0 on golden-true extracted output and
    NONZERO (with a mismatch print) when a csv byte is corrupted — the
    gate a production batch commit would call."""
    from pyspark.sql import functions as F

    from ocr_table_extractor_to_csv_spark.operators.extract import extract_pages
    from ocr_table_extractor_to_csv_spark.sources.fixtures import generate_corpus
    from tests.freeze_goldens import GIANT_TOKENS

    rows = [
        r for r in generate_corpus(giant_tokens=GIANT_TOKENS)
        if len(r["html"]) < 100_000
    ][:40]
    fx = spark.createDataFrame(
        [(r["url"], bytes(r["html"]), r["layout"], r["args"]) for r in rows],
        "url string, html binary, layout string, args string",
    )
    good = tmp_path / "good"
    extract_pages(fx, per_row_dispatch=True).write.parquet(str(good))
    res = _run(["jobs/verify_job.py", "--extracted", str(good)])
    assert res.returncode == 0, res.stderr[-2000:]
    assert "0 mismatches" in res.stdout

    bad = tmp_path / "bad"
    spark.read.parquet(str(good)).withColumn(
        "csv", F.concat(F.col("csv"), F.lit(b"x"))
    ).write.parquet(str(bad))
    res2 = _run(["jobs/verify_job.py", "--extracted", str(bad)])
    assert res2.returncode != 0
    assert "mismatches" in res2.stdout


def test_dataset_job_main_pair(tmp_path):
    """The dataset CLI: --pair url:hocr -> JSONL examples on disk."""
    from ocr_table_extractor_to_csv_spark.sources.fixtures import generate_fixture

    hocr = tmp_path / "page.hocr"
    hocr.write_bytes(generate_fixture("generic4", 0)["html"])
    out = tmp_path / "ds"
    res = _run([
        "jobs/dataset_job.py", "--pair", f"doc://x:{hocr}", "--out", str(out),
    ])
    assert res.returncode == 0, res.stderr[-2000:]
    lines = [
        json.loads(l)
        for p in Path(out).glob("*.json") for l in p.read_text().splitlines()
    ]
    assert lines and "words" in lines[0] and "labels" in lines[0]


def test_curate_job_main_exact_mode(tmp_path):
    """The curate CLI prints its one-line JSON summary and writes keepers."""
    out = tmp_path / "cur"
    res = _run([
        "jobs/curate_job.py", "--documents",
        "/root/testdata/sf0.001/documents.parquet", "--out", str(out),
    ])
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["mode"] == "exact" and summary["n_kept"] > 0
    assert summary["facts"] == {}  # exact mode materializes nothing
    assert (out / "keepers").exists()


def test_curate_job_main_wet_input(tmp_path):
    """--wet curates a WET segment dir directly (read_wet +
    wet_to_documents glue); --documents together with --wet is refused."""
    from ocr_table_extractor_to_csv_spark.sources.warc import write_wet_segments

    wet = tmp_path / "wet"
    write_wet_segments(
        (
            (i, f"https://h{i % 2}.example/p/{i}", "2025-01-01T00:00:00Z",
             f"the quick brown fox number {i} jumps over the lazy dog and "
             "a cat that is sitting in the sunny yard for a while today "
             * 3)
            for i in range(6)
        ),
        str(wet),
        n_segments=2,
    )
    out = tmp_path / "cur"
    res = _run(["jobs/curate_job.py", "--wet", str(wet), "--out", str(out)])
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["n_documents"] == 6 and summary["n_kept"] > 0

    both = _run([
        "jobs/curate_job.py", "--wet", str(wet), "--documents",
        "/root/testdata/sf0.001/documents.parquet", "--out", str(out),
    ])
    assert both.returncode != 0
    assert "exactly one of" in (both.stderr + both.stdout)
