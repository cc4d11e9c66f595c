#!/usr/bin/env python
"""Fixture verification job: extracted JOIN fixtures ON url -> byte equality.

The Spark analogue of the reference's golden-output convention
(README.md:41,51 — `salida_genericC.csv` as ground truth): every extracted
url must match its frozen golden bytes exactly.  The fixtures side is tiny
-> broadcast join (FIXTURES.md §4).

  python jobs/verify_job.py --extracted /data/extracted
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from ocr_table_extractor_to_csv_spark.session import get_spark

GOLDEN = Path(__file__).resolve().parent.parent / "tests" / "goldens" / "fixture_manifest.json"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--extracted", required=True)
    args = ap.parse_args()

    spark = get_spark(app_name="verify-fixtures")
    manifest = json.loads(GOLDEN.read_text())
    fixtures = spark.createDataFrame(
        [(url, m["csv_sha"], m["csv_numeric_sha"]) for url, m in manifest.items()],
        "url string, want_csv_sha string, want_num_sha string",
    )

    extracted = spark.read.parquet(args.extracted)
    joined = extracted.join(F.broadcast(fixtures), "url", "inner")
    checked = joined.select(
        "url",
        (F.sha2(F.col("csv"), 256) == F.col("want_csv_sha")).alias("csv_ok"),
        (
            F.col("want_num_sha").isNull()
            | (F.sha2(F.coalesce(F.col("csv_numeric"), F.lit(b"")), 256) == F.col("want_num_sha"))
        ).alias("num_ok"),
    )
    bad = checked.where(~F.col("csv_ok") | ~F.col("num_ok"))
    n_bad = bad.count()
    n_all = checked.count()
    print(f"verified {n_all} urls, {n_bad} mismatches")
    if n_bad:
        bad.show(20, truncate=False)
        sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
