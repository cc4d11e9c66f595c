"""Per-partition lineage manifests (north_rule requirement).

The kernel stamps every output row with (partition_id, task_attempt) via
TaskContext; the manifest is then a plain distributed aggregation over the
extracted table — no driver-side loops, no side channels, and it holds at
any scale because it is just a groupBy:

  manifests(partition_id, n_urls, n_ok, n_failed, total_html_bytes,
            total_csv_bytes, failed_urls[<=FAILED_SAMPLE sample],
            max_task_attempt)

The extract job builds them from its one read of the committed batch and
writes them with ``plans.resume.write_batch`` partitioned by ``batch_id``
(``<manifests>/batch_id=<B>/``, dynamic partition overwrite), concurrently
with the progress commit: a re-run of a batch replaces its manifests, so a
batch is never counted twice, whichever of the two writes a failed run
completed.  A flat (unpartitioned) manifests directory from an older
version of the job cannot be mixed with this layout.

Invariant checked by tests: sum(n_urls) over a batch's manifests ==
count(pages the batch committed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


FAILED_SAMPLE = 20


def build_manifests(extracted: DataFrame) -> DataFrame:
    return extracted.groupBy("partition_id").agg(
        F.count("*").alias("n_urls"),
        F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_failed"),
        F.sum("html_bytes").alias("total_html_bytes"),
        F.sum(F.octet_length("csv")).alias("total_csv_bytes"),
        F.slice(
            F.collect_list(F.when(F.col("error").isNotNull(), F.col("url"))),
            1,
            FAILED_SAMPLE,
        ).alias("failed_urls"),
        F.max("task_attempt").alias("max_task_attempt"),
    )
