"""Incremental extraction via Structured Streaming (SURVEY.md §2.8).

The reference is strictly batch (one document per CLI run); the engine adds
the idiomatic Spark incremental path: the SAME kernel runs unchanged under
``readStream`` + ``trigger(availableNow=True)`` + ``checkpointLocation``.
Each invocation processes exactly the files that arrived since the last
checkpoint — exactly-once without the progress-table protocol (which remains
for table-level / Iceberg-snapshot ingestion).

No event-time windows or watermarks are needed: extraction is a stateless
per-row transform.  ``foreachBatch`` writes both the extracted rows and the
per-partition lineage manifests per micro-batch.

foreachBatch sinks are AT-LEAST-once: a failure between a sink's write and
the checkpoint commit replays the whole batch on restart.  Every parquet
write inside a sink here is therefore made idempotent by partitioning on
``stream_batch_id`` and using dynamic partition overwrite — a replayed
batch REPLACES its own partition instead of appending duplicate rows, which
upgrades the end-to-end guarantee to exactly-once per batch id (the batch
id is stable across replays; the standard Structured Streaming recipe).

Layout migration note (same rule as ``plans/resume.py::write_batch``): a
directory written by the pre-partitioned (append-mode) version of these
sinks has a different directory depth and cannot be mixed — point upgraded
streams at a FRESH output root (Spark fails loudly with "conflicting
directory structures" otherwise), and note the exactly-once upgrade applies
from that fresh root onward (rows a pre-upgrade replay already duplicated
are not retro-deduplicated).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages
from ..plans.lineage import build_manifests
from ..session import worker_batches


def _write_idempotent(df: DataFrame, path: str) -> None:
    """Replace-my-own-partition parquet write for foreachBatch sinks: the
    frame must carry ``stream_batch_id``; a replayed batch overwrites only
    its own partition (dynamic partition overwrite), never other batches'."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("stream_batch_id")
        .parquet(path)
    )


def incremental_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    manifests_dir: Optional[str] = None,
    layout: str = "auto",
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
    max_files_per_trigger: Optional[int] = None,
):
    """Run one availableNow pass; returns the finished StreamingQuery."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(pages_dir).select("url", "html")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        extracted = extract_pages(batch_df, layout=layout).withColumn(
            "stream_batch_id", F.lit(batch_id)
        )
        extracted.persist()
        _write_idempotent(extracted, out_dir)
        if manifests_dir:
            _write_idempotent(
                build_manifests(extracted).withColumn(
                    "stream_batch_id", F.lit(batch_id)
                ),
                manifests_dir,
            )
        extracted.unpersist()

    query = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def incremental_extract_warc(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    layout: str = "auto",
):
    """Incremental ingestion of RAW Common-Crawl segments: a binaryFile
    file stream over ``.warc``/``.warc.gz`` arrivals, the shared WARC
    record splitter, then the extraction kernel — one availableNow pass
    per call, exactly-once per segment via the checkpoint.  This is the
    shape of a crawl-follower: drop new segments in the directory,
    re-trigger, only the delta is parsed and extracted."""
    from ..sources.warc import WARC_PAGES_SCHEMA, warc_batches_fn

    stream = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; binaryFile's is fixed
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", "*.warc*")
        .load(warc_dir)
        .select("path", "content")
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        parsed = batch_df.mapInArrow(worker_batches(warc_batches_fn), WARC_PAGES_SCHEMA).persist()
        # no-silent-drop contract: with the exactly-once checkpoint a corrupt
        # segment is permanently consumed, so its error row must be durably
        # recorded (errors parquet next to out_dir) — not just filtered away.
        # Both writes are per-batch-partition overwrites: a batch replayed
        # after a failure between them replaces its rows, never duplicates
        # them (r4 advice — a plain append here was outside the exactly-once
        # guarantee).
        bad = parsed.where(F.col("error").isNotNull())
        n_bad = bad.count()
        if n_bad:
            print(f"warc stream batch {batch_id}: {n_bad} unreadable segment(s)")
            _write_idempotent(
                bad.select("url", "error").withColumn(
                    "stream_batch_id", F.lit(batch_id)
                ),
                f"{out_dir.rstrip('/')}_warc_errors",
            )
        pages = parsed.where(F.col("error").isNull())
        _write_idempotent(
            extract_pages(pages.select("url", "html"), layout=layout).withColumn(
                "stream_batch_id", F.lit(batch_id)
            ),
            out_dir,
        )
        parsed.unpersist()

    query = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def incremental_ingest_wet(
    spark: SparkSession,
    wet_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """WET twin of ``incremental_extract_warc``: a binaryFile stream over
    ``.warc.wet(.gz)`` arrivals through the shared WET record splitter,
    landing (url, warc_ts, text) parquet — exactly-once per segment,
    idempotent per-batch overwrite sinks, durable error rows.  No
    extraction stage: WET payloads ARE the extracted text; downstream
    curation reads the landing directly."""
    from ..sources.warc import WET_PAGES_SCHEMA, wet_batches_fn

    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", "*.wet*")
        .load(wet_dir)
        .select("path", "content")
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        parsed = batch_df.mapInArrow(worker_batches(wet_batches_fn), WET_PAGES_SCHEMA).persist()
        bad = parsed.where(F.col("error").isNotNull())
        n_bad = bad.count()
        if n_bad:
            print(f"wet stream batch {batch_id}: {n_bad} unreadable segment(s)")
            _write_idempotent(
                bad.select("url", "error").withColumn(
                    "stream_batch_id", F.lit(batch_id)
                ),
                f"{out_dir.rstrip('/')}_wet_errors",
            )
        _write_idempotent(
            parsed.where(F.col("error").isNull())
            .select("url", "warc_ts", "text")
            .withColumn("stream_batch_id", F.lit(batch_id)),
            out_dir,
        )
        parsed.unpersist()

    query = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def incremental_url_dedup(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
):
    """Streaming crawl-frontier URL dedup: emit each canonical URL the
    FIRST time it is ever seen, across micro-batches AND across restarts
    (the seen-set lives in the checkpointed dropDuplicates state).

    This is the streaming twin of ``operators.weburl.url_dedup``: a crawl
    follower canonicalizes arriving URLs and forwards only first sightings
    downstream.  State is per canonical URL and unbounded BY DESIGN — a
    crawl seen-set never expires; at frontier scale the state store is
    RocksDB (spark.sql.streaming.stateStore.providerClass) and the key is
    the canonical URL only (no payload columns cross into state).

    Emits (canon_url, url, warc_ts) append-only; returns the finished
    query.
    """
    from ocr_table_extractor_to_csv_spark.operators.weburl import canonicalize_url

    base = (
        spark.readStream.schema(schema)
        .parquet(pages_dir)
        .select(
            canonicalize_url(F.col("url")).alias("canon_url"),
            "url",
            "warc_ts",
        )
    )
    # null/empty URLs cannot be deduped by key — dropDuplicates would fold
    # them all into ONE state entry and silently swallow every later one,
    # so they bypass the seen-set and are always forwarded
    keyed = base.where(
        F.col("canon_url").isNotNull() & (F.col("canon_url") != "")
    ).dropDuplicates(["canon_url"])
    keyless = base.where(
        F.col("canon_url").isNull() | (F.col("canon_url") == "")
    )
    stream = keyed.unionByName(keyless)
    query = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
