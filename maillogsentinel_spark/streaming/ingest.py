"""Structured Streaming ingestion — reference S3/S4 + §2.9.

The reference tracks progress as a byte offset into the live log,
resets it on rotation, and sweeps rotated files only on first run
(/root/reference/lib/maillogsentinel/parser.py:137-196, utils.py:214-270,
bin/maillogsentinel.py:643). All of that state machinery is replaced by
the Structured Streaming file source + one checkpoint directory:

- new log lines → the source picks up appended *files*; a rotated file
  is just a new file name, processed exactly once (strictly better than
  the reference's reset-to-zero heuristic, which can re-read);
- exactly-once: file-source tracking lives in the checkpoint; the
  reference's separate offset/state files and its documented
  at-least-once divergence (sql_exporter.py:621-630 advances the offset
  past failed rows) disappear.

Enrichment runs inside ``foreachBatch`` — each micro-batch is a full
batch DataFrame, so the identical batch pipeline (parse → rDNS → geo)
is reused unchanged: one code path for batch and streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import build_events
from ..sources.store import csv_projection, write_events, write_events_csv


def start_ingest(
    spark: SparkSession,
    log_dir: str,
    store_path: str,
    checkpoint_dir: str,
    year: int,
    resolver,
    geo_country: DataFrame | None = None,
    geo_asn: DataFrame | None = None,
    available_now: bool = True,
    processing_time: str = "60 seconds",
    csv_path: str | None = None,
):
    """Stream log files from ``log_dir`` into the events store.

    ``available_now=True`` processes everything pending then stops — the
    direct analogue of the reference's one-shot systemd-timer run.

    ``csv_path``: also append each micro-batch's events to the
    byte-compat CSV mirror there (one more sink of the same batch, so a
    run costs O(new lines), never O(history)). With two sinks the
    batch's events are persisted, so the log scan and rDNS run once; a
    single sink skips the persist and its per-batch cost.
    """
    lines = spark.readStream.text(log_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ev = build_events(batch_df, year, resolver, geo_country, geo_asn)
        if csv_path is None:
            write_events(ev, store_path, mode="append")
            return
        ev.persist()
        try:
            write_events(ev, store_path, mode="append")
            write_events_csv(ev, csv_path, mode="append")
        finally:
            ev.unpersist()

    writer = lines.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def streaming_daily_user_counts(events_stream: DataFrame) -> DataFrame:
    """§2.9 windowed streaming agg: daily tumbling window per user with a
    1-day watermark for late data — the streaming form of the report's
    implicit day bucket (reference report.py:152)."""
    return (
        events_stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("day"), F.col("user"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("day").start.alias("day"), "user", "cnt")
    )


def start_sql_export(
    spark: SparkSession,
    store_path: str,
    db_path: str,
    table: str,
    specs,
    checkpoint_dir: str,
    available_now: bool = True,
    quarantine_path: str | None = None,
):
    """Reference S8+S9 as ONE effectively-exactly-once streaming sink.

    The reference splits SQL delivery into an exporter (CSV byte offset
    → .sql files, sql_exporter.py:314-646) and an importer (filename
    log + fcntl lock + executescript, sql_importer.py:280-518), with a
    documented at-least-once hole between them (the offset advances
    past failed rows). Here the events store itself is the stream
    source: new parquet files land → the checkpoint tracks them → each
    micro-batch is mapping-cast (NOT-NULL violations quarantined, P7 +
    P10) and appended to SQLite. foreachBatch alone is at-least-once
    (a crash between the SQLite commit and the checkpoint commit
    replays the batch), so the write is made idempotent: the batch_id
    is recorded in a ledger table inside the same SQLite transaction as
    the rows, and a replayed batch short-circuits — at-least-once
    delivery + idempotent sink = exactly-once effect, which the
    reference's two state files and lock never achieve.

    NOT-NULL-violating rows are not dropped silently: they append (with
    their batch_id) to ``quarantine_path`` parquet when given, and the
    per-batch quarantine count is logged either way — the same
    no-row-loss guarantee the batch exporter documents. On a cluster
    the foreachBatch body becomes ``df.write.jdbc`` against the same
    DDL (sources/sqlio.sqlite_ddl documents the translation)."""
    import logging

    from pyspark.sql.types import DateType, StructField, StructType

    from ..schemas import MAIL_EVENTS_SCHEMA
    from ..sources.sqlio import cast_with_mapping, write_sqlite

    log = logging.getLogger(__name__)
    schema = StructType(
        list(MAIL_EVENTS_SCHEMA.fields) + [StructField("event_date", DateType())]
    )
    csv_shaped = csv_projection(spark.readStream.schema(schema).parquet(store_path))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        good, quarantine = cast_with_mapping(batch_df, specs)
        if quarantine_path is not None:
            (
                quarantine.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(quarantine_path)
            )
        else:
            n_bad = quarantine.count()
            if n_bad:
                log.warning(
                    "sql export batch %d: %d NOT-NULL-violating rows "
                    "quarantined (no quarantine_path given)", batch_id, n_bad
                )
        write_sqlite(good, db_path, table, specs, batch_id=batch_id)

    writer = csv_shaped.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_tx_store_sink(
    events_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "60 seconds",
):
    """Streaming sink into the TRANSACTIONAL store (sources/txstore.py)
    with exactly-once batches: each micro-batch commits through
    ``tx_append_events(batch_id=...)``, whose manifest records the
    highest committed batch id IN THE SAME atomic rename as the batch's
    file list. foreachBatch is at-least-once (a crash between the sink
    write and the checkpoint commit replays the batch), but a replayed
    batch short-circuits on the manifest ledger — and unlike the SQLite
    export's side-table ledger (same file, same transaction) or any
    two-system design, the data and its ledger entry here CANNOT
    commit separately, and a crash mid-append leaves readers on the
    previous snapshot entirely (txstore's crash-injection contract).
    The first batch creates the store; every subsequent batch is one
    metadata rename regardless of how many day partitions it spans.
    One checkpoint per store: a batch id BEHIND the manifest ledger
    (a second query, or a fresh-checkpoint restart where ids reset to
    0) raises instead of silently dropping batches — only the exact
    last batch id is a legitimate foreachBatch replay."""
    from ..sources.txstore import tx_append_events, tx_write_events

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            tx_append_events(spark, store_path, batch_df, batch_id=batch_id)
        except FileNotFoundError:
            # no committed manifest yet: the first batch creates the
            # store (tx_write_events commits v1 WITH the ledger seeded,
            # so a post-commit replay of this batch short-circuits; a
            # crash before the rename leaves no store and the replay
            # recreates it)
            tx_write_events(spark, store_path, batch_df, batch_id=batch_id)

    writer = events_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
