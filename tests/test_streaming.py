"""Structured Streaming ingestion: exactly-once file tracking replaces
the reference's byte-offset/rotation state machine."""

import pytest
import os

from maillogsentinel_spark.streaming.ingest import (
    start_ingest,
    streaming_daily_user_counts,
)

LINE1 = "Sep 28 00:33:04 srv postfix/smtpd[1]: warning: unknown[1.1.1.1]: SASL fail, sasl_username=alice\n"
LINE2 = "Sep 28 01:00:00 srv postfix/smtpd[2]: warning: unknown[2.2.2.2]: SASL fail, sasl_username=bob\n"
LINE3 = "Sep 29 09:00:00 srv postfix/smtpd[3]: warning: unknown[3.3.3.3]: SASL fail, sasl_username=carol\n"


def _resolver(ip):
    return None, "Timeout"


def test_ingest_exactly_once(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    (logs / "mail.log").write_text(LINE1 + LINE2)
    q = start_ingest(spark, str(logs), store, ckpt, 2025, _resolver)
    q.awaitTermination(120)
    got = spark.read.parquet(store)
    assert got.count() == 2

    # "rotation": a new file appears; old file unchanged. Re-running with
    # the same checkpoint processes ONLY the new file — no duplicates.
    (logs / "mail.log.1").write_text(LINE3)
    q2 = start_ingest(spark, str(logs), store, ckpt, 2025, _resolver)
    q2.awaitTermination(120)
    rows = spark.read.parquet(store).collect()
    assert len(rows) == 3
    assert sorted(r["user"] for r in rows) == ["alice", "bob", "carol"]

    # third run with nothing new: no-op
    q3 = start_ingest(spark, str(logs), store, ckpt, 2025, _resolver)
    q3.awaitTermination(120)
    assert spark.read.parquet(store).count() == 3
    assert os.path.isdir(ckpt)


def test_streaming_windowed_agg(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "mail.log").write_text(LINE1 + LINE2 + LINE3)

    from maillogsentinel_spark.operators.parse import parse_sasl_lines

    lines = spark.readStream.text(str(logs))
    events = parse_sasl_lines(lines, year=2025)
    counts = streaming_daily_user_counts(events)
    q = (
        counts.writeStream.format("memory")
        .queryName("daily_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM daily_counts ORDER BY day, user").collect()
    assert [(r["user"], r["cnt"]) for r in rows] == [
        ("alice", 1), ("bob", 1), ("carol", 1),
    ]
    assert rows[0]["day"] != rows[2]["day"]  # two distinct daily windows


def test_streaming_windowed_agg_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume for the STATEFUL windowed agg — the restart path a
    production user hits on day one. Drain file A into a checkpoint,
    stop the query, drop file B next to it, and restart the SAME
    topology from the SAME checkpoint via foreachBatch (the memory sink
    cannot recover from a checkpoint — documented pitfall). The resumed
    run reads ONLY file B, so alice's day-count of 2 and bob's surviving
    row can only come from the RESTORED state store merging with the new
    rows; the final complete-mode snapshot must equal the batch GROUP BY
    over A+B."""
    from maillogsentinel_spark.operators.parse import parse_sasl_lines
    from pyspark.sql import functions as F

    logs = tmp_path / "rlogs"
    logs.mkdir()
    ckpt = str(tmp_path / "rckpt")
    (logs / "mail.log").write_text(LINE1 + LINE2)

    final = {}

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:  # complete mode rewrites the whole result each batch
            final.clear()
            final.update({(str(r["day"]), r["user"]): r["cnt"] for r in rows})

    def run():
        events = parse_sasl_lines(spark.readStream.text(str(logs)), year=2025)
        q = (
            streaming_daily_user_counts(events)
            .writeStream.foreachBatch(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()  # first incarnation: file A only
    assert {k[1]: v for k, v in final.items()} == {"alice": 1, "bob": 1}

    # "crash", then new data arrives: a second alice event on the SAME
    # day (forces a state-store merge, not just a new key) + carol
    (logs / "mail.log.1").write_text(LINE1 + LINE3)
    run()  # second incarnation resumes from ckpt, reads only mail.log.1

    batch = parse_sasl_lines(spark.read.text(str(logs)), year=2025)
    expect = {
        (str(r["day"]), r["user"]): r["cnt"]
        for r in (
            batch.groupBy(
                F.window("ts", "1 day").start.alias("day"), "user"
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
    }
    assert final == expect
    assert final[max(k for k in final if k[1] == "alice")] == 2


def test_stream_stream_join_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume for the STREAM-STREAM join — the heaviest state
    restore path (four state stores per partition per side). Phase 1
    drains a file whose left row for uid=2 has no partner yet; after a
    stop, phase 2's file carries ONLY the matching right row. The
    resumed incarnation reads only the new file, so the (102, 202)
    match can emit ONLY if the left side's join state was restored from
    the checkpoint. foreachBatch sink (memory sink cannot recover from
    a checkpoint — documented pitfall); final row set must equal the
    batch inner join over both files."""
    from pyspark.sql import Row, functions as F

    src = tmp_path / "jrows"
    src.mkdir()
    ckpt = str(tmp_path / "jckpt")

    def write_file(name, rows):
        spark.createDataFrame(rows).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage"))
        import shutil, glob

        part = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
        shutil.copy(part, str(src / name))

    def ts(minute):
        import datetime

        return datetime.datetime(2025, 3, 1, 10, minute)

    write_file(
        "a.parquet",
        [
            Row(side="l", uid=1, eid=101, ts=ts(0)),
            Row(side="l", uid=2, eid=102, ts=ts(5)),
            Row(side="r", uid=1, eid=201, ts=ts(10)),
        ],
    )

    matches = set()

    def sink(batch_df, batch_id):
        matches.update(
            (r["l_eid"], r["r_eid"]) for r in batch_df.collect()
        )

    schema = spark.read.parquet(str(src / "a.parquet")).schema

    def run():
        s = spark.readStream.schema(schema).parquet(str(src))
        left = (
            s.filter(F.col("side") == "l")
            .selectExpr("uid AS l_uid", "eid AS l_eid", "ts AS l_ts")
            .withWatermark("l_ts", "1 hour")
        )
        right = (
            s.filter(F.col("side") == "r")
            .selectExpr("uid AS r_uid", "eid AS r_eid", "ts AS r_ts")
            .withWatermark("r_ts", "1 hour")
        )
        j = left.join(
            right,
            F.expr(
                "l_uid = r_uid AND r_ts >= l_ts"
                " AND r_ts <= l_ts + INTERVAL 30 MINUTES"
            ),
        )
        q = (
            j.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()  # first incarnation: only (101, 201) can match
    assert matches == {(101, 201)}

    # "crash"; the partner for uid=2 arrives in a NEW file
    write_file("b.parquet", [Row(side="r", uid=2, eid=202, ts=ts(20))])
    run()  # resumed incarnation reads only b.parquet

    assert matches == {(101, 201), (102, 202)}

    # oracle: batch inner join over everything both incarnations saw
    b = spark.read.schema(schema).parquet(str(src))
    bl = b.filter("side = 'l'").selectExpr("uid u", "eid le", "ts lt")
    br = b.filter("side = 'r'").selectExpr("uid u", "eid re", "ts rt")
    expect = {
        (r["le"], r["re"])
        for r in bl.join(
            br,
            (bl.u == br.u)
            & (br.rt >= bl.lt)
            & (br.rt <= bl.lt + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    assert matches == expect


def test_streaming_sessions_gap_close(spark, tmp_path):
    """Built-in session_window: two bursts separated by > gap become two
    sessions; append mode emits only sessions finalized by watermark."""
    from maillogsentinel_spark.streaming.sessions import streaming_sessions

    logs = tmp_path / "slogs"
    logs.mkdir()
    lines = (
        # alice: burst of 2 (gap 5 min), then 2h later a single event,
        # then a far-future event that pushes the watermark past both
        "Sep 28 10:00:00 s p[1]: warning: unknown[1.1.1.1]: SASL fail, sasl_username=alice\n"
        "Sep 28 10:05:00 s p[2]: warning: unknown[1.1.1.1]: SASL fail, sasl_username=alice\n"
        "Sep 28 12:00:00 s p[3]: warning: unknown[1.1.1.1]: SASL fail, sasl_username=alice\n"
        "Sep 30 00:00:00 s p[4]: warning: unknown[2.2.2.2]: SASL fail, sasl_username=bob\n"
    )
    (logs / "mail.log").write_text(lines)

    from maillogsentinel_spark.operators.parse import parse_sasl_lines

    events = parse_sasl_lines(spark.readStream.text(str(logs)), year=2025)
    sessions = streaming_sessions(events, key_col="user", gap="30 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM sessions_t ORDER BY key, session_start"
    ).collect()
    alice = [r for r in rows if r["key"] == "alice"]
    assert [r["n_events"] for r in alice] == [2, 1]
    # first session spans the 2-event burst + gap padding
    assert alice[0]["session_start"].hour == 10
    assert alice[1]["session_start"].hour == 12


def test_unbounded_state_warns_at_plan_build(spark):
    """state_ttl_ms=None must emit UnboundedStateWarning when the
    stateful operator is BUILT (the continuous-trigger state-growth
    hazard is announced, not buried in a docstring); passing a TTL
    stays silent."""
    import warnings

    from maillogsentinel_spark.streaming.sessions import (
        streaming_failure_streaks,
    )
    from maillogsentinel_spark.streaming.ttl import UnboundedStateWarning

    from pyspark.sql import functions as F

    events = spark.createDataFrame(
        [("1.1.1.1",)], "ip string"
    ).withColumn("ts", F.current_timestamp())
    with pytest.warns(UnboundedStateWarning, match="availableNow"):
        streaming_failure_streaks(events)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UnboundedStateWarning)
        streaming_failure_streaks(events, state_ttl_ms=60_000)


def test_start_stateful_guards_continuous_trigger(spark, tmp_path):
    """start_stateful enforces what the build-time warning only
    advises: a NoTimeout stateful plan on a processingTime trigger
    RAISES (state would grow forever on a 24/7 stream) unless the
    caller opts out with allow_unbounded_state=True; availableNow
    drains — where NoTimeout is required — start unchanged, and a
    TTL'd plan starts on any trigger. The guard is derived from the
    analyzed plan's stateful node, not a registry."""
    import warnings

    from maillogsentinel_spark.streaming.sessions import (
        streaming_failure_streaks,
    )
    from maillogsentinel_spark.streaming.ttl import (
        UnboundedStateError,
        has_unbounded_state,
        start_stateful,
    )

    logs = tmp_path / "guard_logs"
    logs.mkdir()
    (logs / "mail.log").write_text(
        "Sep 28 10:00:00 s p[1]: warning: unknown[9.9.9.9]: "
        "SASL fail, sasl_username=eve\n"
    )
    lines = spark.readStream.text(str(logs))
    parsed = lines.selectExpr(
        "'9.9.9.9' as ip", "current_timestamp() as ts"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        unbounded = streaming_failure_streaks(parsed)
    bounded = streaming_failure_streaks(parsed, state_ttl_ms=60_000)
    assert has_unbounded_state(unbounded)
    assert not has_unbounded_state(bounded)

    # continuous + NoTimeout: refused before any query starts
    with pytest.raises(UnboundedStateError, match="state_ttl_ms"):
        start_stateful(unbounded, str(tmp_path / "ck1"),
                       available_now=False, processing_time="1 second")
    # explicit opt-out starts (bounded key domain is the caller's claim)
    q = start_stateful(unbounded, str(tmp_path / "ck2"),
                       available_now=False, processing_time="1 second",
                       allow_unbounded_state=True, query_name="optout_t")
    q.stop()
    # availableNow drain over NoTimeout: unchanged, runs to completion
    q2 = start_stateful(unbounded, str(tmp_path / "ck3"),
                        query_name="drain_t")
    q2.awaitTermination(120)
    # TTL'd plan on a continuous trigger: no guard in the way
    q3 = start_stateful(bounded, str(tmp_path / "ck4"),
                        available_now=False, processing_time="1 second",
                        query_name="ttl_t")
    q3.stop()
    # the documented DEFAULT invocation (memory sink, no query_name)
    # must run — the name is auto-generated
    q4 = start_stateful(bounded, str(tmp_path / "ck7"))
    q4.awaitTermination(120)
    # trigger argument hygiene
    with pytest.raises(ValueError, match="not both"):
        start_stateful(bounded, str(tmp_path / "ck5"),
                       available_now=True, processing_time="1 second")
    with pytest.raises(ValueError, match="processingTime"):
        start_stateful(bounded, str(tmp_path / "ck6"), available_now=False)


def test_streaming_failure_streaks_alerts_mid_stream(spark, tmp_path):
    """applyInPandasWithState: alert appears as soon as the streak
    crosses the threshold, within the batch that crosses it."""
    from maillogsentinel_spark.streaming.sessions import (
        streaming_failure_streaks,
    )

    logs = tmp_path / "flogs"
    logs.mkdir()
    burst = "".join(
        f"Sep 28 10:0{i}:00 s p[{i}]: warning: unknown[9.9.9.9]: SASL fail, sasl_username=eve\n"
        for i in range(4)
    )
    one = "Sep 28 10:00:00 s p[9]: warning: unknown[8.8.8.8]: SASL fail, sasl_username=al\n"
    (logs / "mail.log").write_text(burst + one)

    from maillogsentinel_spark.operators.parse import parse_sasl_lines

    events = parse_sasl_lines(spark.readStream.text(str(logs)), year=2025)
    alerts = streaming_failure_streaks(
        events, key_col="ip", threshold=3, state_ttl_ms=None
    )
    q = (
        alerts.writeStream.format("memory")
        .queryName("streaks_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM streaks_t").collect()
    # 9.9.9.9 crossed threshold (4 >= 3) -> exactly one alert this batch;
    # 8.8.8.8 (1 failure) stays silent
    assert [(r["key"], r["streak"]) for r in rows] == [("9.9.9.9", 4)]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Row-level streaming dedup: a replayed line in a later micro-batch
    is dropped (state restored from the checkpoint across runs)."""
    from maillogsentinel_spark.operators.parse import parse_sasl_lines
    from maillogsentinel_spark.streaming.dedup import streaming_dedup

    logs = tmp_path / "dlogs"
    logs.mkdir()
    out = str(tmp_path / "dstore")
    ckpt = str(tmp_path / "dckpt")

    def run():
        lines = spark.readStream.text(str(logs))
        deduped = streaming_dedup(
            parse_sasl_lines(lines, year=2025), keys=("ip", "user"), watermark="2 days"
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (logs / "a.log").write_text(LINE1 + LINE2)
    run()
    assert spark.read.parquet(out).count() == 2

    # replay of LINE1 plus one genuinely new line
    (logs / "b.log").write_text(LINE1 + LINE3)
    run()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3  # replayed LINE1 dropped
    assert sorted(r["user"] for r in rows) == ["alice", "bob", "carol"]


def test_incremental_rollup_and_compaction(spark, tmp_path):
    """foreachBatch maintains a per-day rollup by dynamic partition
    overwrite; compaction shrinks per-partition file counts."""
    import glob
    import os

    from maillogsentinel_spark.sources.store import compact_store
    from maillogsentinel_spark.streaming.rollup import start_rollup_ingest

    logs = tmp_path / "rlogs"
    logs.mkdir()
    store = str(tmp_path / "rstore")
    rollup = str(tmp_path / "rrollup")
    ckpt = str(tmp_path / "rckpt")

    def run():
        q = start_rollup_ingest(
            spark, str(logs), store, rollup, ckpt, 2025, _resolver
        )
        q.awaitTermination(120)

    (logs / "a.log").write_text(LINE1 + LINE2)   # two users, day 28
    run()
    rows = {(str(r["event_date"]), r["user"]): r["cnt"]
            for r in spark.read.parquet(rollup).collect()}
    assert rows == {("2025-09-28", "alice"): 1, ("2025-09-28", "bob"): 1}

    # second batch: same day new event for alice + a new day
    (logs / "b.log").write_text(LINE1 + LINE3)
    run()
    rows = {(str(r["event_date"]), r["user"]): r["cnt"]
            for r in spark.read.parquet(rollup).collect()}
    assert rows == {
        ("2025-09-28", "alice"): 2, ("2025-09-28", "bob"): 1,
        ("2025-09-29", "carol"): 1,
    }

    # the day-28 store partition now holds files from two batches;
    # compaction rewrites it to one file and keeps the data identical
    day_dir = os.path.join(store, "event_date=2025-09-28")
    before = len(glob.glob(os.path.join(day_dir, "*.parquet")))
    assert before >= 2
    data_before = sorted(
        (r["user"], str(r["ts"])) for r in spark.read.parquet(store).collect()
    )
    n = compact_store(spark, store)
    assert n == 2  # two day partitions compacted
    after = len(glob.glob(os.path.join(day_dir, "*.parquet")))
    assert after == 1
    data_after = sorted(
        (r["user"], str(r["ts"])) for r in spark.read.parquet(store).collect()
    )
    assert data_after == data_before


def test_streaming_sql_export_exactly_once(spark, tmp_path):
    import sqlite3

    from maillogsentinel_spark.plans.pipeline import build_events
    from maillogsentinel_spark.sources.sqlio import load_mapping
    from maillogsentinel_spark.sources.store import write_events
    from maillogsentinel_spark.streaming.ingest import start_sql_export

    mapping = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "maillogsentinel_spark", "config", "sql_column_mapping.json",
    )
    specs = load_mapping(mapping)
    store = str(tmp_path / "store")
    db = str(tmp_path / "export.db")
    ckpt = str(tmp_path / "ckpt_sql")

    lines1 = spark.createDataFrame([(LINE1.strip(),), (LINE2.strip(),)], ["value"])
    write_events(build_events(lines1, 2025, _resolver), store)
    q = start_sql_export(spark, store, db, "events", specs, ckpt)
    q.awaitTermination(120)
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM events").fetchone()[0] == 2

    # new store file → only the delta is exported on the next run
    lines2 = spark.createDataFrame([(LINE3.strip(),)], ["value"])
    write_events(build_events(lines2, 2025, _resolver), store)
    q2 = start_sql_export(spark, store, db, "events", specs, ckpt)
    q2.awaitTermination(120)
    rows = con.execute(
        "SELECT username, event_time FROM events ORDER BY username"
    ).fetchall()
    assert [r[0] for r in rows] == ["alice", "bob", "carol"]
    assert rows[0][1] == "2025-09-28 00:33:00"

    # idempotent re-run: nothing new → no duplicates
    q3 = start_sql_export(spark, store, db, "events", specs, ckpt)
    q3.awaitTermination(120)
    assert con.execute("SELECT count(*) FROM events").fetchone()[0] == 3
    con.close()


def test_sql_export_batch_replay_is_idempotent(spark, tmp_path):
    # foreachBatch is at-least-once: simulate a crash AFTER the SQLite
    # commit but BEFORE the checkpoint commit by re-running the same
    # batch_id directly — the ledger must short-circuit the replay.
    import sqlite3

    from maillogsentinel_spark.sources.sqlio import load_mapping, write_sqlite
    from maillogsentinel_spark.sources.sqlio import cast_with_mapping
    from maillogsentinel_spark.plans.pipeline import build_events

    mapping = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "maillogsentinel_spark", "config", "sql_column_mapping.json",
    )
    specs = load_mapping(mapping)
    db = str(tmp_path / "replay.db")
    from pyspark.sql import functions as F

    lines = spark.createDataFrame([(LINE1.strip(),), (LINE2.strip(),)], ["value"])
    ev = build_events(lines, 2025, _resolver).select(
        "server",
        F.date_format("ts", "dd/MM/yyyy HH:mm").alias("date"),
        "ip", "user", "hostname", "reverse_dns_status",
        "country_code", "asn", "aso",
    )
    good = cast_with_mapping(ev, specs)
    assert write_sqlite(good, db, "events", specs, batch_id=0) == 2
    # replay of the same micro-batch: ledger row already present → no-op
    assert write_sqlite(good, db, "events", specs, batch_id=0) == 0
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM events").fetchone()[0] == 2
    assert con.execute(
        "SELECT target_table, batch_id FROM _committed_batches"
    ).fetchall() == [("events", 0)]
    # the next batch_id still writes
    assert write_sqlite(good, db, "events", specs, batch_id=1) == 2
    assert con.execute("SELECT count(*) FROM events").fetchone()[0] == 4
    con.close()


def test_sql_export_quarantine_sink(spark, tmp_path):
    # NOT-NULL-violating rows land in the quarantine parquet with their
    # batch_id instead of vanishing.
    import sqlite3

    from maillogsentinel_spark.sources.sqlio import load_mapping
    from maillogsentinel_spark.sources.store import write_events
    from maillogsentinel_spark.plans.pipeline import build_events
    from maillogsentinel_spark.streaming.ingest import start_sql_export
    from pyspark.sql import functions as F

    mapping = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "maillogsentinel_spark", "config", "sql_column_mapping.json",
    )
    specs = load_mapping(mapping)
    store = str(tmp_path / "store_q")
    db = str(tmp_path / "export_q.db")
    ckpt = str(tmp_path / "ckpt_q")
    qdir = str(tmp_path / "quarantine")

    lines = spark.createDataFrame([(LINE1.strip(),), (LINE2.strip(),)], ["value"])
    ev = build_events(lines, 2025, _resolver)
    # poison one row: null ip violates the NOT NULL mapping column
    ev = ev.withColumn(
        "ip", F.when(F.col("user") == "alice", F.lit(None)).otherwise(F.col("ip"))
    )
    write_events(ev, store)
    q = start_sql_export(
        spark, store, db, "events", specs, ckpt, quarantine_path=qdir
    )
    q.awaitTermination(120)
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM events").fetchone()[0] == 1
    con.close()
    quar = spark.read.parquet(qdir).collect()
    assert len(quar) == 1
    assert quar[0]["batch_id"] == 0
    assert "ip" in quar[0]["violations"]


def test_spray_alerts_tws_gate_is_plan_time():
    """Without google.protobuf, requesting the transformWithStateInPandas
    engine must fail AT PLAN BUILD with a clear, actionable error — not
    crash the state server mid-stream with 'driver worker exited
    unexpectedly'. (With protobuf installed this test is vacuous and
    the end-to-end test below exercises the tws path for real.)"""
    from maillogsentinel_spark.streaming.sessions import (
        _has_protobuf,
        streaming_spray_alerts,
    )

    if _has_protobuf():
        pytest.skip("protobuf present — the plan-time gate is vacuous here")
    with pytest.raises(ModuleNotFoundError, match="apiws"):
        streaming_spray_alerts(None, implementation="tws")


def test_streaming_spray_alerts_stateful(spark, tmp_path):
    """Password-spray detector semantics, on whichever stateful engine
    the environment supports (implementation='auto': the Spark-4
    transformWithStateInPandas path when google.protobuf is importable,
    the dependency-free applyInPandasWithState path otherwise — same
    output schema, same crossing-only alert rule): an IP trying many
    DISTINCT usernames alerts once when crossing the threshold; a noisy
    single-user IP stays silent; state persists across micro-batches
    via the checkpoint."""
    from maillogsentinel_spark.operators.parse import parse_sasl_lines
    from maillogsentinel_spark.streaming.sessions import streaming_spray_alerts

    logs = tmp_path / "spraylogs"
    logs.mkdir()
    ckpt = str(tmp_path / "sprayckpt")
    spray = "".join(
        f"Sep 28 10:0{i}:00 s p[{i}]: warning: unknown[7.7.7.7]: SASL fail, sasl_username=u{i}\n"
        for i in range(2)
    )
    noisy = "".join(
        f"Sep 28 10:0{i}:00 s p[{i}]: warning: unknown[6.6.6.6]: SASL fail, sasl_username=same\n"
        for i in range(5)
    )
    (logs / "mail.log").write_text(spray + noisy)

    got = []

    def run():
        # foreachBatch, not the memory sink: this test RESUMES from the
        # checkpoint on its second run, which the memory sink refuses
        events = parse_sasl_lines(spark.readStream.text(str(logs)), year=2025)
        alerts = streaming_spray_alerts(events, threshold=3)
        q = (
            alerts.writeStream.foreachBatch(
                lambda df, _bid: got.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # batch 1: 7.7.7.7 has only 2 distinct users -> silent; 6.6.6.6 has
    # 1 distinct user across 5 failures -> silent
    assert got == []

    # a later file pushes 7.7.7.7 to 3 distinct users -> one alert with
    # the full running totals (state restored from the checkpoint)
    (logs / "mail.log.2").write_text(
        "Sep 28 10:09:00 s p[9]: warning: unknown[7.7.7.7]: SASL fail, sasl_username=u9\n"
    )
    run()
    assert [(r["key"], r["total_failures"], r["distinct_users"]) for r in got] == [
        ("7.7.7.7", 3, 3)
    ]


def test_stream_stream_watchlist_join(spark, tmp_path):
    """Two live streams joined under event-time bounds: a failure
    matches only watchlist entries added within the retention window
    before it; stale entries produce no alert."""
    from maillogsentinel_spark.operators.parse import parse_sasl_lines
    from maillogsentinel_spark.streaming.joins import streaming_watchlist_join

    logs = tmp_path / "wlogs"
    logs.mkdir()
    wdir = tmp_path / "wlist"
    wdir.mkdir()
    (logs / "mail.log").write_text(
        # 10:30 failure from 5.5.5.5 (listed at 10:00 -> within 1h: alert)
        "Sep 28 10:30:00 s p[1]: warning: unknown[5.5.5.5]: SASL fail, sasl_username=eve\n"
        # 13:00 failure from 5.5.5.5 (listing now stale > 1h: no alert)
        "Sep 28 13:00:00 s p[2]: warning: unknown[5.5.5.5]: SASL fail, sasl_username=eve\n"
        # never-listed IP: no alert
        "Sep 28 10:31:00 s p[3]: warning: unknown[4.4.4.4]: SASL fail, sasl_username=al\n"
    )
    (wdir / "w.csv").write_text("5.5.5.5,2025-09-28 10:00:00,bruteforce\n")

    failures = parse_sasl_lines(spark.readStream.text(str(logs)), year=2025)
    watchlist = (
        spark.readStream.schema("ip string, added_ts timestamp, reason string")
        .csv(str(wdir))
    )
    alerts = streaming_watchlist_join(failures, watchlist, retention="1 hour")
    q = (
        alerts.writeStream.format("memory")
        .queryName("watch_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM watch_t").collect()
    assert [(r["ip"], r["user"], r["reason"]) for r in rows] == [
        ("5.5.5.5", "eve", "bruteforce")
    ]
    assert rows[0]["fail_ts"].hour == 10 and rows[0]["listed_ts"].hour == 10


def test_stateful_streaming_on_rocksdb_state_store(spark, tmp_path):
    """Production state backend: the same stateful streak operator runs
    on RocksDBStateStoreProvider (bounded-memory, changelog-compacted
    state — the 100 TB-of-state answer, vs the default in-memory
    HDFS-backed provider) and produces identical alerts."""
    from maillogsentinel_spark.operators.parse import parse_sasl_lines
    from maillogsentinel_spark.streaming.sessions import (
        streaming_failure_streaks,
    )

    logs = tmp_path / "rocklogs"
    logs.mkdir()
    (logs / "mail.log").write_text(
        "".join(
            f"Sep 28 10:0{i}:00 s p[{i}]: warning: unknown[3.3.3.3]: SASL fail, sasl_username=mallory\n"
            for i in range(4)
        )
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        events = parse_sasl_lines(spark.readStream.text(str(logs)), year=2025)
        alerts = streaming_failure_streaks(
            events, key_col="ip", threshold=3, state_ttl_ms=None
        )
        q = (
            alerts.writeStream.format("memory")
            .queryName("rocks_t")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "rocksckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM rocks_t").collect()
        assert [(r["key"], r["streak"]) for r in rows] == [("3.3.3.3", 4)]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_streaming_near_dup_candidates(spark, tmp_path):
    """Streaming LSH pre-filter: a near-duplicate arriving in a LATER
    micro-batch is flagged against the first-batch claimant (state
    restored from the checkpoint); an unrelated document stays silent.
    Pairs flagged online must agree with the batch LSH candidates."""
    import json

    from maillogsentinel_spark.streaming.near_dup import (
        streaming_near_dup_candidates,
    )

    src = tmp_path / "docsrc"
    src.mkdir()
    ckpt = str(tmp_path / "ndckpt")
    a = "the quick brown fox jumps over the lazy dog tonight"
    b = "the quick brown fox jumps over the lazy dog today"   # near dup of a
    c = "completely different content about spark engines and shuffles"
    schema = "doc_id long, text string"

    def write_batch(name, rows):
        (src / name).write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )

    collected: list = []

    def run():
        # foreachBatch (not the memory sink): the memory sink cannot
        # resume from a checkpoint, and resuming is the point here
        docs = spark.readStream.schema(schema).json(str(src))
        cands = streaming_near_dup_candidates(docs, state_ttl_ms=None)
        q = (
            cands.writeStream.foreachBatch(
                lambda df, bid: collected.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("b1.json", [(1, a), (3, c)])
    run()
    assert collected == []

    write_batch("b2.json", [(2, b)])
    run()
    pairs = {(r["first_id"], r["dup_id"]) for r in collected}
    assert pairs == {(1, 2)}

    # agreement with the batch path: (1, 2) is a batch LSH candidate too
    from maillogsentinel_spark.operators.dedup import minhash_lsh_pairs

    batch_docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], ["doc_id", "text"]
    )
    batch_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(batch_docs, threshold=0.3).collect()
    }
    assert (1, 2) in batch_pairs


def test_incremental_sketch_partials(spark, tmp_path):
    """Daily HLL sketch partials maintained at ingest: the weekly union
    over the partials matches the exact weekly distinct from the store,
    across two micro-batch runs (second run touches one existing day —
    its partial is REBUILT, not double-inserted)."""
    from maillogsentinel_spark.streaming.rollup import (
        start_rollup_ingest,
        weekly_users_from_sketches,
    )

    logs = tmp_path / "sklogs"
    logs.mkdir()
    store = str(tmp_path / "skstore")
    rollup = str(tmp_path / "skrollup")
    sketches = str(tmp_path / "sksketch")
    ckpt = str(tmp_path / "skckpt")

    def line(day, pid, ip, user):
        return (f"Sep {day} 10:00:0{pid} s p[{pid}]: warning: unknown[{ip}]: "
                f"SASL fail, sasl_username={user}\n")

    def run():
        q = start_rollup_ingest(
            spark, str(logs), store, rollup, ckpt, 2025, None,
            sketch_path=sketches,
        )
        q.awaitTermination(120)

    # week of Mon Sep 22 2025: two users on the 22nd, one on the 23rd
    (logs / "a.log").write_text(
        line(22, 1, "1.1.1.1", "alice") + line(22, 2, "2.2.2.2", "bob")
        + line(23, 3, "1.1.1.1", "alice")
    )
    run()
    # second batch: same day 23 (alice again — must not double count)
    # plus a new week (Mon Sep 29)
    (logs / "b.log").write_text(
        line(23, 4, "3.3.3.3", "carol") + line(29, 5, "4.4.4.4", "dave")
    )
    run()

    got = {
        r["week"].isoformat(): (r["approx_users"], r["n_events"])
        for r in weekly_users_from_sketches(spark, sketches).collect()
    }
    # exact: week 22-28 has {alice, bob, carol} over 4 events; week 29
    # has {dave} over 1
    assert got == {"2025-09-22": (3, 4), "2025-09-29": (1, 1)}

    # cross-check against the store's exact distinct
    from pyspark.sql import functions as F
    exact = {
        r["w"].isoformat(): r["u"]
        for r in spark.read.parquet(store)
        .select(F.date_trunc("week", "ts").cast("date").alias("w"), "user")
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("u"))
        .collect()
    }
    assert {k: v[0] for k, v in got.items()} == exact
