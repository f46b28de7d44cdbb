"""The three mail-pipeline workloads.

Each workload builds its inputs from the seed with ``gen``, sets up
once or several times (``setup_s`` is the median; the gated workloads
first set up once untimed, as a process's first calls pay JIT and plan
compilation), warms the measured path where it is still slower,
measures for the requested seconds, checks every output against the
generator's truth, and returns a ``Result``. With tracing on it also times each
layer from outside the program (see ``tracing.py`` for the layer ->
metric -> workload map).

- ``bulk_backfill``: closed loop, one client, ``app.run_extract`` over a
  fresh rotated log set per iteration (a fresh IP pool each time, so the
  rDNS cache is cold). Per-line work dominates.
- ``tail_stream``: open loop. A generator thread lands one small rotated
  file per ``TAIL_INTERVAL_S`` by atomic rename into the directory that
  ``streaming.ingest.start_ingest`` watches; each file is timed from its
  due time to the commit of the micro-batch that holds it. Per-batch
  fixed cost dominates.
- ``report_export``: closed loop, one client, over a 60-day store built
  by 24 hourly appends through ``sources.store.write_events``:
  ``report.daily_report_stats`` + ``report.render_report`` on seeded
  days, then ``app.run_sql_export`` + ``app.run_sql_import``. It loads the
  read side of the store only.
"""

from __future__ import annotations

import datetime as dt
import glob
import inspect
import json
import os
import shutil
import sqlite3
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen
from perfbench.tracing import ProgressListener, Tracer, median

# Sizes, fixed for every seed. They are assumptions, not measurements of
# a mail host: each is chosen so that a run takes about a minute on four
# cores, because the benchmark's full schedule of runs must fit in an hour.
# - BULK_LINES: one extract of 350k lines takes 5-8 s, so the window holds
#   at least two.
# - BULK_POOL: 8k addresses under Zipf s=1.1 give about 2.5k distinct IPs
#   per extract, each resolved cold, with repeats inside the extract.
# - REPORT_*: 60 days of about 1k events, written by 24 hourly appends, is
#   1440 store files and 60k rows; one SQL export + import of them takes
#   about 8 s, one report 4-5 s.
N_COUNTRY_RANGES, N_ASN_RANGES = 120_000, 180_000
TAIL_SETUP_REPS = 3
BULK_SETUP_REPS = 3
BULK_COLD_LINES = 30_000
BULK_SETUP_LINES = 80_000
BULK_MIN_EXTRACTS = 3
BULK_LINES = 350_000
BULK_POOL = 8_000
BULK_SASL_SHARE = 0.04
# share of each rotated set per file, oldest first: two gzipped, two plain
BULK_FILES = (("mail.log.3.gz", 0.15), ("mail.log.2.gz", 0.15),
              ("mail.log.1", 0.20), ("mail.log", 0.50))
TAIL_INTERVAL_S = 2.5
TAIL_LINES = 1_000
TAIL_SASL_SHARE = 0.04
TAIL_HOT_IPS = 2_000
TAIL_COLD_SHARE = 0.1
TAIL_TRIGGER = "100 milliseconds"
TAIL_WARM_FILES = 2
REPORT_DAYS = 60
REPORT_EVENTS_PER_DAY = 1_000
REPORTS_PER_EXPORT = 2
REPORT_WARM_DAYS = 1
REPORT_INGEST_LINES = 100_000
SERVER_NAME = "bench-mx"
BULK_DAY0 = dt.date(gen.YEAR, 9, 25)
TAIL_DAY = dt.date(gen.YEAR, 10, 2)
REPORT_DAY0 = dt.date(gen.YEAR, 6, 1)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    cpus: int
    tracer: Tracer

    @property
    def trace(self) -> bool:
        return self.tracer.enabled


@dataclass
class Result:
    """``named`` holds the metrics under the names the workload's users
    know them by (extract_lines_per_s, freshness_p50_s, ...); ``e2e()``
    the end-to-end ones every workload reports; ``layers`` the traced
    per-layer ones."""

    setup_s: float = 0.0
    latency: list[float] = field(default_factory=list)
    throughput: float = 0.0
    attempted: int = 0
    failed: int = 0
    setup_failed: int = 0
    named: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    def e2e(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "latency_p50_s": (median(self.latency), "s"),
            "throughput_per_s": (self.throughput, "1/s"),
        }


# --- shared helpers -------------------------------------------------------

def _dims(ctx: Ctx):
    return gen.write_dims(ctx.seed, os.path.join(ctx.work, "dims"),
                          N_COUNTRY_RANGES, N_ASN_RANGES)


def _store_rows(spark, path: str) -> list[tuple]:
    from pyspark.sql import functions as F

    from maillogsentinel_spark.sources.store import read_events

    if not glob.glob(os.path.join(path, "*", "*.parquet")):
        return []
    df = read_events(spark, path)
    return [tuple(r) for r in df.select(
        "server", F.date_format("ts", "yyyy-MM-dd HH:mm"), "ip", "user",
        "hostname", "reverse_dns_status", "country_code", "asn", "aso").collect()]


def _key(row: tuple) -> tuple:
    return (row[0], row[1].strftime("%Y-%m-%d %H:%M"), *row[2:])


def _diff(got: list[tuple], truth: list[tuple]) -> int:
    """Rows missing from ``got`` plus rows it holds that are not true."""
    a, b = Counter(got), Counter(_key(r) for r in truth)
    return sum(((a - b) + (b - a)).values())


def _bytes_under(path: str, pattern: str = "**/*.parquet") -> tuple[int, int]:
    files = glob.glob(os.path.join(path, pattern), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def _explode_factor(country: gen.RangeTable, asn: gen.RangeTable) -> float:
    """Rows the bucketed range join broadcasts ÷ dim rows, at the join's
    default bucket width."""
    from maillogsentinel_spark.operators.range_join import range_join

    bits = inspect.signature(range_join).parameters["bucket_bits"].default
    rows = exploded = 0
    for t in (country, asn):
        rows += len(t.starts)
        exploded += int(((t.ends >> bits) - (t.starts >> bits) + 1).sum())
    return exploded / rows


def _geo_hit_ratio(rows: list[tuple]) -> float:
    if not rows:
        return 0.0
    hits = sum((r[6] != "N/A") + (r[7] != "N/A") for r in rows)
    return hits / (2 * len(rows))


def _spark_layers(stages: dict, wall_s: float, cpus: int) -> dict:
    return {
        "spark.core_utilization": stages["executor_run_s"] / (wall_s * cpus) if wall_s else 0.0,
        "spark.jobs": stages["jobs"],
        "spark.tasks": stages["tasks"],
        "spark.shuffle_write_bytes": stages["shuffle_write_bytes"],
        "spark.spill_bytes": stages["spill_bytes"],
    }


def _add_stages(total: dict, part: dict) -> dict:
    return {k: total.get(k, 0) + v for k, v in part.items()}


@dataclass
class LogSet:
    dir: str
    paths: list[str]
    lines: int
    bytes: int
    truth: list[tuple]
    distinct_ips: int


def _log_set(ctx: Ctx, pools: gen.IpPools, dims, tag: str, n_lines: int,
             n_pool: int) -> LogSet:
    """A rotated set: mail.log.3.gz (oldest) .. mail.log (newest), one day
    each, IPs Zipf-distributed over a pool no earlier set used."""
    _, country, asn = dims
    d = os.path.join(ctx.work, "logs", tag)
    os.makedirs(d)
    bounds = np.concatenate([country.starts, country.ends, asn.starts, asn.ends])
    pool, p = pools.draw(n_pool, tag, bounds)
    paths, lines, events = [], 0, []
    for k, (name, share) in enumerate(BULK_FILES):
        w = gen.LogWriter(gen.rng_for(ctx.seed, "log", tag, name))
        w.fill(BULK_DAY0 + dt.timedelta(days=k), int(n_lines * share),
               BULK_SASL_SHARE, pool, p)
        path = os.path.join(d, name)
        lines += w.write(path)
        paths.append(path)
        events += w.events
    truth = gen.truth_rows(events, country, asn)
    return LogSet(d, paths, lines, sum(os.path.getsize(p) for p in paths),
                  truth, len({e.ip for e in events}))


def _layer_breakdown(ctx: Ctx, dims, paths: list[str], log_bytes: int,
                     resolver) -> dict:
    """Materialise each layer's prefix over ``paths`` with a noop write
    and difference the prefixes: scan, parse, parse+rDNS, parse+geo, the
    whole ``build_events`` plan, then the store write and CSV mirror of
    its result. rDNS runs first on these IPs, so it is cold when the set
    is fresh."""
    from maillogsentinel_spark.operators.enrich import enrich_geo
    from maillogsentinel_spark.operators.parse import parse_sasl_lines
    from maillogsentinel_spark.operators.rdns import enrich_rdns
    from maillogsentinel_spark.plans.pipeline import build_events
    from maillogsentinel_spark.sources.dims import load_geo_asn, load_geo_country
    from maillogsentinel_spark.sources.logs import read_logs
    from maillogsentinel_spark.sources.store import (
        read_events, write_events, write_events_csv)

    spark, tr = ctx.spark, ctx.tracer
    dim_paths = dims[0]

    def geo():
        return (load_geo_country(spark, dim_paths["geo_country.csv"]),
                load_geo_asn(spark, dim_paths["geo_asn.csv"]))

    def parsed():
        return parse_sasl_lines(read_logs(spark, paths), year=gen.YEAR)

    def dur(rec):
        return rec["end_s"] - rec["start_s"]

    with tr.span("sources.dims") as r_dims:
        gc, ga = geo()
        gc.write.format("noop").mode("overwrite").save()
        ga.write.format("noop").mode("overwrite").save()
    r_scan = tr.materialize("sources.logs", read_logs(spark, paths))
    r_parse = tr.materialize("operators.parse", parsed())
    r_rdns = tr.materialize("operators.rdns", enrich_rdns(parsed(), resolver))
    r_geo = tr.materialize("operators.enrich", enrich_geo(parsed(), *geo()))
    r_pipe = tr.materialize(
        "plans.pipeline", build_events(read_logs(spark, paths), gen.YEAR, resolver, *geo()))
    ev = build_events(read_logs(spark, paths), gen.YEAR, resolver, *geo()).persist()
    try:
        n_events = ev.count()
        store = os.path.join(ctx.work, "layers", "store")
        with tr.span("sources.store.write") as r_write:
            write_events(ev, store, mode="overwrite")
    finally:
        ev.unpersist()
    with tr.span("app.csv_mirror") as r_csv:
        write_events_csv(read_events(spark, store), os.path.join(ctx.work, "layers", "csv"))
    files, nbytes = _bytes_under(store)
    log_in = r_pipe["stages"]["input_bytes"] - r_dims["stages"]["input_bytes"]
    return {
        "sources.logs.read_amplification": log_in / log_bytes,
        "sources.logs.scan_tasks": r_scan["stages"]["tasks"],
        "operators.parse.self_s": dur(r_parse) - dur(r_scan),
        "operators.rdns.self_s": dur(r_rdns) - dur(r_parse),
        "operators.enrich.self_s": dur(r_geo) - dur(r_parse),
        "sources.dims.load_s": dur(r_dims),
        "sources.store.write_s": dur(r_write),
        "sources.store.files_written": files,
        "sources.store.bytes_per_event": nbytes / n_events if n_events else 0.0,
        "app.csv_mirror_s": dur(r_csv),
    }


def _csv_mirror_rows(wd: str) -> int:
    n = 0
    for part in glob.glob(os.path.join(wd, "maillogsentinel.csv.d", "*.csv")):
        with open(part, encoding="utf-8") as f:
            n += max(0, sum(1 for _ in f) - 1)  # minus the header
    return n


# --- bulk_backfill --------------------------------------------------------

def _extract(ctx: Ctx, dim_paths: dict, ls: LogSet, tag: str, resolver,
             calls=None, tracer: Tracer | None = None) -> tuple[float, dict]:
    """``app.run_extract`` over ``ls`` in a working directory of its own,
    checked against truth (``rec["wrong_rows"]``). With an enabled
    ``tracer`` it also records the micro-batch progress and the resolver
    calls counted by the ``calls`` accumulator."""
    from maillogsentinel_spark import app

    wd = os.path.join(ctx.work, "extract", tag)
    cfg = app.load_config(None)
    cfg.update(working_dir=wd, mail_log=os.path.join(ls.dir, "mail.log"),
               country_db_path=dim_paths["geo_country.csv"],
               asn_db_path=dim_paths["geo_asn.csv"],
               dns_cache_size=100_000, log_level="ERROR")
    traced = tracer is not None and tracer.enabled
    tr = tracer if traced else Tracer(ctx.spark, False)
    listener = ProgressListener() if traced else None
    if traced:
        ctx.spark.streams.addListener(listener)
        calls_before = calls.value
    t0 = time.perf_counter()
    with tr.span("app.run_extract", lines=ls.lines) as rec:
        app.run_extract(cfg, gen.YEAR, resolver=resolver)
    took = time.perf_counter() - t0
    if traced:
        _wait(lambda: listener.progress, 10)
        ctx.spark.streams.removeListener(listener)
        rec.update(progress=listener.progress, resolver_calls=calls.value - calls_before,
                   files=len(_source_log(os.path.join(wd, "checkpoint"))),
                   distinct_ips=ls.distinct_ips, events=len(ls.truth),
                   geo_hit_ratio=_geo_hit_ratio(ls.truth))
    got = _store_rows(ctx.spark, os.path.join(wd, "store"))
    rec["wrong_rows"] = _diff(got, ls.truth) + abs(_csv_mirror_rows(wd) - len(ls.truth))
    return took, rec


def bulk_backfill(ctx: Ctx) -> Result:
    res = Result()
    dims = _dims(ctx)
    dim_paths = dims[0]
    pools = gen.IpPools(ctx.seed)
    calls = ctx.spark.sparkContext.accumulator(0)
    counting = gen.StubResolver(calls=calls)
    plain = gen.StubResolver()

    # set up: a small untimed extract first (a process's first extract
    # pays JIT and plan compilation that later ones skip), then
    # BULK_SETUP_REPS timed extracts of smaller fresh sets
    setup = []
    for k in range(BULK_SETUP_REPS + 1):
        ls = _log_set(ctx, pools, dims, f"setup{k}",
                      BULK_SETUP_LINES if k else BULK_COLD_LINES, BULK_POOL // 2)
        took, rec = _extract(ctx, dim_paths, ls, f"setup{k}", plain)
        if k:
            setup.append(took)
        else:
            res.notes["setup_cold_s"] = took
        res.setup_failed += rec["wrong_rows"] > 0
        shutil.rmtree(ls.dir)
    res.setup_s = median(setup)

    # measure: fresh log set per iteration, at least BULK_MIN_EXTRACTS,
    # and none that would run past the window; in a traced run, odd
    # iterations are traced and even ones are not, for the overhead ratio
    spent, i, lines, busy, took = 0.0, 0, 0, 0.0, 0.0
    timed = {False: [], True: []}
    traced_recs = []
    while i < BULK_MIN_EXTRACTS or spent + took <= ctx.seconds:
        ls = _log_set(ctx, pools, dims, f"iter{i}", BULK_LINES, BULK_POOL)
        traced = ctx.trace and i % 2 == 1
        if traced:
            took, rec = _extract(ctx, dim_paths, ls, f"iter{i}", counting, calls, ctx.tracer)
            traced_recs.append(rec)
        else:
            took, rec = _extract(ctx, dim_paths, ls, f"iter{i}", plain)
            res.latency.append(took)
            lines += ls.lines
            busy += took
        spent += took
        res.attempted += 1
        res.failed += rec["wrong_rows"] > 0
        timed[traced].append(ls.lines / took)
        i += 1
        shutil.rmtree(ls.dir)

    res.throughput = lines / busy
    res.named = {
        "extract_lines_per_s": (res.throughput, "1/s"),
        "extract_p50_s": (median(res.latency), "s"),
    }
    res.notes["lines_per_extract"] = BULK_LINES
    if ctx.trace:
        res.layers = _ingest_layers(ctx, dims, pools, counting, traced_recs, BULK_LINES,
                                    BULK_POOL)
        # the report and SQL layers, over the store the breakdown wrote
        res.layers.update(_delivery_layers(ctx, os.path.join(ctx.work, "layers"),
                                           BULK_DAY0 + dt.timedelta(days=len(BULK_FILES) - 1)))
        res.layers["trace.overhead_ratio"] = median(timed[False]) / median(timed[True]) - 1
    return res


def _ingest_layers(ctx, dims, pools, resolver, recs, n_lines, n_pool) -> dict:
    """Per-layer figures of the ingest path: counters of the traced
    extracts ``recs``, plus a prefix breakdown over a fresh log set."""
    _, country, asn = dims
    stages = {}
    wall = calls = distinct = events = lines = 0
    for r in recs:
        stages = _add_stages(stages, r["stages"])
        wall += r["end_s"] - r["start_s"]
        calls += r["resolver_calls"]
        distinct += r["distinct_ips"]
        events += r["events"]
        lines += r["lines"]
    ls = _log_set(ctx, pools, dims, "layers", n_lines, n_pool)
    out = _layer_breakdown(ctx, dims, ls.paths, ls.bytes, resolver)
    out.update(_spark_layers(stages, wall, ctx.cpus))
    # run_extract is a one-shot (availableNow) streaming query
    out.update(_streaming_layers([p for r in recs for p in r["progress"]],
                                 sum(r["files"] for r in recs), lines))
    out.update({
        "operators.parse.selectivity": events / lines,
        "operators.rdns.distinct_ips": distinct / len(recs),
        "operators.rdns.resolver_calls": calls / len(recs),
        "operators.rdns.cache_hit_ratio": 1 - calls / distinct,
        "operators.range_join.explode_factor": _explode_factor(country, asn),
        "operators.enrich.geo_hit_ratio": median([r["geo_hit_ratio"] for r in recs]),
    })
    return out


def _report(ctx: Ctx, store: str, day: dt.date, tr: Tracer) -> tuple[float, str, dict, dict]:
    """``report.daily_report_stats`` (collected) + ``report.render_report``
    for ``day`` over ``store``, each under a span of ``tr``, as in a fresh
    process (no cached data). Returns (seconds, text, analyze span,
    render span)."""
    from maillogsentinel_spark.report import daily_report_stats, render_report
    from maillogsentinel_spark.sources.store import read_events

    date_s = day.strftime("%d/%m/%Y")
    ctx.spark.catalog.clearCache()
    t0 = time.perf_counter()
    with tr.span("report.analyze", day=str(day)) as a:
        stats = daily_report_stats(read_events(ctx.spark, store), date_s)
        stats = {k: (v.collect() if hasattr(v, "collect") else v) for k, v in stats.items()}
    with tr.span("report.render") as r:
        txt = render_report(stats, date_s, server_name=SERVER_NAME)
    return time.perf_counter() - t0, txt, a, r


def _export(wd: str, tag: str, tr: Tracer) -> tuple[float, float, Counter]:
    """``app.run_sql_export`` of the store in ``wd`` into ``wd/tag``, then
    ``app.run_sql_import`` of it into a SQLite file there, each under a
    span of ``tr``. Returns (export seconds, import seconds, the rows of
    the SQLite table)."""
    from maillogsentinel_spark import app

    cfg = app.load_config(None)
    cfg.update(working_dir=wd, log_level="ERROR")
    out = os.path.join(wd, tag)
    t0 = time.perf_counter()
    with tr.span("sources.sqlio.export"):
        app.run_sql_export(cfg, out_dir=out)
    t1 = time.perf_counter()
    with tr.span("sources.sqlio.import"):
        app.run_sql_import(dict(cfg, working_dir=out), sql_dir=out)
    t2 = time.perf_counter()
    conn = sqlite3.connect(os.path.join(out, cfg["db_path"]))
    try:
        got = Counter(conn.execute(
            "SELECT server, event_time, ip, username, hostname, reverse_dns_status,"
            f" country_code, asn, aso FROM \"{cfg['table_name']}\"").fetchall())
    finally:
        conn.close()
    return t1 - t0, t2 - t1, got


def _delivery_layers(ctx: Ctx, wd: str, day: dt.date) -> dict:
    """One report on ``day`` and one SQL export + import over the store in
    ``wd``, traced."""
    from pyspark.sql import functions as F

    from maillogsentinel_spark.sources.store import read_events

    store = os.path.join(wd, "store")
    _, _, a, r = _report(ctx, store, day, ctx.tracer)
    t_exp, t_imp, got = _export(wd, "sql", ctx.tracer)
    events = read_events(ctx.spark, store).agg(F.count(F.lit(1))).first()[0]
    _, day_bytes = _bytes_under(os.path.join(store, f"event_date={day}"))
    return _report_layers([a], [r], [day_bytes], [t_exp], [t_imp], store,
                          sum(got.values()), events - sum(got.values()))


def _report_layers(analyze: list[dict], render: list[dict], day_bytes: list[int],
                   exports: list[float], imports: list[float], store: str,
                   rows: int, quarantined: int) -> dict:
    def dur(rec):
        return rec["end_s"] - rec["start_s"]

    return {
        "sources.store.files_total": _bytes_under(store)[0],
        "report.analyze.self_s": median([dur(a) for a in analyze]),
        "report.analyze.jobs": median([a["stages"]["jobs"] for a in analyze]),
        "report.analyze.input_bytes_ratio": median(
            [a["stages"]["input_bytes"] / b for a, b in zip(analyze, day_bytes) if b]),
        "report.render.self_s": median([dur(r) for r in render]),
        "sources.sqlio.export_s": median(exports),
        "sources.sqlio.import_s": median(imports),
        "sources.sqlio.rows": rows,
        "sources.sqlio.quarantined": quarantined,
    }


# --- tail_stream ----------------------------------------------------------

class TailGenerator(threading.Thread):
    """Open-loop file lander: file i is due at ``t0 + i * interval``; it
    is written to a staging directory ahead of time and renamed into the
    watched directory at its due time, whether or not the stream keeps
    up. Each file holds one minute of log time, so a store row maps back
    to its file by its minute."""

    def __init__(self, ctx: Ctx, dims, pools: gen.IpPools, hot, stage: str,
                 dest: str, first: int, count: int, t0: float):
        super().__init__(daemon=True)
        self.ctx, self.dims, self.pools, self.hot = ctx, dims, pools, hot
        self.stage, self.dest = stage, dest
        self.first, self.count, self.t0 = first, count, t0
        self.files: list[dict] = []
        self.error: Exception | None = None

    def make(self, i: int) -> dict:
        _, country, asn = self.dims
        hot, hot_p = self.hot
        cold, _ = self.pools.draw(max(1, TAIL_LINES // 50), f"tail{i}")
        pool = np.concatenate([hot, cold])
        p = np.concatenate([hot_p * (1 - TAIL_COLD_SHARE),
                            np.full(len(cold), TAIL_COLD_SHARE / len(cold))])
        w = gen.LogWriter(gen.rng_for(self.ctx.seed, "tail", i))
        w.fill(TAIL_DAY, TAIL_LINES, TAIL_SASL_SHARE, pool, p, edge_share=0.004,
               sec_range=(60 * i, 60 * i + 60))
        name = f"mail.log.{i:05d}"
        path = os.path.join(self.stage, name)
        lines = w.write(path)
        return {"name": name, "index": i, "lines": lines, "stage": path,
                "truth": gen.truth_rows(w.events, country, asn),
                "ips": {e.ip for e in w.events}}

    def run(self) -> None:
        try:
            for k in range(self.count):
                f = self.make(self.first + k)
                f["due"] = self.t0 + k * TAIL_INTERVAL_S
                delay = f["due"] - time.time()
                if delay > 0:
                    time.sleep(delay)
                f["path"] = os.path.join(self.dest, f["name"])
                os.rename(f["stage"], f["path"])
                f["landed"] = time.time()
                self.files.append(f)
        except Exception as e:  # re-raised by the caller after join()
            self.error = e


def _source_log(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's log in the
    checkpoint (plain and compacted entries)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p, encoding="utf-8") as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _commit_time(ckpt: str, batch: int) -> float | None:
    try:
        return os.stat(os.path.join(ckpt, "commits", str(batch))).st_mtime
    except FileNotFoundError:
        return None


def _batch_start(ckpt: str, batch: int) -> float:
    return os.stat(os.path.join(ckpt, "offsets", str(batch))).st_mtime


def _committed(ckpt: str, files: list[dict]) -> bool:
    """Whether the micro-batch holding each of ``files`` has committed."""
    batch_of = _source_log(ckpt)
    return all(f["name"] in batch_of and _commit_time(ckpt, batch_of[f["name"]]) is not None
               for f in files)


def _wait(cond, timeout: float, step: float = 0.05) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if cond():
            return True
        time.sleep(step)
    return cond()


def tail_stream(ctx: Ctx) -> Result:
    from maillogsentinel_spark.sources.dims import load_geo_asn, load_geo_country
    from maillogsentinel_spark.streaming.ingest import start_ingest

    spark = ctx.spark
    res = Result()
    dims = _dims(ctx)
    dim_paths, country, asn = dims
    pools = gen.IpPools(ctx.seed)
    hot = pools.draw(TAIL_HOT_IPS, "hot")
    calls = spark.sparkContext.accumulator(0)
    resolver = gen.StubResolver(calls=calls)

    def prime(stage: str, dest: str) -> dict:
        """Minute 0: mostly SASL lines over the whole hot set, uniformly,
        so the resolver has seen (nearly) every hot IP."""
        w = gen.LogWriter(gen.rng_for(ctx.seed, "prime"))
        uniform = np.full(len(hot[0]), 1.0 / len(hot[0]))
        w.fill(TAIL_DAY, 4 * TAIL_HOT_IPS, 0.9, hot[0], uniform, sec_range=(0, 60))
        w.write(os.path.join(stage, "mail.log.prime"))
        os.rename(os.path.join(stage, "mail.log.prime"), os.path.join(dest, "mail.log.prime"))
        return {"index": 0, "truth": gen.truth_rows(w.events, country, asn)}

    setup, query, base = [], None, None
    primed = None
    for k in range(TAIL_SETUP_REPS):
        base = os.path.join(ctx.work, f"tail{k}")
        for d in ("in", "stage"):
            os.makedirs(os.path.join(base, d))
        primed = prime(os.path.join(base, "stage"), os.path.join(base, "in"))
        t0 = time.perf_counter()
        query = start_ingest(
            spark, os.path.join(base, "in"), os.path.join(base, "store"),
            os.path.join(base, "ckpt"), gen.YEAR, resolver,
            geo_country=load_geo_country(spark, dim_paths["geo_country.csv"]),
            geo_asn=load_geo_asn(spark, dim_paths["geo_asn.csv"]),
            available_now=False, processing_time=TAIL_TRIGGER)
        ok = _wait(lambda: _commit_time(os.path.join(base, "ckpt"), 0) is not None, 120)
        setup.append(time.perf_counter() - t0)
        res.setup_failed += not ok
        if k < TAIL_SETUP_REPS - 1:
            query.stop()
    res.setup_s = median(setup)
    ckpt = os.path.join(base, "ckpt")

    # warm up: a few files at the measured rate, untimed, so the stream's
    # per-batch path is compiled before the window opens
    warm = TailGenerator(ctx, dims, pools, hot, os.path.join(base, "stage"),
                         os.path.join(base, "in"), 1, TAIL_WARM_FILES, time.time())
    warm.start()
    warm.join()
    first = 1 + TAIL_WARM_FILES
    res.setup_failed += not _wait(lambda: _committed(ckpt, warm.files), 60)

    # measure: N files at a fixed rate; a traced run attaches the
    # listener and the span for the second half only, so the halves give
    # the tracing overhead
    n_files = max(2, round(ctx.seconds / TAIL_INTERVAL_S))
    half = n_files // 2
    listener = ProgressListener()
    t0 = time.time() + 0.5
    gens = [TailGenerator(ctx, dims, pools, hot, os.path.join(base, "stage"),
                          os.path.join(base, "in"), first, half, t0),
            TailGenerator(ctx, dims, pools, hot, os.path.join(base, "stage"),
                          os.path.join(base, "in"), first + half, n_files - half,
                          t0 + half * TAIL_INTERVAL_S)]
    calls_before = calls.value
    gens[0].start()
    gens[0].join()
    if ctx.trace:
        spark.streams.addListener(listener)
    with ctx.tracer.span("streaming.window") as win:
        gens[1].start()
        gens[1].join()
        window_end = t0 + n_files * TAIL_INTERVAL_S
        time.sleep(max(0.0, window_end - time.time()))
        files = gens[0].files + gens[1].files
        _wait(lambda: _committed(ckpt, files), 60)
    query.stop()
    if ctx.trace:
        spark.streams.removeListener(listener)
    for g in [warm] + gens:
        if g.error is not None:
            raise g.error

    batch_of = _source_log(ckpt)
    fresh, lateness, backlog = [], [], 0
    by_batch: dict[int, list[dict]] = {}
    for f in files:
        lateness.append(f["landed"] - f["due"])
        b = batch_of.get(f["name"])
        c = _commit_time(ckpt, b) if b is not None else None
        f["batch"], f["committed"] = b, c
        if c is None or c > window_end:
            backlog += 1
        if c is not None:
            fresh.append(c - f["due"])
            by_batch.setdefault(b, []).append(f)
    busy = {b: _commit_time(ckpt, b) - _batch_start(ckpt, b) for b in by_batch}
    rates = [sum(f["lines"] for f in by_batch[b]) / busy[b] for b in by_batch]

    # correctness, per file: its minute of rows in the store equals truth
    got_by_min: dict[str, list] = {}
    for row in _store_rows(spark, os.path.join(base, "store")):
        got_by_min.setdefault(row[1], []).append(row)

    def wrong(f: dict) -> bool:
        minute = (dt.datetime.combine(TAIL_DAY, dt.time()) +
                  dt.timedelta(minutes=f["index"])).strftime("%Y-%m-%d %H:%M")
        return _diff(got_by_min.get(minute, []), f["truth"]) > 0

    res.setup_failed += sum(wrong(f) for f in [primed] + warm.files)
    for f in files:
        res.attempted += 1
        res.failed += f["committed"] is None or wrong(f)

    half_of = {f["name"]: (k >= half) for k, f in enumerate(files)}
    res.latency = fresh
    res.throughput = median(rates)
    res.named = {
        "freshness_p50_s": (median(fresh), "s"),
        "freshness_p90_s": (_quantile(fresh, 0.9), "s"),
        "tail_backlog_files": (backlog, "count"),
        "tail_lines_per_busy_s": (res.throughput, "1/s"),
    }
    res.notes.update({
        "files": len(files), "batches": len(by_batch),
        "rate_files_per_s": 1 / TAIL_INTERVAL_S, "lines_per_file": TAIL_LINES,
        "lateness_p50_s": median(lateness), "lateness_max_s": max(lateness, default=0.0),
    })
    if ctx.trace:
        traced_files = [f for f in files if half_of[f["name"]]]
        res.layers = _tail_layers(ctx, dims, resolver, win, listener, traced_files,
                                  by_batch, calls.value - calls_before, files)
        untraced = median([c["committed"] - c["due"] for c in files
                           if c["committed"] is not None and not half_of[c["name"]]])
        traced = median([c["committed"] - c["due"] for c in traced_files
                         if c["committed"] is not None])
        res.layers["trace.overhead_ratio"] = traced / untraced - 1 if untraced else 0.0
    return res


def _quantile(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def _tail_layers(ctx, dims, resolver, win, listener, traced_files, by_batch,
                 calls, files) -> dict:
    _, country, asn = dims
    traced_batches = {f["batch"] for f in traced_files if f["batch"] is not None}
    prog = [p for p in listener.progress if p["batch_id"] in traced_batches]
    # rDNS lookups: each batch looks up its distinct IPs once
    distinct = sum(len(set().union(*(f["ips"] for f in fs))) for fs in by_batch.values())
    truth = [r for f in files for r in f["truth"]]
    # layer prefixes over a few landed files: the per-batch shape
    sample = [f["path"] for f in traced_files[:2]]
    out = _layer_breakdown(ctx, dims, sample, sum(os.path.getsize(p) for p in sample),
                           resolver)
    wall = win["end_s"] - win["start_s"]
    out.update(_spark_layers(win["stages"], wall, ctx.cpus))
    out.update({
        "operators.parse.selectivity": len(truth) / sum(f["lines"] for f in files),
        "operators.rdns.distinct_ips": distinct / max(1, len(by_batch)),
        "operators.rdns.resolver_calls": calls / max(1, len(by_batch)),
        "operators.rdns.cache_hit_ratio": 1 - calls / distinct if distinct else 0.0,
        "operators.range_join.explode_factor": _explode_factor(country, asn),
        "operators.enrich.geo_hit_ratio": _geo_hit_ratio(truth),
    })
    out.update(_streaming_layers(prog, len(traced_files),
                                 sum(f["lines"] for f in traced_files)))
    out.update(_delivery_layers(ctx, os.path.dirname(os.path.dirname(traced_files[0]["path"])),
                                TAIL_DAY))
    return out


def _streaming_layers(progress: list[dict], files: int, lines: int) -> dict:
    """Micro-batch durations from the listener, files per batch, and the
    rows the source reported ÷ the lines that landed."""
    def p50(key):
        return median([p["duration_ms"].get(key, 0) / 1000 for p in progress])

    return {
        "streaming.ingest.batch_s_p50": p50("triggerExecution"),
        "streaming.ingest.add_batch_s_p50": p50("addBatch"),
        "streaming.ingest.planning_s_p50": p50("queryPlanning"),
        "streaming.ingest.wal_commit_s_p50": p50("walCommit"),
        "streaming.ingest.files_per_batch": files / len(progress) if progress else 0.0,
        "streaming.ingest.input_rows_ratio":
            sum(p["num_input_rows"] for p in progress) / lines if lines else 0.0,
    }


# --- report_export --------------------------------------------------------

def _report_events(ctx: Ctx, pools: gen.IpPools, dims) -> list[tuple]:
    _, country, asn = dims
    rng = gen.rng_for(ctx.seed, "store")
    pool, p = pools.draw(5_000, "store")
    ips = [gen.ip_str(v) for v in pool.tolist()]
    users = gen.USERS + ["null", "N/A"]  # null-ish users: quarantined by SQL
    uw = np.concatenate([gen.USER_W * 0.995, [0.0025, 0.0025]])
    events = []
    for d in range(REPORT_DAYS):
        day = dt.datetime.combine(REPORT_DAY0 + dt.timedelta(days=d), dt.time())
        n = REPORT_EVENTS_PER_DAY + int(rng.integers(-30, 30))
        mins = np.sort(rng.integers(0, 1440, n)).tolist()
        for m, ip, u, s in zip(mins, rng.choice(len(ips), n, p=p).tolist(),
                               rng.choice(len(users), n, p=uw).tolist(),
                               rng.integers(0, len(gen.SERVERS), n).tolist()):
            events.append(gen.Event(gen.SERVERS[s], day + dt.timedelta(minutes=m),
                                    ips[ip], users[u]))
    return gen.truth_rows(events, country, asn)


def _build_store(spark, rows: list[tuple], store: str, cpus: int) -> None:
    """24 appends through ``sources.store.write_events``, the h-th holding
    hour h of every day and writing one file per day partition: each day
    ends up with one file per hour, the files an hourly ingest leaves, in
    24 writes rather than one per hour of the store."""
    import pandas as pd
    from pyspark.sql import functions as F

    from maillogsentinel_spark.schemas import MAIL_EVENTS_SCHEMA
    from maillogsentinel_spark.sources.store import write_events

    by_hour: dict[int, list[tuple]] = {}
    for r in rows:
        by_hour.setdefault(r[1].hour, []).append(r)
    for hour in sorted(by_hour):
        df = spark.createDataFrame(pd.DataFrame(by_hour[hour], columns=MAIL_EVENTS_SCHEMA.names),
                                   MAIL_EVENTS_SCHEMA)
        # a day's rows in one task: one file per partition
        write_events(df.repartition(cpus, F.to_date("ts")), store, mode="append")


def _sql_truth_rows(rows: list[tuple]) -> Counter:
    def nul(v):
        return None if v.strip().lower() in gen.NULLISH else v

    out = Counter()
    for r in rows:
        if nul(r[3]) is None:
            continue
        asn = nul(r[7])
        out[(r[0], r[1].strftime("%Y-%m-%d %H:%M:00"), r[2], r[3], nul(r[4]), r[5],
             nul(r[6]), int(asn) if asn is not None else None, nul(r[8]))] += 1
    return out


def report_export(ctx: Ctx) -> Result:
    from maillogsentinel_spark.report import render_report

    spark, tr = ctx.spark, ctx.tracer
    off = Tracer(spark, False)
    res = Result()
    dims = gen.write_dims(ctx.seed, os.path.join(ctx.work, "dims"), 1000, 1000)
    pools = gen.IpPools(ctx.seed)
    rows = _report_events(ctx, pools, dims)

    # set up: a small untimed store first (two days, four hours each) and
    # an export of it, as a process's first writes and exports pay JIT and
    # plan compilation that later ones skip; then one timed build of the
    # whole store, 24 appends (a second build would not fit the run)
    cold = os.path.join(ctx.work, "cold")
    cold_rows = [r for r in rows
                 if r[1].date() < REPORT_DAY0 + dt.timedelta(days=2) and r[1].hour < 4]
    _build_store(spark, cold_rows, os.path.join(cold, "store"), ctx.cpus)
    _export(cold, "sql", off)
    wd = os.path.join(ctx.work, "report")
    store = os.path.join(wd, "store")
    t0 = time.perf_counter()
    _build_store(spark, rows, store, ctx.cpus)
    res.setup_s = time.perf_counter() - t0
    files_total, _ = _bytes_under(store)
    res.setup_failed += files_total != len({(r[1].date(), r[1].hour) for r in rows})
    sql_rows, sql_quarantined = gen.sql_truth(rows)
    sql_expected = _sql_truth_rows(rows)

    def report(day: dt.date, t: Tracer) -> tuple[float, bool, dict, dict]:
        took, txt, a, r = _report(ctx, store, day, t)
        expected = render_report(gen.report_truth(rows, day), day.strftime("%d/%m/%Y"),
                                 server_name=SERVER_NAME)
        return took, txt == expected, a, r

    # untimed reports over the whole store, on days the measured ones
    # never pick
    for d in range(REPORT_WARM_DAYS):
        res.setup_failed += not report(REPORT_DAY0 + dt.timedelta(days=d), off)[1]

    # measure: reports on seeded days, an export + import after every
    # REPORTS_PER_EXPORT of them, and at least one export per run; in a
    # traced run every other report is traced, for the overhead ratio
    rng = gen.rng_for(ctx.seed, "days")
    report_s, report_traced = [], []
    analyze, render, day_bytes, exports, imports = [], [], [], [], []
    spent = 0.0
    while spent < ctx.seconds or not exports:
        if spent < ctx.seconds:
            day = REPORT_DAY0 + dt.timedelta(
                days=int(rng.integers(REPORT_WARM_DAYS, REPORT_DAYS)))
            traced = ctx.trace and len(report_s + report_traced) % 2 == 1
            took, ok, a, r = report(day, tr if traced else off)
            spent += took
            res.attempted += 1
            res.failed += not ok
            if traced:
                report_traced.append(took)
                analyze.append(a)
                render.append(r)
                day_bytes.append(_bytes_under(os.path.join(store, f"event_date={day}"))[1])
            else:
                report_s.append(took)
        if (len(report_s + report_traced) % REPORTS_PER_EXPORT == 0
                or spent >= ctx.seconds):
            t_exp, t_imp, got = _export(wd, f"sql{len(exports)}", tr)
            exports.append(t_exp)
            imports.append(t_imp)
            spent += t_exp + t_imp
            res.attempted += 1
            res.failed += got != sql_expected

    res.latency = report_s
    res.throughput = sql_rows * len(exports) / (sum(exports) + sum(imports))
    res.named = {
        "report_p50_s": (median(report_s), "s"),
        "report_p90_s": (_quantile(report_s, 0.9), "s"),
        "sql_export_rows_per_s": (res.throughput, "1/s"),
    }
    res.notes.update({"reports": len(report_s) + len(report_traced),
                      "exports": len(exports), "store_files": files_total,
                      "store_events": len(rows)})
    if ctx.trace:
        res.layers = _report_layers(analyze, render, day_bytes, exports, imports, store,
                                    sql_rows, sql_quarantined)
        res.layers["trace.overhead_ratio"] = median(report_traced) / median(report_s) - 1
        stages, wall = {}, 0.0
        for s in tr.spans:
            if s["parent"] is None:
                stages = _add_stages(stages, s["stages"])
                wall += s["end_s"] - s["start_s"]
        res.layers.update(_spark_layers(stages, wall, ctx.cpus))
        # the ingest layers too, over one small rotated set, so every
        # layer is timed on every workload
        calls = spark.sparkContext.accumulator(0)
        counting = gen.StubResolver(calls=calls)
        ls = _log_set(ctx, pools, dims, "ingest", REPORT_INGEST_LINES, BULK_POOL // 4)
        _, rec = _extract(ctx, dims[0], ls, "ingest", counting, calls, tr)
        res.setup_failed += rec["wrong_rows"] > 0
        ingest = _ingest_layers(ctx, dims, pools, counting, [rec], REPORT_INGEST_LINES,
                                BULK_POOL // 4)
        res.layers = {**ingest, **res.layers}
    return res


WORKLOADS = {
    "bulk_backfill": bulk_backfill,
    "tail_stream": tail_stream,
    "report_export": report_export,
}
