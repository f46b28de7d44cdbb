"""Mail-pipeline benchmark for maillogsentinel_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload bulk_backfill --seed 1 --seconds 12 --trace 0

``--workload`` is ``bulk_backfill``, ``report_export``, ``tail_stream`` or
``all`` (the three in one process, one after the other). BENCHMARK.json
gates the first two; ``tail_stream`` (open-loop streaming freshness) runs
and prints its figures, but its run-to-run spread on a four-core box is
wider than any bound the benchmark may set, so it is not gated. The
program runs on ``local[<cpus this process may use>]`` with a 2 GB driver
heap. Every input is generated from ``--seed``; every output is checked
against the generator's truth.

Standard output: one line per metric, by name with its unit (the names
each workload's users know, such as ``extract_lines_per_s``,
``freshness_p50_s``, ``report_p50_s``, ``sql_export_rows_per_s`` and
``ops_failed_ratio``) and ``peak_rss_mb``, then as the last line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones every workload reports
(setup_s, latency_p50_s, throughput_per_s); with ``--trace 1`` the
per-layer ones (see ``tracing.py``), plus the tracing overhead against
untraced iterations of the same run. A CPU and an IO load canary are
timed at the start and end of every run. Spans and all figures are
written to ``perfbench/results/``; scratch data lives under
``perfbench/work/`` and is removed at exit.

Exit status: 0 when the run completed (``correct`` tells whether the
outputs were right), non-zero when it could not run, e.g. when the
program's sources are missing from the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("bulk_backfill", "report_export", "tail_stream")
DRIVER_MEM = "2g"
RSS_PERIOD_S = 0.2


def _metric_units() -> tuple[dict, dict]:
    """End-to-end and per-layer metric names -> units, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


# peak_rss_mb is printed, not gated: the JVM's resident high-water mark
# follows when the collector reclaims old regions, and its quartile spread
# over ten seeds on report_export reached 0.26 of its median, more than
# the largest bound the benchmark may set.
def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by forked workers count once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


class MemorySampler(threading.Thread):
    """Peak combined memory of the program's processes: the JVM and the
    Python workers it starts, sampled every RSS_PERIOD_S. Other children
    of the JVM are left out: one it is spawning shares the JVM's memory
    until it execs, and would count it twice. The benchmark's own Python
    process, which holds the generator's inputs and truth, is not
    counted either."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = 0
        self._done = threading.Event()

    def sample(self) -> None:
        pids = {self.pid} | {p for p in _descendants(self.pid) if _is_python(p)}
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in pids))

    def run(self) -> None:
        while not self._done.wait(RSS_PERIOD_S):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._done.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


def _cpu_canary() -> float:
    """A fixed single-core CPU loop (SHA-256 over 16 MiB), none of the
    program's code: it reads high when other work shares the host."""
    data = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(16):
        h.update(data)
    return time.perf_counter() - t0


def _io_canary(directory: str) -> float:
    """32 fsynced 64 KiB writes and a read-back in ``directory``."""
    block = b"\x5a" * 65536
    t0 = time.perf_counter()
    with tempfile.NamedTemporaryFile(dir=directory) as f:
        for _ in range(32):
            f.write(block)
            f.flush()
            os.fsync(f.fileno())
        f.seek(0)
        while f.read(1 << 20):
            pass
    return time.perf_counter() - t0


def _cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _start_spark(work: str, cpus: int):
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
        "PYTHONHASHSEED": "0",  # same string hashing in every Python worker
    })
    time.tzset()
    tempfile.tempdir = None
    from maillogsentinel_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    spawned = _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while spawned and time.time() < deadline:
        spawned = {p for p in spawned if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for p in spawned:
        os.kill(p, signal.SIGKILL)


def _fmt(v: float) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def run(args) -> dict:
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    e2e_units, layer_units = _metric_units()
    cpus = len(os.sched_getaffinity(0))
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    work = os.path.join(ROOT, "perfbench", "work", tag)
    os.makedirs(work)
    out_dir = os.path.join(ROOT, "perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    lines: list[str] = []
    metrics: dict = {}
    attempted = failed = 0
    correct = True
    t_session = time.perf_counter()
    spark = _start_spark(work, cpus)
    try:
        session_s = time.perf_counter() - t_session
        memory = MemorySampler(spark.sparkContext._gateway.proc.pid)
        memory.start()
        canary = {"cpu_s": [_cpu_canary()], "io_s": [_io_canary(work)]}
        jiffies = _cpu_times()
        results = {}
        for name in names:
            tracer = Tracer(spark, bool(args.trace))
            ctx = Ctx(spark, os.path.join(work, name), args.seed, args.seconds,
                      cpus, tracer)
            os.makedirs(ctx.work)
            t0 = time.perf_counter()
            res = WORKLOADS[name](ctx)
            res.notes["workload_wall_s"] = time.perf_counter() - t0
            results[name] = (res, tracer)
        canary["cpu_s"].append(_cpu_canary())
        canary["io_s"].append(_io_canary(work))
        canary["steal_share"] = _steal_share(jiffies, _cpu_times())
        peak = memory.stop()
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    lines.append(f"perfbench workload={args.workload} seed={args.seed} "
                 f"seconds={args.seconds} trace={args.trace} cpus={cpus} "
                 f"session_start_s={session_s:.3f}")
    lines.append("  load canary (start,end): cpu_s=" + ",".join(f"{x:.4f}" for x in canary["cpu_s"])
                 + " io_s=" + ",".join(f"{x:.4f}" for x in canary["io_s"])
                 + f" cpu_steal_share={canary['steal_share']:.3f}")
    for name, (res, tracer) in results.items():
        prefix = f"{name}." if len(names) > 1 else ""
        e2e = res.e2e()
        ops = res.attempted
        ratio = res.failed / ops if ops else 1.0
        lines.append(f"{name}:")
        shown = dict(e2e, **res.named, peak_rss_mb=(peak, "MB"),
                     ops_failed_ratio=(ratio, "ratio"))
        for k, (v, unit) in shown.items():
            lines.append(f"  {k:<32} {_fmt(v)} {unit}")
        lines.append(f"  {'ops':<32} {res.failed} failed of {res.attempted}"
                     f" (setup checks failed: {res.setup_failed})")
        for k, v in res.notes.items():
            lines.append(f"  note {k} = {_fmt(v)}")
        if args.trace:
            layers = {k: res.layers.get(k, 0.0) for k in layer_units}
            for k, v in layers.items():
                lines.append(f"  {k:<40} {_fmt(v)} {layer_units[k]}")
            metrics.update({prefix + k: {"value": v, "unit": layer_units[k]}
                            for k, v in layers.items()})
        else:
            metrics.update({prefix + k: {"value": e2e[k][0], "unit": u}
                            for k, u in e2e_units.items()})
        attempted += res.attempted
        failed += res.failed
        correct &= res.failed == 0 and res.setup_failed == 0
        tracer.dump(os.path.join(out_dir, f"{tag}-{name}.json"), {
            "workload": name, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "cpus": cpus, "canary": canary,
            "session_start_s": session_s,
            "e2e": e2e, "named": res.named, "peak_rss_mb": peak, "layers": res.layers,
            "notes": res.notes, "latencies_s": res.latency,
            "attempted": res.attempted, "failed": res.failed,
        })
    return {"lines": lines, "result": {
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": metrics}}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "maillogsentinel_spark", "__init__.py")):
        print(f"perfbench: maillogsentinel_spark not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # The JVM and the program print to fd 1; keep stdout for the report
    # and send everything else to stderr.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    out = run(args)
    text = "\n".join(out["lines"]) + "\n" + json.dumps(out["result"]) + "\n"
    os.write(real_stdout, text.encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
