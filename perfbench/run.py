"""Benchmark of the anycrawl-spark engine: crawl, extraction and dedup.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one Spark session sized from
the host (``local[<cores this process may use>]``, driver memory from host
RAM). Inputs are built once per checkout under ``.perfbench_cache/``;
everything a run writes goes to ``.perfbench_work/`` and is removed at exit.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics from spans recorded around the
engine's public calls, the Spark event log and per-layer probes. The line
before it (``{"report": ...}``) adds tails, sample counts and the host.
Exits 1 when any output fails its correctness check, and 2 when the
checkout has no ``anycrawl_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3

SPAN_LAYERS = ("crawl", "seen", "politeness", "catalog", "operators", "job")


def per_layer_names() -> list[tuple[str, str]]:
    from workloads import DEDUP_LEAVES

    names = [
        ("kernel.cpu_ms_per_page", "ms"),
        ("udfs.extract_s", "s"), ("udfs.overhead_ratio", "ratio"),
        ("udfs.python_bytes_sent", "bytes"), ("udfs.python_bytes_returned", "bytes"),
        ("crawl.scan_s", "s"), ("crawl.canonical_s", "s"),
        ("crawl.fetch_join_s", "s"), ("crawl.write_s", "s"),
        ("round.plan_s", "s"), ("round.disc_s", "s"), ("round.counts_s", "s"),
        ("round.compute_s", "s"), ("round.state_writes_s", "s"),
        ("round.count", "count"), ("round.admitted", "count"), ("round.new", "count"),
        ("seen.filter_new_s", "s"), ("seen.exact_antijoin_s", "s"),
        ("seen.build_segments_s", "s"), ("seen.maybe_ratio", "ratio"),
        ("politeness.budget_s", "s"), ("politeness.admitted", "count"),
        ("politeness.deferred", "count"),
        ("catalog.append_s", "s"), ("catalog.commit_s", "s"),
        ("catalog.bytes_per_page", "bytes"),
    ]
    names += [(f"operators.{q}_s", "s") for q in DEDUP_LEAVES]
    for layer in SPAN_LAYERS:
        names += [(f"{layer}.self_s", "s"), (f"{layer}.shuffle_bytes", "bytes"),
                  (f"{layer}.tasks", "count"), (f"{layer}.executor_cpu_s", "s")]
    names += [("trace.self_sum_ratio", "ratio"), ("trace.unattributed_ratio", "ratio"),
              ("trace.overhead_s", "s")]
    return names


# ---------------------------------------------------------------------------
# host and session
# ---------------------------------------------------------------------------

def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    cores = len(os.sched_getaffinity(0))
    ram_gb = mem_kb / 2**20
    return {"cores": cores, "ram_gb": round(ram_gb, 1),
            "driver_mem_gb": max(1, min(4, int(ram_gb // 4))),
            "python": platform.python_version()}


def make_spark(host: dict, work: Path, event_log: Path | None):
    from pyspark.sql import SparkSession

    cores = host["cores"]
    b = (SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
         .config("spark.driver.memory", f"{host['driver_mem_gb']}g")
         .config("spark.sql.shuffle.partitions", str(2 * cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8000")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", str(work / "local"))
         .config("spark.sql.warehouse.dir", str(work / "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={work / 'tmp'}"))
    if event_log is not None:
        event_log.mkdir(parents=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", f"file://{event_log}"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def process_tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of this process
    and all its descendants: the driver JVM, the Python daemon and workers."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo += children.get(pid, [])
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children
    included (utime + stime + cutime + cstime)."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(sum(int(x) for x in f[11:15])
               for f in process_tree().values()) / tick


class RssSampler(threading.Thread):
    """Peak summed RSS of the process tree, read from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.stop = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def run(self):
        while not self.stop.is_set():
            rss = sum(int(f[21]) for f in process_tree().values()) * self.page
            self.peak = max(self.peak, rss)
            self.stop.wait(self.interval)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def tail(values: list[float], unit: str) -> dict:
    """Median, and the highest of p90/p99/p99.9 with at least ten samples
    beyond it (none when there are fewer than 100 samples)."""
    n = len(values)
    out = {"n": n, "p50": statistics.median(values) if values else None,
           "tail": None, "tail_pct": None, "unit": unit}
    for pct in (99.9, 99, 90):
        rank = math.ceil(pct * n / 100)          # nearest-rank percentile
        if n - rank >= 10:
            out["tail"], out["tail_pct"] = sorted(values)[rank - 1], pct
            break
    return out


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def end_to_end(setups: list[float], plain: list) -> dict:
    """The bounded end-to-end metrics (BENCHMARK.json ``end_to_end``)."""
    return {
        "setup_s": metric(statistics.median(setups), "s"),
        "job_s": metric(statistics.median(r.seconds for r in plain), "s"),
        "pages_per_s": metric(statistics.median(
            r.items / r.seconds for r in plain), "1/s"),
        "job_cpu_s": metric(statistics.median(r.cpu_s for r in plain), "s"),
    }


def per_layer(wl_layer: dict, traced: list, plain: list, span_list: list,
              event_log: Path, cores: int) -> dict:
    """The per-layer metrics (BENCHMARK.json ``per_layer``) of a traced run,
    per traced job."""
    from spans import busy_by_name, by_layer, parse_event_log, self_times

    m = dict(wl_layer)
    roots = [r.root_span for r in traced]
    n = len(roots)
    st = self_times(span_list, roots)
    busy = busy_by_name(span_list, roots)
    groups = by_layer(parse_event_log(str(event_log), roots))
    pages = m.pop("pages", 0)
    if m.get("kernel.cpu_ms_per_page") and pages:
        m["udfs.overhead_ratio"] = (m["udfs.extract_s"] * cores
                                    / (m["kernel.cpu_ms_per_page"] * pages / 1000))
    for k in ("python_bytes_sent", "python_bytes_returned"):
        m[f"udfs.{k}"] = sum(g.get(k, 0) for name, g in groups.items()
                             if name in SPAN_LAYERS) / n
    for k in ("seen.filter_new", "seen.exact_antijoin", "seen.build_segments",
              "catalog.append", "catalog.commit"):
        m[f"{k}_s"] = busy.get(k, 0) / n
    for layer in SPAN_LAYERS:
        g = groups.get(layer, {})
        m[f"{layer}.self_s"] = sum(
            v for k, v in st.items() if k.split(".", 1)[0] == layer) / n
        for k in ("shuffle_bytes", "tasks", "executor_cpu_s"):
            m[f"{layer}.{k}"] = g.get(k, 0) / n
    plain_job_s = statistics.mean(r.seconds for r in plain)
    traced_job_s = statistics.mean(r.seconds for r in traced)
    m["trace.self_sum_ratio"] = sum(st.values()) / n / plain_job_s
    m["trace.unattributed_ratio"] = st.get("job", 0) / n / traced_job_s
    m["trace.overhead_s"] = traced_job_s - plain_job_s
    return {name: metric(m.get(name, 0), unit) for name, unit in per_layer_names()}


def run(args) -> int:
    from spans import Tracer, wrap_engine
    from workloads import WORKLOADS, Ctx

    host = host_info()
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    cache = ROOT / ".perfbench_cache"
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cache.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    event_log = work / "eventlog" if args.trace else None

    errors: list[str] = []
    attempted = failed = 0
    results: list = []
    layer: dict = {}
    report: dict = {"workload": args.workload, "seed": args.seed, "host": host}
    spark = None
    rss = RssSampler()
    try:
        t = time.perf_counter()
        spark = make_spark(host, work, event_log)
        spark.range(1).count()
        report["session_start_s"] = time.perf_counter() - t
        host.update(spark=spark.version,
                    java=spark.sparkContext._jvm.java.lang.System.getProperty(
                        "java.version"))
        tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](
            Ctx(spark, args.seed, ROOT, work, cache, tracer))

        t = time.perf_counter()
        wl.build()
        report["build_s"] = time.perf_counter() - t
        setups = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup()
        report.update(setup_runs_s=setups, warmup_s=time.perf_counter() - t)

        if args.trace:
            wrap_engine(tracer)
        rss.start()
        t_window = time.perf_counter()
        i = 0
        while True:
            traced = bool(args.trace) and i % 2 == 1
            attempted += 1
            cpu0 = tree_cpu_s()
            try:
                if traced:
                    tracer.install()
                    try:
                        with tracer.span("job") as root:
                            res = wl.job(i, traced=True)
                    finally:
                        tracer.uninstall()
                    res.traced, res.root_span = True, root
                else:
                    res = wl.job(i)
                res.cpu_s = tree_cpu_s() - cpu0
                results.append(res)
                bad = wl.check(res)
            except Exception:
                errors.append(f"job {i} raised:\n{traceback.format_exc()}")
                failed += 1
                break
            errors += bad
            failed += bool(bad)
            i += 1
            # a traced run alternates untraced / traced / untraced jobs, so
            # the tracing overhead is not confounded with warm-up drift
            if (time.perf_counter() - t_window >= args.seconds
                    and i >= (3 if args.trace else wl.min_jobs)):
                break
        rss.stop.set()
        if args.trace and not errors:
            layer, bad = wl.layers([r for r in results if r.traced])
            report.update(wl.notes)
            errors += bad
            failed += bool(bad)
    except Exception:
        errors.append(traceback.format_exc())
        failed = max(failed, 1)
    finally:
        rss.stop.set()
        if rss.is_alive():
            rss.join()
        if spark is not None:
            stop_spark(spark)

    plain = [r for r in results if not r.traced]
    traced = [r for r in results if r.traced]
    metrics = {}
    if errors:
        pass
    elif args.trace:
        metrics = per_layer(layer, traced, plain, tracer.spans, event_log,
                            host["cores"])
    else:
        metrics = end_to_end(report["setup_runs_s"], plain)
    units = [u for r in plain for u in r.units]
    report.update(
        # every end-to-end figure, the unbounded ones too
        job_s=tail([r.seconds for r in plain], "s"),
        round_s=tail(units, "s"),
        first_results_s=tail([r.first_results_s for r in plain], "s"),
        peak_rss_mb=metric(rss.peak / 2**20, "MB"),
        ops_failed_ratio=metric(failed / max(1, attempted), "ratio"),
        job_s_all=[r.seconds for r in plain],
        job_cpu_s_all=[r.cpu_s for r in plain],
        round_s_all=[r.units for r in plain],
        digests=sorted({r.extra.get("digest", "") for r in results} - {""}))

    shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(e, file=sys.stderr)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": not errors, "attempted": max(1, attempted),
                      "failed": min(max(1, attempted), failed),
                      "metrics": metrics}))
    return 1 if errors else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl", "dedup_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "anycrawl_spark").is_dir():
        print(f"perfbench: no anycrawl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
