"""Workload benchmark for the NYT batch processor.

Run from the repository root:

    python3 perfbench/run.py --workload nyt_cron_ingest --seed 1 --seconds 25 --trace 0

Each workload is a closed loop with one client on ``local[<cores>]``.
The run sets up (session build, input generation, seeded targets and
indexes, the workload's warmup ops) and reports the CPU seconds from
process start to the first timed op as ``setup_s``, then runs timed ops
for ``--seconds``, checks every op's output, and prints the metrics.
Set-up and op cost are measured in CPU seconds of the process tree;
walls are reported per layer. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` interleaves traced and untraced
ops, then runs the analytic catalog pass, and reports the per-layer
metrics, writing every span to
``.perfbench_run/trace-<workload>-<seed>.json``. Human-readable detail
goes to standard error.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

# Traced runs report counters from this many traced ops — the same ops
# for a given seed, so counts repeat exactly between runs. Ops are traced
# in blocks of four (four traced, four untraced), so traced and untraced
# ops both cover each op kind of a workload whose kinds repeat every four.
COUNTED_OPS = 3
# Boundaries whose counters are reported per layer.
BOUNDARIES = (
    "ingest.counties", "ingest.states", "text.curate_call",
    "text.curate_manifest", "dedup.maintain", "text.bpe_pack",
)
BOUNDARY_COUNTERS = ("py4j_calls", "jobs", "tasks", "output_files")
# Counters of the analytic catalog pass, summed over its entries.
CATALOG_COUNTERS = {
    "catalog.query_build": ("wall_s", "py4j_calls", "jobs"),
    "catalog.query_exec": ("wall_s", "py4j_calls", "jobs", "tasks", "task_run_s",
                           "shuffle_write_bytes", "spill_bytes"),
}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class TreeRss:
    """Samples the summed resident memory of this process and all its
    descendants (the JVM and the Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.5):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._ticks = os.sysconf("SC_CLK_TCK")
        self._interval = interval
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak_bytes = max(self.peak_bytes, self.sample())

    def sample(self) -> int:
        total = 0
        with open("/proc/uptime") as f:
            now = float(f.read().split()[0])
        for pid in descendants(os.getpid()) | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    started = int(f.read().rsplit(")", 1)[1].split()[19]) / self._ticks
                if now - started < 1.0:
                    # a helper the JVM is spawning shares its parent's
                    # address space until exec: counting it would count
                    # the whole JVM twice
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass  # exited between listing and reading
        return total

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and the Python workers), including children they have reaped.
    The kernel accounts CPU stolen by the hypervisor separately, so this
    does not grow when the host is oversubscribed, while walls do."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(os.getpid()) | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass  # exited between listing and reading
    return total / ticks


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def tail(walls: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile with at least ten
    samples beyond it; the median when there are fewer than 20 ops."""
    xs = sorted(walls)
    n = len(xs)
    k = max(n - 11, (n - 1) // 2)
    return xs[k], 100.0 * (k + 1) / n, n


def spark_confs(work: str, trace: bool) -> dict[str, str]:
    confs = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1-only JIT: C2's background compiles went on for ten ops and
        # more and were most of an op's CPU, so no run ever measured a
        # steady state; C1 settles within the warmup ops. C1-only shrinks
        # the default code cache to 48 MB, whose sweeping flushes and
        # recompiles hot code mid-run, hence the explicit size. The heap
        # is the engine's own default.
        "spark.driver.extraJavaOptions": (
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return confs


def heap_peak_mb(spark) -> float:
    """Peak used bytes of the JVM's heap pools since start, summed (the
    pools peak at different times, so this bounds the heap's peak from
    above)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]
    return sum(p.getPeakUsage().getUsed() for p in pools) / 2**20


def mixed(ops: list[tuple], mix: dict[str, float]) -> dict[str, float]:
    """Op statistics over ``(wall, cpu, items, kind)`` ops at the
    workload's traffic mix: each kind's median (or mean, for the rates)
    weighted by the kind's share of the traffic."""
    by = {k: [o for o in ops if o[3] == k] for k in mix}

    def weighted(f, col):
        return sum(w * f(o[col] for o in by[k]) for k, w in mix.items())

    items = weighted(statistics.fmean, 2)
    return {
        "wall_p50": weighted(statistics.median, 0),
        "cpu_p50": weighted(statistics.median, 1),
        "items_per_s": items / weighted(statistics.fmean, 0),
        "items_per_cpu_s": items / weighted(statistics.fmean, 1),
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # benchmark the checkout's own engine, never an installed copy
    if not os.path.isfile(os.path.join(ROOT, "nytimes_batch_processor_spark", "__init__.py")):
        _log(f"perfbench: no engine package in {ROOT}; run from a full checkout")
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads
    from nytimes_batch_processor_spark.session import get_spark
    from tracing import Py4jCounter, Tracer

    classes = {w.name: w for w in (workloads.NytCronIngest, workloads.DocAdmission)}
    if args.workload not in classes:
        _log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(classes)}")
        return 2
    trace = bool(args.trace)
    work = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # keep every JVM and Python temp file inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    rss = TreeRss()
    cpus = len(os.sched_getaffinity(0))
    null = Tracer()
    spark = None
    try:
        # --- set-up: session, inputs, seeded targets, warmup ops
        warmup = classes[args.workload].WARMUP_OPS
        failures = []
        spark = get_spark(f"perfbench-{args.workload}", cpus=cpus,
                          extra_confs=spark_confs(work, trace))
        session_s = time.perf_counter() - PROCESS_START
        wl = classes[args.workload](spark, args.seed, os.path.join(work, "workload"))
        wl.setup()
        for i in range(warmup):
            wl.prepare(i)
            wl.op(i, null)
            failures += wl.check(i)
        setup_wall, setup_cpu = time.perf_counter() - PROCESS_START, tree_cpu_s()
        _log(f"set-up {setup_wall:.3f} s, cpu {setup_cpu:.3f} s; "
             f"process start to session {session_s:.3f} s")

        # --- timed closed loop; it runs on until every op kind has an
        # untraced sample (and, traced, COUNTED_OPS traced ops)
        tracer = Tracer(spark, Py4jCounter(spark)) if trace else null
        mix = classes[args.workload].MIX
        # untraced ops: (wall s, process-tree CPU s, items completed, kind)
        ops, traced_walls = [], []
        attempted = failed = 0
        deadline = time.perf_counter() + args.seconds
        i = warmup
        while (time.perf_counter() < deadline or set(mix) - {o[3] for o in ops}
               or (trace and len(traced_walls) < COUNTED_OPS)):
            on = trace and (i - warmup) // 4 % 2 == 0
            tr = tracer if on else null
            attempted += 1
            wl.prepare(i)
            c = tree_cpu_s()
            t = time.perf_counter()
            try:
                with tr.span("op", i):
                    n = wl.op(i, tr)
                wall = time.perf_counter() - t
                cpu = tree_cpu_s() - c
                errs = wl.check(i)
            except Exception as e:  # an op that raises counts as failed
                wall, errs, n = time.perf_counter() - t, [f"op {i} raised {e!r}"], 0
                cpu = tree_cpu_s() - c
            if errs:
                failed += 1
                failures += errs
                n = 0
            if on:
                traced_walls.append(wall)
            else:
                ops.append((wall, cpu, n, wl.kind(i)))
            i += 1
        if trace:  # the analytic catalog pass, after the timed loop
            aq = workloads.AnalyticQueries(spark, args.seed, os.path.join(work, "analytic"))
            aq.setup()
            errs = aq.check()
            attempted += len(aq.ENTRIES)
            failed += len(errs)
            failures += errs
            aq.run(tracer)
        t = time.perf_counter()
        failures += wl.final_check()
        extra = wl.extra()
        heap_mb = heap_peak_mb(spark)
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
        spark = None
        walls = [o[0] for o in ops]
        _log("op walls (s): " + " ".join(f"{w:.3f}" for w in walls + traced_walls))
        _log("op cpu (s): " + " ".join(f"{o[1]:.3f}" for o in ops))
        _log("op kinds: " + " ".join(o[3] for o in ops))
        _log(f"{len(ops) + len(traced_walls)} timed ops; final checks and teardown "
             f"{time.perf_counter() - t:.3f} s; "
             f"process {time.perf_counter() - PROCESS_START:.3f} s")
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)

    for f in failures:
        _log(f"CHECK FAILED: {f}")
    correct = not failures
    if trace:
        metrics, report = per_layer(tracer, work, app_id, ops, mix, traced_walls, session_s,
                                    setup_wall, extra,
                                    rss.peak_bytes / 2**20, heap_mb,
                                    failed / attempted, attempted)
        os.makedirs(RUN_DIR, exist_ok=True)
        out = os.path.join(RUN_DIR, f"trace-{args.workload}-{args.seed}.json")
        with open(out, "w") as f:
            json.dump(report, f, indent=1)
        _log(f"trace written to {out}")
    else:
        t_val, t_pct, t_n = tail(walls)
        m = mixed(ops, mix)
        metrics = {
            "setup_s": (setup_cpu, "s"),
            "op_cpu_p50_s": (m["cpu_p50"], "s"),
            "items_per_cpu_s": (m["items_per_cpu_s"], "1/s"),
        }
        _log(f"op_p50_s {m['wall_p50']:.4f} s; "
             f"items_per_s {m['items_per_s']:.4g}; "
             f"op_tail_s {t_val:.4f} s is p{t_pct:.1f} of {t_n} ops; "
             f"failed_ratio {failed / attempted:.4f}; peak_rss_mb {rss.peak_bytes / 2**20:.1f}; "
             f"peak_heap_mb {heap_mb:.1f}; "
             f"stored_bytes_per_input_byte {extra['stored_bytes_per_input_byte']:.4f}")
    for name, (value, unit) in metrics.items():
        _log(f"{args.workload} {name} = {value:.6g} {unit}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def per_layer(tracer, work, app_id, ops, mix, traced_walls, session_s, setup_wall_s, extra,
              rss_mb, heap_mb, failed_ratio, attempted):
    from tracing import COUNTERS, attach_counters, event_log_files, read_event_log

    groups = read_event_log(event_log_files(os.path.join(work, "eventlog"), app_id))
    attach_counters(tracer.spans, groups)
    spans = tracer.spans
    op_spans = [s for s in spans if s.name == "op"]
    counted = sorted({s.op for s in op_spans})[:COUNTED_OPS]
    metrics: dict[str, tuple[float, str]] = {}
    units = {"wall_s": "s", "jobs_s": "s", "driver_s": "s", "task_run_s": "s"}

    def unit(k):
        return units.get(k, "bytes" if k.endswith("_bytes") else "count")

    # per-op totals over every boundary span of the op (times: median
    # over all traced ops; counts: the first COUNTED_OPS traced ops)
    per_op = {}
    for sp in spans:
        if sp.name == "op" or sp.op is None:  # the catalog pass has no op
            continue
        d = per_op.setdefault(sp.op, dict.fromkeys(COUNTERS, 0))
        for k in COUNTERS:
            v = sp.counters[k]
            d[k] = max(d[k], v) if k == "single_task_stage_rows_max" else d[k] + v
    for k in COUNTERS:
        if unit(k) == "s":
            v = statistics.median(d[k] for d in per_op.values())
        else:
            v = sum(per_op[o][k] for o in counted if o in per_op) / len(counted)
        metrics[f"op.{k}"] = (v, unit(k))
    for b in BOUNDARIES:
        for k in BOUNDARY_COUNTERS:
            v = sum(s.counters[k] for s in spans if s.name == b and s.op in counted)
            metrics[f"{b}.{k}"] = (v / len(counted), unit(k))
    for b, keys in CATALOG_COUNTERS.items():
        for k in keys:
            metrics[f"{b}.{k}"] = (sum(s.counters[k] for s in spans if s.name == b), unit(k))
    metrics["session.get_spark.wall_s"] = (session_s, "s")
    metrics["setup_wall_s"] = (setup_wall_s, "s")
    metrics["peak_rss_mb"] = (rss_mb, "MB")
    metrics["peak_heap_mb"] = (heap_mb, "MB")
    walls = [o[0] for o in ops]
    m = mixed(ops, mix)
    metrics["op_p50_s"] = (m["wall_p50"], "s")
    metrics["items_per_s"] = (m["items_per_s"], "1/s")
    metrics["trace_overhead"] = (
        statistics.median(traced_walls) / statistics.median(walls), "ratio")
    t_val, t_pct, t_n = tail(walls + traced_walls)
    metrics["op_tail_s"] = (t_val, "s")
    _log(f"op_tail_s is p{t_pct:.1f} of {t_n} ops, traced and untraced")
    metrics["failed_ratio"] = (failed_ratio, "ratio")
    metrics["stored_bytes_per_input_byte"] = (extra.get("stored_bytes_per_input_byte", 0.0),
                                              "ratio")
    metrics["ingest.landed_ratio"] = (extra.get("ingest.landed_ratio", 0.0), "ratio")
    metrics["dedup.index_files"] = (float(extra.get("dedup.index_files", 0)), "count")

    # per-boundary table on stderr
    for b in sorted({s.name for s in spans}):
        ss = [s for s in spans if s.name == b]
        med = {k: statistics.median(s.counters.get(k, 0) for s in ss)
               for k in ("wall_s", "jobs_s", "driver_s", "task_run_s", "py4j_calls", "jobs")}
        _log(f"  {b:22s} n={len(ss):3d} " + " ".join(f"{k}={v:.4g}" for k, v in med.items()))
    report = {
        "attempted": attempted,
        "spans": [
            {"name": s.name, "op": s.op, "parent": s.parent, "group": s.group,
             "start": s.start, "end": s.end, "counters": s.counters}
            for s in spans
        ],
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    return metrics, report


if __name__ == "__main__":
    sys.exit(main())
