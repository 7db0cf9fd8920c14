"""Event-log benchmark for reflex_spark: live tail and backfill, end to end.

Usage (from the repository root):

    python3 perfbench/run.py --workload tail --seed 1 --seconds 16 --trace 0

``--trace 0`` runs one workload with tracing off and reports the gated
end-to-end metrics (``GATED``); every other end-to-end figure is printed
beside them. ``--trace 1`` is the traced run: it runs every workload, and a
phase of registered queries, untraced, traced and untraced again, then
replays ``backfill`` at ``local[1]``, and reports the per-layer metrics
(``--workload`` is then only recorded).
``--size smoke`` shrinks every input for a quick check.

Human-readable lines go to stdout first; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. Exit code 0 only
when every correctness check passed. All scratch files live under
``.bench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext

T_IMPORT = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tail", "backfill")
DRIVER_MEM = "2g"
#: Nominal seconds one backfill replay pair takes on a 4-vCPU host: sizes
#: the fixed number of pairs a run measures from --seconds.
PAIR_S = 4.0


def _process_age_s() -> float:
    """Seconds since this process started (interpreter start included)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)
    except (OSError, ValueError, IndexError):
        return 0.0


STARTUP_S = _process_age_s()  # interpreter start → this module


def setup_elapsed_s() -> float:
    return STARTUP_S + time.perf_counter() - T_IMPORT


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def regime_probe() -> dict:
    """Page-cache regime of the Spark jars before the session starts: a warm
    cache streams at memory speed, a cold one at disk speed, and session
    start time (part of setup_s) follows. Reads at most 32 MB."""
    import pyspark

    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars = os.path.join(home, "jars")
    cap, n = 32 << 20, 0
    t0 = time.perf_counter()
    try:
        for name in sorted(os.listdir(jars)):
            with open(os.path.join(jars, name), "rb") as f:
                while n < cap and (chunk := f.read(1 << 20)):
                    n += len(chunk)
            if n >= cap:
                break
    except OSError:
        return {"probe_read_mb": 0.0, "probe_read_mbps": 0.0}
    dt = max(time.perf_counter() - t0, 1e-9)
    return {"probe_read_mb": round(n / 1e6, 1), "probe_read_mbps": round(n / 1e6 / dt, 1)}


def commit_hash() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def start_spark(work: str, master: str | None = None):
    """The program's own session factory at local[nproc], with every scratch
    path inside ``work``."""
    from reflex_spark import get_spark

    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no perf-data file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # pyspark passes the gateway's connection info through a temp dir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                f"-Dderby.system.home={work} "
                # A heap that is all resident from the start: growing it page
                # by page stalls both tail loops on page faults and makes
                # latency and peak RSS swing from run to run.
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
            # job ids per job group stay queryable for the whole run
            "spark.ui.retainedJobs": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_identity(pid: int) -> tuple[int, str, str] | None:
    """(parent pid, state, start time) of a live process, else None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(fields[1]), fields[0], fields[19]


def descendants(root: int) -> dict[int, str]:
    """Every process below ``root``, as pid → start time."""
    children: dict[int, list[int]] = {}
    starts = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (ident := _proc_identity(int(name))):
            children.setdefault(ident[0], []).append(int(name))
            starts[int(name)] = ident[2]
    out, todo = {}, [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            out[pid] = starts[pid]
            todo.append(pid)
    return out


def _alive(pid: int, start: str) -> bool:
    ident = _proc_identity(pid)
    return ident is not None and ident[2] == start and ident[1] != "Z"


def stop_processes(timeout_s: float = 20.0) -> None:
    """Stop the JVM pyspark launched, and every other process this one
    started, and wait until each has ended: none outlives the run. Call it
    after the Spark session is stopped."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may be gone already
            pass
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            # The gateway exits, through its shutdown hooks, when its stdin closes.
            try:
                jvm.stdin.close()
            except OSError:
                pass
            try:
                jvm.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    # Python workers and anything else the JVM started, now orphaned.
    for sig in (signal.SIGTERM, signal.SIGKILL):
        live = {p: s for p, s in procs.items() if _alive(p, s)}
        for pid in live:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.perf_counter() + timeout_s / 2
        while live and time.perf_counter() < deadline:
            time.sleep(0.05)
            live = {p: s for p, s in live.items() if _alive(p, s)}
        if not live:
            return


def mem_mb(spark) -> dict:
    """Memory the program holds: its JVM's live heap after a full collection
    at the end of the run, plus the JVM's peak memory outside the heap,
    plus the Python driver's peak RSS. Not the JVM's RSS: the heap is
    pre-touched, so that reads the heap's size. Not the heap's peak use
    either: that follows the collector's sizing of the young generation."""
    import resource

    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/status") as f:
        hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) << 10
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss << 10
    parts = {
        "live_heap_mb": heap.getUsed(),
        "jvm_off_heap_mb": hwm - heap.getCommitted(),
        "python_rss_mb": py,
    }
    parts = {k: v / 2**20 for k, v in parts.items()}
    return {"mem_mb": sum(parts.values()), **parts}


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (v[7] if len(v) > 7 else 0), sum(v)


def pct(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if len(values) else 0.0


# -- end-to-end figures per workload -----------------------------------------

#: The end-to-end metrics every untraced run reports in its JSON result: the
#: ones that stay steady when the host's CPUs are shared (see README.md).
GATED = ("setup_s", "cpu_ms_per_event", "mem_mb")


def tail_metrics(r, cpu: float) -> tuple[dict, dict]:
    """(end-to-end figures, diagnostics) of one tail window."""
    figures = {
        "deliver_p50_ms": pct(r.deliver_s, 50) * 1e3,
        "deliver_p90_ms": pct(r.deliver_s, 90) * 1e3,
        "events_per_s": r.events_per_s,
        "append_p50_ms": pct(r.append_s, 50) * 1e3,
        "cpu_ms_per_event": cpu * 1e3 / max(r.events, 1),
    }
    diag = {
        "appends": len(r.append_s),
        "events": r.events,
        "consumer_batches": r.batches,
        "generator_late_ms": r.late_s * 1e3,
        "backlog_at_window_end": r.backlog_end,
        "backlog_after_drain": r.backlog_drained,
        "redelivered_events": r.redelivered,
    }
    return figures, diag


def backfill_metrics(replays, n: int) -> tuple[dict, dict]:
    """Medians over the replays, so one replay slowed by a noisy neighbour
    does not move the run's figure."""
    import numpy as np

    med = lambda rs, f: float(np.median([f(r) for r in rs]))  # noqa: E731
    med_wall = lambda rs: med(rs, lambda r: r.wall_s)  # noqa: E731
    figures = {
        "deliver_p50_ms": float(np.median([pct(r.deliver_s, 50) for r in replays])) * 1e3,
        "deliver_p90_ms": float(np.median([pct(r.deliver_s, 90) for r in replays])) * 1e3,
        "events_per_s": n / med_wall(replays),
    }
    diag = {"events": n, "replays": len(replays)}
    diag["replay_wall_s"] = [round(r.wall_s, 3) for r in replays]
    diag["replay_cpu_s"] = [round(r.cpu_s, 3) for r in replays]
    cpu = 0.0
    for loop in ("poll", "stream"):
        rs = [r for r in replays if r.loop == loop]
        figures[f"{loop}_events_per_s"] = n / med_wall(rs)
        diag[f"{loop}_batches_per_replay"] = sum(r.batches for r in rs) / len(rs)
        cpu += med(rs, lambda r: r.cpu_s)
    # one median replay of each loop
    figures["cpu_ms_per_event"] = cpu * 1e3 / (2 * n)
    return figures, diag


def setup_workload(ctx, workload: str, tracer=None):
    """Warm-up and input preparation; returns what ``measure`` needs. With a
    ``tracer``, the backfill log build is traced: it is that workload's
    append traffic."""
    import gen
    import workloads as w

    if workload == "tail":
        w.warm_tail(ctx)
        return None
    if workload == "analytics":
        sf_dir = w.write_tables(ctx, gen.query_tables(ctx.seed, ctx.size))
        order = gen.query_order(ctx.seed, w.QUERIES)
        w.run_queries(ctx, sf_dir, order)  # warm-up
        w.check_queries(ctx, sf_dir, order)
        return sf_dir, order
    frames = gen.backfill_frames(ctx.seed, ctx.size)
    with ctx.traced(tracer) if tracer else nullcontext():
        log = w.build_log(ctx, frames, "backfill-log")
    n = sum(map(len, frames))
    w.warm_backfill(ctx, log, n)
    return log, n


def measure(ctx, workload: str, prepared, seconds: float):
    """One timed phase; returns (end-to-end figures, diagnostics, raw). CPU
    time counts the workload's own calls, not the checks after them."""
    import workloads as w

    if workload == "analytics":
        times = w.run_queries(ctx, *prepared)
        total = sum(q.build_s + q.exec_s for q in times)
        return {"query_total_s": total}, {f"{q.name}_s": q.build_s + q.exec_s for q in times}, times
    if workload == "tail":
        c0 = ctx.cpu_s()
        r = w.tail(ctx, seconds)
        return (*tail_metrics(r, ctx.cpu_s() - c0), r)
    log, n = prepared
    replays = w.backfill(ctx, log, n, max(1, round(seconds / PAIR_S)))
    rows = w.check_rollups(ctx, log, replays)
    figures, diag = backfill_metrics(replays, n)
    diag["state_rows"] = rows
    return figures, diag, replays


UNITS = {
    "setup_s": "s",
    "deliver_p50_ms": "ms",
    "deliver_p90_ms": "ms",
    "events_per_s": "events/s",
    "mem_mb": "MB",
    "live_heap_mb": "MB",
    "jvm_off_heap_mb": "MB",
    "python_rss_mb": "MB",
    "cpu_ms_per_event": "ms",
    "setup_wall_s": "s",
    "query_total_s": "s",
    "append_p50_ms": "ms",
    "poll_events_per_s": "events/s",
    "stream_events_per_s": "events/s",
    "ops_failed_ratio": "failed/attempted",
    "session_start_s": "s",
    "generator_late_ms": "ms",
    "host_steal_pct": "%",
}


def show(prefix: str, values: dict) -> None:
    for k, v in values.items():
        print(f"{prefix}{k} = {v} {UNITS.get(k, '')}".rstrip(), flush=True)


# -- runs ---------------------------------------------------------------------


def untraced_run(ctx, workload: str, seconds: float, spark_start_s: float) -> dict:
    prepared = setup_workload(ctx, workload)
    setup_wall_s = setup_elapsed_s()
    setup_s = ctx.cpu_s()
    steal0, total0 = cpu_ticks()
    figures, diag, _ = measure(ctx, workload, prepared, seconds)
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while we measured
    diag["host_steal_pct"] = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    mem = mem_mb(ctx.spark)
    metrics = {"setup_s": setup_s, "mem_mb": mem.pop("mem_mb"), **figures}
    diag.update(mem)
    diag["setup_wall_s"] = setup_wall_s
    diag["session_start_s"] = spark_start_s
    diag["ops_failed_ratio"] = ctx.failed / max(ctx.attempted, 1)
    show(f"{workload}: ", metrics)
    show(f"{workload}: ", diag)
    ctx.diagnostics = {**metrics, **diag}
    return {k: {"value": metrics[k], "unit": UNITS[k]} for k in GATED}


PHASES = WORKLOADS + ("analytics",)


def traced_run(ctx, seconds: float, spark_start_s: float, trace_path: str) -> dict:
    """Every workload, then the query phase, untraced, traced and untraced
    again on one setup; then the backfill log replayed at local[1]."""
    import tracing
    import workloads as w
    from reflex_spark.sources.event_log import EventLog
    from reflex_spark.streaming.metrics import ProgressMetrics

    tracer = tracing.Tracer(ctx.spark.sparkContext)
    out: dict[str, tuple[float, str]] = {"session.start_s": (spark_start_s, "s")}
    phases = {}
    for wl in PHASES:
        tracer.workload = wl
        # half-length tail windows and one replay pair per phase keep the
        # three phases of every workload inside the run's time limit
        prepared = setup_workload(ctx, wl, tracer)
        window = seconds / 2 if wl == "tail" else 0
        # untraced, traced, untraced: the JVM still speeds up from one
        # phase to the next, so the traced phase is compared with the mean
        # of the two around it
        before, diag, _ = measure(ctx, wl, prepared, window)
        show(f"{wl}: untraced ", {**before, **diag})
        progress = ProgressMetrics.attach(ctx.spark)
        with ctx.traced(tracer):
            traced, tdiag, raw = measure(ctx, wl, prepared, window)
        show(f"{wl}: traced ", {**traced, **tdiag})
        time.sleep(1.0)  # progress events reach the listener asynchronously
        progress.detach()
        after, _, _ = measure(ctx, wl, prepared, window)
        show(f"{wl}: untraced ", after)
        phases[wl] = (tdiag, raw, prepared, progress)
        for k, v in traced.items():
            base = (before[k] + after[k]) / 2
            out[f"{wl}.{k}"] = (base, UNITS[k])
            out[f"overhead.{wl}.{k}"] = (v - base, UNITS[k])
    tracer.count_jobs()
    for wl in WORKLOADS:
        out.update(layer_metrics(tracer, wl, *phases[wl]))
    out.update(query_metrics(tracer, w.QUERIES))
    tracer.dump(trace_path)
    print(f"spans: {len(tracer.spans)} written to {trace_path}", flush=True)

    # Single-thread baseline: the same backfill log replayed at local[1].
    log, n = phases["backfill"][2]
    ctx.spark.stop()
    ctx.spark = start_spark(ctx.work, master="local[1]")
    replays = w.backfill(ctx, EventLog(ctx.spark, log.path), n, 1)
    w.check_rollups(ctx, log, replays)
    for r in replays:
        out[f"baseline.local1.{r.loop}_events_per_s"] = (n / r.wall_s, "events/s")
    for k, (v, unit) in out.items():
        print(f"{k} = {v} {unit}", flush=True)
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def layer_metrics(tracer, wl: str, diag: dict, raw, prepared, progress) -> dict:
    """The per-layer metrics of one workload's traced phase."""
    import tracing

    tree = tracing.Tree(tracer.spans, wl)
    append, consume, setc = (
        tree.stats(name) for name in ("event_log.append", "consumer.consume", "cursors.set_cursor")
    )
    # The poll loop is what run() does itself: its consumer's work, cursor
    # commits and notifier waits are other layers.
    runs = tree.named("run")
    steps = tree.under(runs)
    consumes = [s for s in steps if s.name == "consumer.consume"]
    polls = sum(s.name == "event_log.read_after" for s in steps)
    batches = len(consumes)
    loop_jobs = sum(map(tree.jobs, runs)) - sum(map(tree.jobs, consumes))
    loop_self_s = sum(s.dur for s in runs) - sum(
        s.dur for s in steps if s.name in ("consumer.consume", "cursors.set_cursor", "notify.wait")
    )
    if wl == "tail":
        log_path, appended, delivered = raw.log_path, raw.events, raw.events
    else:
        log_path, appended = prepared[0].path, prepared[1]
        delivered = appended * sum(r.loop == "poll" for r in raw)
    files = sum(1 for _r, _d, fs in os.walk(log_path) for f in fs if f.startswith("part-"))
    p = f"{wl}."
    out = {
        p + "event_log.append.calls": (append.calls, "count"),
        p + "event_log.append.p50_ms": (append.p50_ms, "ms"),
        p + "event_log.append.busy_s": (append.busy_s, "s"),
        p + "event_log.append.rows_per_call": (appended / max(append.calls, 1), "rows"),
        p + "event_log.append.spark_jobs_per_call": (append.jobs / max(append.calls, 1), "jobs"),
        p + "event_log.data_files": (files, "count"),
        p + "run.polls": (polls, "count"),
        p + "run.batches": (batches, "count"),
        p + "run.useful_poll_ratio": (batches / max(polls, 1), "ratio"),
        p + "run.events_per_batch": (delivered / max(batches, 1), "events"),
        p + "run.spark_jobs_per_batch": (loop_jobs / max(batches, 1), "jobs"),
        p + "run.loop_self_s": (loop_self_s, "s"),
        p + "consumer.consume_s": (consume.busy_s, "s"),
        p + "consumer.consume_p50_ms": (consume.p50_ms, "ms"),
        p + "cursors.set_cursor.calls": (setc.calls, "count"),
        p + "cursors.set_cursor.busy_s": (setc.busy_s, "s"),
    }
    if wl == "tail":
        waits = tree.named("notify.wait")
        out[p + "notify.wait_s"] = (sum(s.dur for s in waits), "s")
        out[p + "notify.wakeups"] = (sum(bool(s.attrs.get("woke")) for s in waits), "count")
    else:
        mat = tree.stats("materialize.apply_batch")
        out[p + "materialize.apply_batch.calls"] = (mat.calls, "count")
        out[p + "materialize.apply_batch.p50_ms"] = (mat.p50_ms, "ms")
        out[p + "materialize.apply_batch.busy_s"] = (mat.busy_s, "s")
        out[p + "materialize.apply_batch.spark_jobs_per_call"] = (
            mat.jobs / max(mat.calls, 1),
            "jobs",
        )
        out[p + "materialize.state_rows"] = (diag["state_rows"], "rows")
        out[p + "run_stream.batches"] = (len(progress.batch_durations_ms), "count")
        out[p + "run_stream.batch_ms_p50"] = (pct(progress.batch_durations_ms, 50), "ms")
        # not progress.rows: Spark counts every scan of a micro-batch as
        # input, and apply_batch scans each batch twice
        out[p + "run_stream.rows_per_batch"] = (
            appended * sum(r.loop == "stream" for r in raw) / max(len(progress.batch_durations_ms), 1),
            "rows",
        )
    return out


def query_metrics(tracer, names) -> dict:
    """Build and execution time, and Spark jobs, of each traced query."""
    import tracing

    tree = tracing.Tree(tracer.spans, "analytics")
    out = {}
    for name in names:
        build, run_ = tree.stats(f"queries.{name}.build"), tree.stats(f"queries.{name}.exec")
        out[f"queries.{name}.build_s"] = (build.busy_s, "s")
        out[f"queries.{name}.exec_s"] = (run_.busy_s, "s")
        out[f"queries.{name}.spark_jobs"] = (build.jobs + run_.jobs, "count")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    work_root = os.path.join(os.getcwd(), ".bench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, ROOT)  # the program under test: the checkout's reflex_spark
    try:
        import reflex_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    # a driver's SIGTERM unwinds through the finally below like an error
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return measured_run(args, work_root, work)
    finally:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


def measured_run(args, work_root: str, work: str) -> int:
    import gen
    import workloads as w

    regime = regime_probe()
    t = time.perf_counter()
    spark = start_spark(work)
    spark_start_s = time.perf_counter() - t
    size = gen.SIZES[args.size]
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "sizes": size.__dict__,
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "commit": commit_hash(),
        "page_cache_probe": regime,
    }
    print("env: " + json.dumps(env), flush=True)
    ctx = w.Ctx(spark=spark, work=work, size=size, seed=args.seed)
    if args.trace:
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        trace_path = os.path.join(
            work_root, "traces", f"spans-seed{args.seed}-{os.getpid()}.jsonl"
        )
        metrics = traced_run(ctx, args.seconds, spark_start_s, trace_path)
    else:
        metrics = untraced_run(ctx, args.workload, args.seconds, spark_start_s)
    ctx.spark.stop()
    stop_processes()
    for e in ctx.errors:
        print(f"CHECK FAILED: {e}", flush=True)
    ok = ctx.failed == 0
    result = {"correct": ok, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics}
    os.makedirs(os.path.join(work_root, "results"), exist_ok=True)
    with open(
        os.path.join(work_root, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
        "w",
    ) as f:
        json.dump({"env": env, "diagnostics": ctx.diagnostics, **result}, f, indent=1)
    print(json.dumps(result), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
