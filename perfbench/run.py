#!/usr/bin/env python3
"""Repository benchmark: one workload per run, one driver process.

Usage (from the repository root):

    python3 perfbench/run.py --workload llm_data --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts Spark at
``local[nproc]``, runs one untimed warm-up pass, then closed-loop passes
(one client) until ``--seconds`` of measured work, checks every output
against an independent reference, and prints one JSON object as the last
line of stdout.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics (spans, job-group engine counters and
the tracing overhead).  See perfbench/README.md for every metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from spans import Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("llm_data", "object_facade")


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


class Stats:
    """Checks attempted and failed in one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)


def machine_settings() -> dict[str, str]:
    nproc = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # well below physical RAM: the driver JVM shares the host
    mem_gb = max(1, min(4, int(ram_gb // 4)))
    return {"SPARK_GRAFT_CPUS": str(nproc), "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g"}


def prepare_env(work: str) -> dict[str, str]:
    """Sizing and scratch locations, set before pyspark is imported."""
    settings = machine_settings()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(settings)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the JVM that builds the spark-submit command: no /tmp/hsperfdata file
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # workers unpickle benchmark-defined objects (objects.Point)
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([HERE] + [p for p in parts if p != HERE])
    return settings


def start_spark(work: str, trace: bool):
    """Import the program, start the session, finish a first trivial job
    (Python workers included).  Returns (spark, timings)."""
    from dask_obj_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep JVM scratch in the work directory (no /tmp/hsperfdata either)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    n = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(n), n).map(lambda x: x + 1).collect()
    t2 = time.perf_counter()
    return spark, {"session.start_s": t1 - t0, "session.first_job_s": t2 - t1, "setup_s": t2 - T_PROCESS}


RUN_LIMIT_S = 180  # a run must exit within this
TRACED_TAIL_S = 30  # a traced run's checks, counters and clean-up, with a margin
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h
JVM_EXIT_GRACE_S = 30.0  # shutdown hooks (temp-dir deletion) before SIGTERM
KILL_AFTER_S = 10.0  # after SIGTERM, before SIGKILL


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so the
    Python workers that the JVM forks come back to it when their parents
    end and stop_processes can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        # the run can go on: only workers orphaned before the JVM ends escape the wait
        print(f"# prctl(PR_SET_CHILD_SUBREAPER) failed: {os.strerror(ctypes.get_errno())}", file=sys.stderr)


def child_pids() -> list[int]:
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # after the ")" that closes the command name: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def stop_processes() -> None:
    """End the Spark JVM (EOF on its stdin makes it exit) and every process
    started under this one, and wait until each has ended."""
    pyspark = sys.modules.get("pyspark")
    gateway = getattr(getattr(pyspark, "SparkContext", None), "_gateway", None)
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
        try:
            proc.wait(JVM_EXIT_GRACE_S)
        except subprocess.TimeoutExpired:
            proc.terminate()
    deadline = time.monotonic() + KILL_AFTER_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass  # reaped one; look for more
        except ChildProcessError:
            return  # no child left, running or ended
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in child_pids():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


def make_workload(name: str, spark, work: str, seed: int):
    if name == "llm_data":
        from wl_llm import LlmData as cls
    else:
        from wl_facade import Facade as cls
    return cls(spark, work, seed)


def measure(wl, tracer, stats, seconds: float) -> tuple[int, list[float], float]:
    """Closed loop: whole passes until ``seconds`` of measured work.
    Returns (items, latency samples in ms, measured work in s)."""
    items, lat, busy = 0, [], 0.0
    while busy < seconds:
        n, ms, busy_ms = wl.run_pass(tracer, stats)
        items += n
        lat += ms
        busy += busy_ms / 1000
    return items, lat, busy


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its Spark session and its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    signal.signal(signal.SIGHUP, lambda *_: sys.exit(129))

    if not os.path.isfile(os.path.join(ROOT, "dask_obj_spark", "__init__.py")):
        print(f"error: no dask_obj_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    settings = prepare_env(work)
    adopt_orphans()
    spark = None
    try:
        spark, setup = start_spark(work, trace=bool(args.trace))
        result = run_workload(args, spark, setup, settings, work)
    finally:
        # a signal now would cut the clean-up short: let it finish instead
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGHUP, signal.SIG_IGN)
        if spark is not None:
            try:
                spark.stop()
            except Exception as e:  # e.g. py4j cut mid-call by a signal
                print(f"# spark.stop failed: {e!r}", file=sys.stderr)
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run_workload(args, spark, setup: dict, settings: dict, work: str) -> dict:
    from dask_obj_spark import DelayedObjects

    nproc = int(settings["SPARK_GRAFT_CPUS"])
    # the process-shared pool is sized by whoever creates it first
    DelayedObjects([], eager=True, max_workers=nproc)
    print(
        f"# settings: master=local[{nproc}] {' '.join(f'{k}={v}' for k, v in settings.items())} "
        f"DelayedObjects.max_workers={nproc} seconds={args.seconds:g} seed={args.seed}",
        flush=True,
    )
    phases = [("setup", time.perf_counter())]
    wl = make_workload(args.workload, spark, work, args.seed)
    phases.append(("inputs", time.perf_counter()))
    tracer = Tracer(spark, enabled=False, run_id=f"pb{os.getpid()}")
    stats = Stats()
    wl.warm_up(tracer, Stats())
    phases.append(("warm_up", time.perf_counter()))
    steal0, total0 = cpu_ticks()

    if not args.trace:
        items, lat, busy = measure(wl, tracer, stats, args.seconds)
        phases.append(("measure", time.perf_counter()))
        wl.finish(tracer, stats)
        phases.append(("finish", time.perf_counter()))
        m = {
            "items_per_s": items / busy,
            "latency_ms.p50": percentile(lat, 0.5),
            "latency_ms.p90": percentile(lat, 0.9),
            "success_ratio": 1 - stats.failed / max(stats.attempted, 1),
            "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            "setup_s": setup["setup_s"],
        }
        print(
            f"# {args.workload}: {items} {wl.items_name} in {busy:.2f} s of measured work; "
            f"{len(lat)} latency samples, {len(lat) - 1 - int(0.9 * (len(lat) - 1))} above p90; "
            f"failed_ratio={stats.failed / max(stats.attempted, 1):.4f} ({stats.failed}/{stats.attempted})",
            flush=True,
        )
        units = metric_units()[0]
    else:
        m = traced_run(args, spark, setup, wl, tracer, stats, phases)
        units = metric_units()[1]
    print(
        "# phases: "
        + " ".join(f"{n}={b - a:.2f}s" for (_, a), (n, b) in zip([("start", T_PROCESS)] + phases, phases)),
        flush=True,
    )
    # CPU time the hypervisor gave to other guests: shows a slow host, not a slow program
    steal1, total1 = cpu_ticks()
    print(f"# host steal after warm-up: {100 * (steal1 - steal0) / max(total1 - total0, 1):.1f}% of CPU time", flush=True)
    if set(m) != set(units):
        raise KeyError(f"metrics and BENCHMARK.json disagree: {sorted(set(m) ^ set(units))}")
    for e in stats.errors:
        print(f"# check failed: {e}", flush=True)
    return {
        "correct": stats.failed == 0,
        "attempted": stats.attempted,
        "failed": stats.failed,
        "metrics": {k: {"value": m[k], "unit": u} for k, u in units.items()},
    }


def traced_run(args, spark, setup, wl, tracer, stats, phases) -> dict[str, float]:
    """Untraced and traced segments of half the time each (spans + job
    groups), then the per-layer metrics."""
    sc = spark.sparkContext
    rtt = []
    for _ in range(200):
        t0 = time.perf_counter()
        sc._jvm.java.lang.System.nanoTime()
        rtt.append((time.perf_counter() - t0) * 1000)
    # untraced, traced, untraced: the untraced rate is taken over both
    # sides of the traced segment, so the JVM still warming up through
    # the run does not pass for tracing overhead
    half = args.seconds / 2
    items_u, _, busy_u = measure(wl, tracer, stats, half)
    tracer.enabled = True
    t0 = time.perf_counter()
    items_t, _, busy_t = measure(wl, tracer, stats, half)
    tracer.enabled = False
    # a run must end within RUN_LIMIT_S: on a host slow enough that one
    # more segment would not fit, the untraced rate rests on the first
    # segment alone (about 150 s of llm_data's 180 s at normal speed)
    if time.perf_counter() - T_PROCESS + (time.perf_counter() - t0) + TRACED_TAIL_S < RUN_LIMIT_S:
        items_u2, _, busy_u2 = measure(wl, tracer, stats, half)
    else:
        items_u2, busy_u2 = 0, 0.0
        print("# host too slow: second untraced segment skipped", flush=True)
    phases.append(("measure", time.perf_counter()))
    tracer.enabled = True  # finish() records the traced-run extras
    wl.finish(tracer, stats)
    phases.append(("finish", time.perf_counter()))
    ips_u = (items_u + items_u2) / (busy_u + busy_u2)
    ips_t = items_t / busy_t
    n_calls = sum(1 for s in tracer.spans if s["parent"] is None)
    counters = tracer.spark_counters()
    phases.append(("counters", time.perf_counter()))

    def span_sum(layer, pred):
        return sum(s["end"] - s["start"] for s in tracer.spans if s["layer"] == layer and pred(s["name"]))

    m = dict.fromkeys(metric_units()[1], 0.0)
    m.update(
        {
            "session.start_s": setup["session.start_s"],
            "session.first_job_s": setup["session.first_job_s"],
            "session.jvm_rss_mb": rss_mb(sc._gateway.proc.pid),
            "session.py4j_rtt_ms": statistics.median(rtt),
            "core.ingest_s": span_sum("core", lambda n: n.startswith("ingest")),
            "core.compute_s": span_sum("core", lambda n: n == "materialize"),
            "delayed.busy_s": tracer.busy_s("delayed"),
            "sources.read_s": span_sum("sources", lambda n: n.startswith(("read", "load"))),
            "sources.write_s": span_sum("sources", lambda n: n.startswith(("write", "to_avro"))),
            "spark.jobs_per_call": counters["spark.jobs"] / n_calls,
            "spark.tasks_per_call": counters["spark.tasks"] / n_calls,
            "trace.items_per_s_untraced": ips_u,
            "trace.items_per_s_traced": ips_t,
            "trace.overhead_ratio": ips_u / ips_t - 1,
            "failed_ratio": stats.failed / max(stats.attempted, 1),
        }
    )
    m.update(counters)
    for layer in ("operators.text", "operators.dedup", "operators.corpus", "operators.similarity", "operators.retrieval"):
        m[f"{layer}.busy_s"] = tracer.busy_s(layer)
    for layer, s in tracer.self_s().items():
        m[f"{layer}.self_s"] = s
    m.update(wl.layer_counts)
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json")
    tracer.dump(path)
    print(f"# spans: {len(tracer.spans)} written to {os.path.relpath(path, ROOT)}", flush=True)
    return m


if __name__ == "__main__":
    sys.exit(main())
