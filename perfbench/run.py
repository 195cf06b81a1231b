"""Seeded end-to-end and per-layer benchmark of the linkage engine.

Run from the repository root::

    python3 perfbench/run.py --workload er_repeat --seed 1 --seconds 5 --trace 0

One run starts a Spark session on ``local[N]`` (N = min(4, cores)), builds
the workload's inputs from ``--seed``, runs untimed warm-up passes, then
repeats timed passes for ``--seconds`` (at least the workload's
``TIMED_PASSES``) and checks every pass's output.  The last line of
standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (see BENCHMARK.json).
``--trace 1`` runs with the Spark event log on and a span around every call
into each engine layer, and reports the per-layer metrics instead.

Everything a run writes goes under ``.bench_work/`` in the checkout and is
removed when the run ends.  Without the engine package next to this
directory the run exits with status 2 before starting Spark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "1g"
# layers' self time (their job time plus driver gaps) must account for at
# least this share of a traced pass's wall; the rest is benchmark glue
COVERAGE_MIN = 0.90
# a timed pass during which the hypervisor took more than this share of the
# machine's CPU time (steal in /proc/stat) buys one more timed pass, at most
# EXTRA_PASSES per run; the reported figures are medians over every pass
STEAL_MAX = 0.04
EXTRA_PASSES = 1

END_TO_END = {
    "setup_s": "s", "run_s": "s", "pairs_per_s": "1/s",
    "peak_rss_mb": "MB", "pairwise_f1": "ratio", "pass_share": "ratio",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------ processes


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def _descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the driver, the JVM and its Python
    workers (children that have exited are counted through their parent's
    cutime/cstime)."""
    ticks = 0
    for pid in _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK") + time.process_time()


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    # guest time is already counted in user and nice
    return fields[7], sum(fields[:8])


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident memory of the driver JVM and of its Python workers:
    each live process's high-water mark (psutil is not available, so /proc
    is read directly)."""
    workers = sum(_hwm_kb(p) for p in _descendants(jvm_pid)[1:]) / 1024
    return _hwm_kb(jvm_pid) / 1024, workers


# ------------------------------------------------------------ session


def start_session(work: str, trace: bool):
    from osm_wikidata_spark import session

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Dderby.system.home={os.path.join(work, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = session.build_session(
        "perfbench", master=f"local[{CPUS}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait until every process the JVM
    started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited, waiting for its parent to reap it
            except FileNotFoundError:
                break
            time.sleep(0.05)


# ------------------------------------------------------------ runs


class Run:
    def __init__(self, args, work: str):
        import workloads

        self.args = args
        self.work = work
        self.workload = workloads.WORKLOADS[args.workload](args.seed)
        self.passes = 0
        # the traced run probes outputs that read from the pass directory
        self.keep_pass_dirs = bool(args.trace)

    def fresh_dir(self) -> str:
        self.passes += 1
        path = os.path.join(self.work, "passes", f"pass-{self.passes:04d}")
        os.makedirs(path)
        return path

    def one_pass(self, spark):
        """Run and check one pass; returns (result, check) or raises."""
        from pyspark import SparkContext

        spark.catalog.clearCache()
        pass_dir = self.fresh_dir()
        jvm = SparkContext._gateway.proc.pid
        try:
            cpu, (steal, total) = engine_cpu_s(jvm), host_ticks()
            result = self.workload.run_pass(spark, pass_dir)
            result.cpu_s = engine_cpu_s(jvm) - cpu
            steal1, total1 = host_ticks()
            result.steal_share = (steal1 - steal) / max(1, total1 - total)
            return result, self.workload.check(result)
        finally:
            if not self.keep_pass_dirs:
                shutil.rmtree(pass_dir, ignore_errors=True)

    def setup(self, spark_start: float, spark):
        """Set-up after the session exists: build and materialise the
        inputs, then the workload's untimed warm-up passes (the first also
        starts the Python workers).  Returns (setup_s, last warm-up
        result)."""
        t = time.perf_counter()
        self.workload.generate(spark)
        gen_s = time.perf_counter() - t
        warm_s = []
        for _ in range(self.workload.WARMUP_PASSES):
            t = time.perf_counter()
            warm, check = self.one_pass(spark)
            warm_s.append(time.perf_counter() - t)
            if not check.ok:
                raise RuntimeError(f"warm-up pass failed its checks: {check.problems}")
        _log(f"setup: session {spark_start:.2f}s inputs {gen_s:.2f}s "
             f"warm-up {[round(w, 2) for w in warm_s]}")
        return spark_start + gen_s + sum(warm_s), warm

    def timed(self, spark, reference: str, on_pass=None):
        """Timed passes until ``--seconds`` have elapsed and the workload's
        TIMED_PASSES have run, plus one more for each pass the host stole
        from (see STEAL_MAX), up to EXTRA_PASSES."""
        results, attempted, failed, passes, stolen = [], 0, 0, 0, 0
        deadline = time.perf_counter() + self.args.seconds
        want = self.workload.TIMED_PASSES
        while True:
            if on_pass:
                on_pass(passes)
            units = 1
            try:
                result, check = self.one_pass(spark)
                units = max(1, len(result.batch_s))
                if result.steal_share > STEAL_MAX and stolen < EXTRA_PASSES:
                    stolen += 1
                    want += 1
                if result.fingerprint != reference:
                    check.ok = False
                    check.problems.append("output fingerprint differs from warm-up")
                if not check.ok:
                    raise RuntimeError("; ".join(check.problems))
                results.append((result, check))
            except Exception:
                _log(traceback.format_exc())
                failed += units
            attempted += units
            passes += 1
            if time.perf_counter() >= deadline and passes >= want:
                break
        return results, attempted, failed


def tail(samples: list) -> dict:
    """Sample count and median, plus the highest of p90/p99/p99.9 that has
    at least ten samples beyond it, if any."""
    out = {"n": len(samples), "median": statistics.median(samples)}
    ordered = sorted(samples)
    for p in (99.9, 99, 90):
        if len(samples) * (100 - p) / 100 >= 10:
            out[f"p{p:g}"] = ordered[min(len(ordered) - 1, int(len(ordered) * p / 100))]
            break
    return out


def end_to_end(run: Run, spark, t_session: float) -> dict:
    from pyspark import SparkContext

    setup_s, warm = run.setup(t_session, spark)
    results, attempted, failed = run.timed(spark, warm.fingerprint)
    jvm_mb, workers_mb = peak_rss_mb(SparkContext._gateway.proc.pid)
    walls = [r.wall_s for r, _ in results]
    detail = {
        "workload": run.args.workload, "seed": run.args.seed,
        "sizes": run.workload.sizes(),
        "pairs": [r.pairs for r, _ in results],
        "run_s": tail(walls) if walls else None,
        "pass_s": [round(w, 3) for w in walls],
        "cpu_s": [round(r.cpu_s, 3) for r, _ in results],
        "steal_share": [round(r.steal_share, 4) for r, _ in results],
        "peak_rss_mb": {"jvm": round(jvm_mb), "python_workers": round(workers_mb)},
    }
    batches = [b for r, _ in results for b in r.batch_s]
    if batches:
        detail["batch_s"] = tail(batches)
    _log(json.dumps(detail))
    if not results:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}
    values = {
        "setup_s": setup_s,
        "run_s": statistics.median(walls),
        "pairs_per_s": statistics.median(r.pairs / r.wall_s for r, _ in results),
        "peak_rss_mb": jvm_mb + workers_mb,
        "pairwise_f1": min(c.f1 for _, c in results),
        "pass_share": 1 - failed / attempted,
    }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()},
    }


def traced(run: Run, spark, t_session: float) -> dict:
    import eventlog
    import layers
    from tracing import Tracer

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "setup")
    _, warm = run.setup(t_session, spark)
    sc.setLocalProperty("spark.jobGroup.id", "untraced")
    untraced, check = run.one_pass(spark)
    sc.setLocalProperty("spark.jobGroup.id", None)
    if not check.ok or untraced.fingerprint != warm.fingerprint:
        raise RuntimeError(f"untraced pass failed its checks: {check.problems}")

    tracer = Tracer(sc)
    tracer.install()
    pass_ids = []

    def start(no):
        tracer.pass_no = no
        pass_ids.append(no)

    # the root span of each pass is opened by wrapping run_pass
    inner = run.workload.run_pass

    def run_pass(spark, pass_dir):
        with tracer.span("pass"):
            return inner(spark, pass_dir)

    run.workload.run_pass = run_pass
    try:
        results, attempted, failed = run.timed(spark, warm.fingerprint, start)
    finally:
        run.workload.run_pass = inner
        tracer.uninstall()
    last = pass_ids[-1]
    tracer.pass_no = -2
    with tracer.span("probe"):
        counts = layers.probe_counts(tracer, last)
    stop_session(spark)
    logs = os.listdir(os.path.join(run.work, "eventlog"))
    groups = eventlog.read(os.path.join(run.work, "eventlog", logs[0]))
    times, acc = layers.layer_times(tracer, groups, pass_ids)
    values = layers.combine(times, counts)
    traced_s = statistics.median(r.wall_s for r, _ in results) if results else acc["wall_s"]
    values.update({
        "trace.run_s": traced_s,
        "trace.untraced_run_s": untraced.wall_s,
        "trace.overhead_s": traced_s - untraced.wall_s,
        "trace.coverage": acc["coverage"],
        "trace.gc_ms": acc["gc_ms"],
        "trace.spill_bytes": acc["spill_bytes"],
        "trace.unattributed_jobs": groups[None].jobs if None in groups else 0,
    })
    _log(json.dumps({"accounting": acc}))
    problems = []
    if acc["jobs_outside_span"]:
        problems.append(f"{acc['jobs_outside_span']} jobs outside their span")
    if acc["coverage"] < COVERAGE_MIN:
        problems.append(f"layers cover {acc['coverage']:.3f} of the pass wall")
    for p in problems:
        _log(p)
    return {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": layers.unit(n)}
                    for n in layers.metric_names()},
    }


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import osm_wikidata_spark  # noqa: F401
    except ImportError as exc:
        _log(f"perfbench: cannot import the engine from {ROOT}: {exc}")
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _log(f"perfbench: unknown workload {args.workload!r}; "
             f"choose from {sorted(workloads.WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "passes", "derby"):
        os.makedirs(os.path.join(work, sub))
    # Python workers are started by the JVM and must import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # takes precedence over spark.local.dir when set in the environment
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM

    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        t_session = time.perf_counter() - t
        run = Run(args, work)
        out = (traced if args.trace else end_to_end)(run, spark, t_session)
    except Exception:
        _log(traceback.format_exc())
        return 1
    finally:
        if spark is not None:
            from pyspark import SparkContext

            if SparkContext._active_spark_context is not None:
                stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
