"""Seeded end-to-end benchmark of the engine, with a traced per-layer run.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload seq_exploded --seed 1 --seconds 12 --trace 0

One run, one process:

1. set-up: start the session (``session.get_spark`` on ``local[<nproc>]``
   with the library's defaults), then generate the seeded inputs and
   write them to parquet three times, each copy into its own directory.
   The last copy is the one used.  ``setup_s`` is the time from process
   start until the session is ready, plus the median of the three input
   writes.
2. warm-up: run the job until its time stops falling: the median of the
   last three jobs is no more than 5% below the median of the three
   before, after 6 to 8 jobs.  The JIT warm-up of the driver's planning
   code and the executors' generated code lasts about that many jobs.
3. timed: run the job until ``--seconds`` have passed (at least 3 jobs);
   ``job_s`` is the median job time.
4. check the output against an independent computation, once, outside
   the timed jobs.  A wrong result, or a job that raises, counts as a
   failed operation.
5. peak memory: ``VmHWM`` of the Spark JVM plus its Python workers.  It
   is recorded in the artifact and reported by the traced run as
   ``session.peak_rss_mb``, not as an end-to-end metric: the JVM's heap
   sizing makes it vary by up to 2x between identical runs.

``--trace 1`` then restarts the Spark context in the same JVM with the
event log on and a streaming progress listener, runs one warm-up job and
the timed jobs again (``trace.job_s``; ``trace.overhead_s`` is its excess
over the untraced ``job_s`` of step 3), times each layer's cumulative
prefix (``<layer>.self_s`` is its span minus the previous layer's span)
and reads the stage counters of each span from the event log.  Layers
that the workload does not run report 0.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).  Everything a run
measured, warm-up job times and input sizes included, is also written to
``perfbench/_work/artifacts/``.  Inputs, event logs and Spark scratch
space live under ``perfbench/_work/<run>/`` and are removed at exit.
Exit code 0 means the output checks passed; 1 means a check or a job
failed; 2 means the engine could not be imported from this checkout.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
WARM_MIN, WARM_MAX, WARM_FLAT = 6, 8, 0.95
TIMED_MIN = 3
SPAN_PASSES = 3


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_engine() -> str | None:
    """Import the engine from this checkout; return why it failed."""
    try:
        import topo_descriptors_spark
    except ImportError as e:
        return f"cannot import topo_descriptors_spark: {e}"
    where = os.path.abspath(topo_descriptors_spark.__file__)
    if not where.startswith(ROOT + os.sep):
        return f"topo_descriptors_spark resolves outside the checkout: {where}"
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        return "the checkout has no __spark_entry__.py"
    return None


def isolate(work: str) -> None:
    """Keep every scratch file of Spark, the JVM and Python in ``work``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, [
        os.environ.get("SPARK_SUBMIT_OPTS", ""),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    tempfile.tempdir = tmp


def start_session(name: str, event_dir: str | None = None):
    from topo_descriptors_spark.session import get_spark

    extra = {}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + event_dir}
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(f"perfbench-{name}", master=f"local[{cores}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def shutdown_jvm(pid: int) -> None:
    """End the (stopped) Spark JVM and its Python workers; wait for them."""
    from pyspark import SparkContext

    from perfbench.tracing import _proc_children

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    kids = _proc_children()
    family, todo = [], [pid]
    while todo:
        p = todo.pop()
        family.append(p)
        todo += kids.get(p, [])
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for p in family:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except OSError:
                pass


class Runner:
    """Counts operations and times jobs of one workload in one session."""

    def __init__(self, wl, spark):
        self.wl, self.spark = wl, spark
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def job(self) -> float | None:
        self.attempted += 1
        t = time.perf_counter()
        try:
            self.wl.run_job(self.spark)
        except Exception as e:  # a failed job is a failed operation
            self.failed += 1
            self.errors.append(f"job: {type(e).__name__}: {e}")
            return None
        return time.perf_counter() - t

    def warm_up(self) -> list[float]:
        """Run jobs until the median of the last three is no more than 5%
        below the median of the three before (``WARM_MIN`` to
        ``WARM_MAX`` jobs)."""
        med = statistics.median
        times: list[float] = []
        while len(times) < WARM_MAX:
            t = self.job()
            if t is None:
                break
            times.append(t)
            if (len(times) >= WARM_MIN
                    and med(times[-3:]) >= WARM_FLAT * med(times[-6:-3])):
                break
        return times

    def timed(self, seconds: float) -> list[float]:
        times: list[float] = []
        t_end = time.perf_counter() + seconds
        while len(times) < TIMED_MIN or time.perf_counter() < t_end:
            t = self.job()
            if t is None:
                break
            times.append(t)
        return times

    def verify(self, check, *args):
        """Run one output check (returning ``(result, problems)``) as an
        operation; a problem or an exception fails it."""
        self.attempted += 1
        try:
            result, problems = check(self.spark, *args)
        except Exception as e:
            result, problems = None, [f"check raised {type(e).__name__}: {e}"]
        if problems:
            self.failed += 1
            self.errors += problems
        return result


def traced_phase(wl, work: str, seconds: float, untraced_job_s: float) -> tuple[dict, Runner]:
    """Per-layer metrics from a second, traced Spark context."""
    from perfbench.tracing import ProgressRecorder, read_event_log, span_profiles
    from perfbench.workloads import materialize

    event_dir = os.path.join(work, "eventlog")
    spark = start_session(wl.name, event_dir)
    rec = ProgressRecorder()
    spark.streams.addListener(rec.listener)
    sc = spark.sparkContext
    run = Runner(wl, spark)
    sc.setJobGroup("warmup", "warm-up")
    run.job()
    sc.setJobGroup("timed", "timed jobs")
    times = run.timed(seconds)
    spans: dict[str, list[float]] = {}
    ladder = wl.ladders(spark)
    for _ in range(SPAN_PASSES):
        for layer, _prev, build in ladder:
            sc.setJobGroup(f"span:{layer}", f"span {layer}")
            t = time.perf_counter()
            materialize(build())
            spans.setdefault(layer, []).append(time.perf_counter() - t)
    sc.setJobGroup("extras", "exact counts and twins")
    extras = run.verify(wl.trace_extras, work, rec) or {}
    spark.stop()  # closes the event log

    prof = span_profiles(read_event_log(event_dir))
    span_s = {k: statistics.median(v) for k, v in spans.items()}

    def per_pass(layer):
        # sums become per-pass means; maxima stay maxima
        p = prof.get(f"span:{layer}", {})
        return {k: v if k in ("max_task_s", "widest_stage") else v / SPAN_PASSES
                for k, v in p.items()}

    m: dict[str, float] = {}
    for layer, prev, _build in ladder:
        p, q = per_pass(layer), per_pass(prev) if prev else {}

        def own(k, p=p, q=q):
            return p.get(k, 0.0) - q.get(k, 0.0)

        run_s = p.get("run_s", 0.0)
        share = p.get("max_task_s", 0.0) / run_s if run_s else 0.0
        m[f"{layer}.self_s"] = span_s[layer] - (span_s[prev] if prev else 0.0)
        m[f"{layer}.cpu_s"] = own("cpu_s")
        m[f"{layer}.gc_s"] = own("gc_s")
        m[f"{layer}.spill_mb"] = own("spill_mb")
        m[f"{layer}.shuffle_write_mb"] = own("shuffle_write_mb")
        m[f"{layer}.python_in_mb"] = own("python_in_mb")
        m[f"{layer}.python_out_mb"] = own("python_out_mb")
        m[f"{layer}.max_task_share"] = share
        m[f"{layer}.parallelism"] = run_s / span_s[layer]
        m[f"{layer}.scan_tasks"] = p.get("widest_stage", 0)
        m[f"{layer}.rows"] = p.get("input_rows", 0)
        m[f"{layer}.input_mb"] = p.get("scan_mb", 0.0)
    m.update(extras)
    job_s = statistics.median(times) if times else 0.0
    m["trace.job_s"] = job_s
    m["trace.overhead_s"] = job_s - untraced_job_s
    return {"metrics": m, "spans_s": spans, "traced_job_s": times,
            "profiles": prof}, run


def run(args, wl, work: str, t0: float) -> tuple[dict, dict]:
    spark = start_session(wl.name)
    session_s = time.perf_counter() - t0
    pid = jvm_pid(spark)
    try:
        status, artifact = measure(args, wl, work, spark, session_s)
    finally:
        shutdown_jvm(pid)
    artifact["box"] = bandwidth_probe()
    return status, artifact


def measure(args, wl, work: str, spark, session_s: float) -> tuple[dict, dict]:
    from perfbench.tracing import peak_rss_mb

    gen, rows, nbytes = [], 0, 0
    for i in range(SETUP_REPS):
        in_dir = os.path.join(work, f"input{i}")
        os.makedirs(in_dir)
        t = time.perf_counter()
        rows, nbytes = wl.setup(spark, in_dir, args.seed)
        gen.append(time.perf_counter() - t)
        if i:
            shutil.rmtree(os.path.join(work, f"input{i - 1}"))
    setup_s = session_s + statistics.median(gen)

    runner = Runner(wl, spark)
    warm = runner.warm_up()
    timed = runner.timed(args.seconds) if not runner.failed else []
    if not runner.failed:
        runner.verify(lambda spark: (None, wl.check(spark)))
    rss = peak_rss_mb(jvm_pid(spark))
    job_s = statistics.median(timed) if timed else 0.0
    e2e = {"setup_s": setup_s, "job_s": job_s,
           "rows_per_s": rows / job_s if job_s else 0.0}
    artifact = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": len(os.sched_getaffinity(0)),
        "input_rows": rows, "input_bytes": nbytes,
        "session_s": session_s, "setup_gen_s": gen,
        "warmup_job_s": warm, "timed_job_s": timed,
        "peak_rss_mb": rss, "metrics": e2e,
    }
    ops = [runner]
    spark.stop()
    if args.trace and not runner.failed:
        traced, trun = traced_phase(wl, work, args.seconds, job_s)
        ops.append(trun)
        m = {
            "session.start_s": session_s,
            "session.peak_rss_mb": rss,
            "sources.synthetic.gen_s": statistics.median(gen) if wl.synthetic else 0.0,
            "sources.synthetic.rows": rows if wl.synthetic else 0,
        }
        m.update(traced.pop("metrics"))
        artifact["traced"] = traced
        artifact["per_layer"] = m
    artifact["errors"] = [e for r in ops for e in r.errors]
    status = {
        "correct": not any(r.failed for r in ops),
        "attempted": sum(r.attempted for r in ops),
        "failed": sum(r.failed for r in ops),
    }
    return status, artifact


def bandwidth_probe() -> dict:
    """The repository's single-thread copy-bandwidth reading of the box
    (diagnostic only: tells contended runs apart)."""
    import bench

    return bench.memory_bandwidth_probe(n_mib=128, repeats=5)


def reported(measured: dict, section: str) -> dict:
    """The metrics BENCHMARK.json lists under ``section``, with units;
    a per-layer metric the workload's layers did not produce reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[section]
    return {m["name"]: {"value": float(measured.get(m["name"], 0.0)),
                        "unit": m["unit"]} for m in spec}


def main(argv=None) -> int:
    t0 = time.perf_counter() - process_age_s()
    # import from the checkout root, never from this directory
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    args = parse_args(argv)
    why = import_engine()
    if why:
        print(f"perfbench: {why}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    work = os.path.join(HERE, "_work", f"{wl.name}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    try:
        status, artifact = run(args, wl, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = (reported(artifact.get("per_layer", {}), "per_layer") if args.trace
               else reported(artifact["metrics"], "end_to_end"))
    out_dir = os.path.join(HERE, "_work", "artifacts")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{wl.name}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({**artifact, **status}, f, indent=1, default=float)
    print(json.dumps({**status, "metrics": metrics}))
    return 0 if status["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
