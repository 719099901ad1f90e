"""Benchmark of the PySpark logistics analytics & NLP engine.

Usage, from the repository root::

    python3 perfbench/run.py --workload trips_report --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``trips_report``, the reference's report
cycle, and ``clean_api``, a closed-loop client of the cleaning API. One run,
in one process with one client thread on ``local[<cores>]``:

1. writes the workload's seeded inputs under ``perfbench/_work/`` (not
   timed) and prints their properties;
2. sets the engine up: launch the JVM and create the session, then warm
   the inputs or build the service. ``setup_s`` runs from process start to
   the end of set-up, input generation excluded; repeats come from
   separate runs, as each set-up launches a fresh JVM;
3. runs the workload's warm-up operations, then operations back to back
   until ``--seconds`` have passed and at least the workload's ``min_ops``
   have run. An operation that raises, or whose Spark tasks fail, counts
   as failed and the loop goes on;
4. checks the outputs (not timed) and exits non-zero when a check fails;
5. prints one JSON object as the last line of standard output: the
   end-to-end metrics with ``--trace 0``, the per-layer metrics with
   ``--trace 1``. Metric names and units are those of ``BENCHMARK.json``.

End-to-end metrics (tracing off), on both workloads: ``setup_s``;
``op_best_ms``, the wall time of the fastest timed operation (a report
cycle, or one request as the client sees it); ``rows_per_s``, the input
rows of a timed operation (5,000 events; on clean_api the mean texts per
request, fixed by the request block) over ``op_best_ms``;
``peak_rss_mb``, the peak resident size of the benchmark process and its
children (JVM and Python workers). The fastest
operation, not the median, stands for a run because other guests of a
shared host steal CPU in bursts that stretch whole operations (the
``cpu_timed`` line prints the stolen share); the median operation is
``op.wall_ms`` of the traced run. The ``ops`` line prints every timed
operation's wall time and the CPU time its process tree used, which falls
while the JVM is still compiling the operation's code paths.

Per-layer metrics, and the end-to-end metric each should move:

- ``session.get_spark_s`` (session) and ``setup.warm_s`` (the input table's
  first scan through ``sources.tables`` on trips_report, the
  ``CleaningService`` build on clean_api) move ``setup_s``;
- ``op.wall_ms``, ``op.engine_ms`` (time inside engine calls; on clean_api
  the response's own ``processing_ms``) and ``op.glue_ms`` (the rest: the
  benchmark's and the API client's own work) move ``op_best_ms``;
- on trips_report, ``plans.trips.<output>.build_share`` (the share of the
  cycle spent building that report, eager cut-point fills included),
  ``.jobs`` and ``.tasks`` (its build and its write), and
  ``sources.sinks.write_share`` and ``sources.sinks.bytes_written`` move
  ``rows_per_s`` and ``op_best_ms``;
- on clean_api, ``service.clean.jobs``/``.tasks`` and
  ``service.clean_batch.jobs``/``.tasks`` move ``op_best_ms``;
- ``<layer>.failed_tasks`` count the Spark tasks that failed in that
  layer's calls; they move the result's ``failed`` count.

A layer the workload does not call reads 0; per-layer times that only one
workload has are given as shares of the operation's wall time, so that no
time reads 0 on every run.

With ``--trace 1`` every other timed operation records spans around its
engine calls (the rest run untraced). The spans are written to
``perfbench/_out/``, the per-layer times come from the traced operations,
and ``trace.overhead_pct`` compares the traced with the untraced ones.

Environment set for the engine (all of them existing settings):
``SPARK_GRAFT_CPUS`` = the cores this process may use,
``SPARK_GRAFT_DRIVER_MEM`` = ``DRIVER_MEM`` (the engine default is larger
than small machines' RAM), ``SPARK_GRAFT_LOCAL_DIR`` and ``java.io.tmpdir``
inside the run's work directory, and ``PYTHONPATH`` with the repository
root so Python workers can import the package.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "advanced_logistics_data_engineering_arabic_nlp_pipeline_spark"

DRIVER_MEM = "2g"
# a run that is still in its timed loop this long after start stops there,
# so that it ends within three minutes
LOOP_DEADLINE_S = 120.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, cores: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


# ── process tree ────────────────────────────────────────────────────────────

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident sizes (VmHWM) of a process and its
    descendants."""
    total_kb = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def tree_cpu_s(pid: int) -> float:
    """CPU time (user + system) used so far by a process and its living
    descendants."""
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_engine(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM this process launched, then wait until
    every process started under this one has exited."""
    import signal

    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout_s
        while any(_alive(p) for p in started) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in started:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass


# ── metrics ─────────────────────────────────────────────────────────────────

def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def declared(kind: str) -> dict[str, str]:
    """Metric name → unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def end_to_end(wl, setup, timed, peak_rss_mb) -> dict:
    ok = [o for o in timed if o["ok"]]
    return {
        "setup_s": setup["total"],
        "peak_rss_mb": peak_rss_mb,
        **wl.end_to_end(ok),
    }


def per_layer(wl, setup, timed, tracer) -> dict:
    """Per-layer metrics. Times come from the traced operations: the
    operation's wall time, the part inside engine calls and the rest (the
    benchmark's and the client's own work). Job counts come from every
    operation that succeeded."""
    ok = [o for o in timed if o["ok"]]
    traced = [o for o in ok if o["traced"]]
    plain = [o for o in ok if not o["traced"]]
    wall = [o["wall"] for o in traced]
    engine = [wl.engine_s(tracer, o["op"]) for o in traced]
    untraced_p50 = _median(o["wall"] for o in plain)
    return {
        "session.get_spark_s": setup["session"],
        "setup.warm_s": setup["warm"],
        "op.wall_ms": _median(wall) * 1000.0,
        "op.engine_ms": _median(engine) * 1000.0,
        "op.glue_ms": _median(w - e for w, e in zip(wall, engine)) * 1000.0,
        "trace.overhead_pct": 100.0 * (_median(wall) - untraced_p50) / untraced_p50,
        **wl.layers(ok, traced, tracer),
    }


# ── run ─────────────────────────────────────────────────────────────────────

def run(args, work: str, out_dir: str) -> tuple[dict, int, int, bool]:
    import workloads
    from spans import Tracer

    from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]()
    run_id = f"{wl.name}-{args.seed}-{args.trace}"
    tracer = Tracer(run_id)
    names = declared("per_layer" if args.trace else "end_to_end")

    t0 = time.perf_counter()
    props = wl.prepare(work, args.seed, int(os.environ["SPARK_GRAFT_CPUS"]))
    gen_s = time.perf_counter() - t0
    print(f"input {wl.name} seed={args.seed}: {json.dumps(props, sort_keys=True)}")

    spark = None
    ops = []
    attempted = failed = 0
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{wl.name}")
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext
        t1 = time.perf_counter()
        wl.warm(spark, tracer)
        t2 = time.perf_counter()
        setup = {"total": t2 - T_START - gen_s, "session": t1 - t0, "warm": t2 - t1}
        phases = {"setup": time.perf_counter()}

        def one(i: int, warmup: bool) -> None:
            nonlocal attempted, failed
            tracer.op_id = i
            tracer.enabled = bool(args.trace) and not warmup and i % 2 == 0
            rec = {"op": i, "warmup": warmup, "traced": tracer.enabled, "ok": False}
            attempted += 1
            cpu0 = tree_cpu_s(os.getpid())
            t = time.perf_counter()
            try:
                with tracer.span("op", op=i):
                    res = wl.op(spark, tracer, i)
                rec["wall"] = time.perf_counter() - t
                rec["cpu"] = tree_cpu_s(os.getpid()) - cpu0
                if res.post is not None:
                    res.post()
                rec.update(ok=True, rows=res.rows, info=res.info)
            except Exception:
                rec["wall"] = time.perf_counter() - t
                failed += 1
                traceback.print_exc()
            tracer.count_op(i)
            if rec["ok"] and any(c["counts"]["failed_tasks"] for c in tracer.calls if c["op"] == i):
                rec["ok"] = False
                failed += 1
            ops.append(rec)

        for i in range(wl.warmup_ops):
            one(i, warmup=True)
        i = wl.warmup_ops
        ticks = cpu_ticks()
        start = phases["warmup"] = time.perf_counter()
        while True:
            one(i, warmup=False)
            i += 1
            n = i - wl.warmup_ops
            now = time.perf_counter()
            if n >= wl.min_ops and (now - start >= args.seconds or now - T_START >= LOOP_DEADLINE_S):
                break
        timed = [o for o in ops if not o["warmup"]]
        ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
        peak_rss = tree_peak_rss_mb(os.getpid())
        phases["timed"] = time.perf_counter()

        tracer.op_id = "check"
        errors = wl.check(spark)
        phases["check"] = time.perf_counter()
    finally:
        stop_engine(spark)
    phases["stop"] = time.perf_counter()

    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    if not any(o["ok"] for o in timed):
        errors.append("no timed operation succeeded")
        print(f"CHECK FAILED: {errors[-1]}", file=sys.stderr)
    walls = [round(o["wall"], 3) for o in timed]
    cpus = [round(o.get("cpu", 0.0), 2) for o in timed]
    print(
        f"ops {wl.name}: timed={len(timed)} attempted={attempted} failed={failed} "
        f"error_rate={failed / attempted:.4f} walls_s={walls} cpu_s={cpus} "
        f"setup_s={setup['total']:.3f}"
    )
    # the machine's CPU use during the timed window: busy, and stolen by
    # other guests of the host
    print(f"cpu_timed busy={1 - (ticks[3] + ticks[4]) / sum(ticks):.3f} steal={ticks[7] / sum(ticks):.3f}")
    marks = [("start", T_START)] + list(phases.items())
    print("phases_s " + " ".join(f"{b[0]}={b[1] - a[1]:.1f}" for a, b in zip(marks, marks[1:])))
    if errors:
        return {}, attempted, failed, False
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{run_id}.jsonl"))
        values = per_layer(wl, setup, timed, tracer)
    else:
        values = end_to_end(wl, setup, timed, peak_rss)
    unknown = sorted(set(values) - set(names))
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {unknown}")
    if not args.trace and set(names) - set(values):
        raise RuntimeError(f"end-to-end metrics not measured: {sorted(set(names) - set(values))}")
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()}
    return metrics, attempted, failed, True


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(work)
    try:
        configure_env(work, len(os.sched_getaffinity(0)))
        try:
            __import__(PACKAGE)
            import workloads  # noqa: F401  (the engine modules the workloads call)
        except ImportError as e:
            print(f"cannot import the engine package {PACKAGE}: {e}", file=sys.stderr)
            return 2
        metrics, attempted, failed, correct = run(args, work, os.path.join(HERE, "_out"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not correct:
        return 1
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
