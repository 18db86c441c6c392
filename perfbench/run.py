"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload samsara_book --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The run

1. pins its environment (cores, worker PYTHONPATH, driver memory, local
   and temp directories under ``.perfbench_work/``) before Spark starts;
2. writes the workload's seeded inputs (``fixtures.py``);
3. sets up ``SETUP_REPS`` times — start a Spark session with the package's
   ``get_spark``, load the tables through its sources layer, scan them
   once — and reports the median CPU seconds as ``setup_s``;
4. runs whole passes of the workload until ``--seconds`` would be
   exceeded (always at least one), checking every output;
5. with ``--trace 1``, tags each timed call with a Spark job group, keeps
   Spark's event log, and after the session stops attributes every job
   to a span; the spans are written to ``.perfbench_out/``.  For
   ``nb_text`` the traced run also serves the model over HTTP.

Human-readable detail goes to stdout first; the last stdout line is the
JSON result.  ``--scale 0.001`` is the smoke size.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mahout_samsara_book_spark"
WORKLOADS = ("samsara_book", "nb_text")
SETUP_REPS = 3

# end-to-end metrics: every workload reports both (README.md)
E2E = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}

# per-layer metrics, reported by --trace 1 runs; a metric of a layer the
# workload does not call reads 0
PER_LAYER = {
    # workload-level figures
    "pass_s": "s",
    "book_pass_s": "s",
    "ridge_fit_s": "s",
    "mmul_gflops": "GFLOP/s",
    "nb_train_s": "s",
    "nb_predict_docs_per_s": "1/s",
    "serve_p50_ms": "ms",
    "serve_p99_ms": "ms",
    "serve_max_rps": "1/s",
    "index_build_s": "s",
    "ingest_batch_s": "s",
    "ingest_docs_per_s": "1/s",
    # drm
    "drm.gram_s": "s",
    "drm.mmul_s": "s",
    "drm.map_block_s": "s",
    "drm.allreduce_s": "s",
    "drm.colsums_s": "s",
    "drm.ax_s": "s",
    # kernels
    "kernels.incore_mmul_s": "s",
    # algorithms
    "algorithms.dridge_s": "s",
    "algorithms.test_beta_s": "s",
    "algorithms.twcnb_train_s": "s",
    "algorithms.bahmani_s": "s",
    "algorithms.bfgs_s": "s",
    "algorithms.bfgs_iters": "count",
    "algorithms.nb_train_s": "s",
    "algorithms.nb_predict_s": "s",
    "algorithms.nb_classify_us": "us",
    # functions
    "functions.term_counts_s": "s",
    "functions.dictionary_s": "s",
    "functions.doc_freq_s": "s",
    # streaming (serving)
    "serving.handler_us": "us",
    "serving.http_overhead_ms": "ms",
    "serving.generator_late_ms": "ms",
    # operators (dedup)
    "dedup.index_persist_s": "s",
    "dedup.ingest_batch_s": "s",
    "dedup.dups_found": "count",
    "dedup.index_bytes_per_input_byte": "ratio",
    # sources / session
    "setup_wall_s": "s",
    "sources.load_s": "s",
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    # cache and thread hygiene after each pass
    "cache.tracked_released": "count",
    "cache.persisted_left": "count",
    "threads_left": "count",
    # Spark, over the measured passes
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.output_bytes": "B",
    "spark.driver_gap_s": "s",
    "spark.core_util": "ratio",
    # tracing itself
    "trace.overhead_s": "s",
}

# per-layer metrics that are the summed wall of one span name per pass
SPAN_METRICS = {
    name[: -len("_s")]: name
    for name in PER_LAYER
    if name.endswith("_s") and name.split(".")[0]
    in ("drm", "kernels", "algorithms", "functions", "dedup")
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mem() -> str:
    """A quarter of physical memory, between 1 and 2 GiB: the inputs are
    tens of MB."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(2, kb // (4 * 1024 * 1024)))}g"


def pin_environment(work: str) -> dict:
    """Environment for the package and its Spark workers, set before
    pyspark is imported."""
    for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(_cores()),
        # Python workers unpickle package functions by module path
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # one BLAS thread per task: local[N] already runs N tasks
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    os.environ.update(env)
    return env


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` and of their exited, reaped
    children.  With steal-time accounting the guest kernel leaves out CPU
    time the hypervisor gave to other guests."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _run_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM it launched (if
    any) and the JVM's Python workers."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm = _process_tree(gw.proc.pid) if gw is not None else []
    return _cpu_s([os.getpid(), *jvm])


def _process_tree(pid: int) -> list[int]:
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo += _children(p)
    return tree


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the session launched (and with it
    the Python worker daemon), and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        tree = _process_tree(proc.pid)
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
        for p in tree[1:]:
            deadline = time.time() + 10
            while os.path.exists(f"/proc/{p}") and time.time() < deadline:
                time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs) -> float:
    return float(statistics.median(xs))


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _layer_metrics(tracer, pass_spans, results, serve, setup) -> dict:
    """Per-layer metrics from the spans and pass results; 0 for a layer
    the workload does not call."""
    layer = {name: 0.0 for name in PER_LAYER}
    for span_name, metric in SPAN_METRICS.items():
        layer[metric] = _median([
            sum(s.wall for s in tracer.spans
                if s.name == span_name and p.start <= s.start and s.end <= p.end)
            for p in pass_spans
        ])
    for key in results[0]:
        if key in layer:
            layer[key] = _median([r[key] for r in results])
    layer.update({k: v for k, v in serve.items() if k in layer})
    layer.update({k: max(r["_hygiene"][k] for r in results) for k in results[0]["_hygiene"]})
    layer["setup_wall_s"] = _median(setup["total"])
    layer["sources.load_s"] = _median(setup["load"])
    layer["session.start_s"] = setup["start"][0]
    layer["trace.overhead_s"] = tracer.bookkeeping_s
    return layer


def _write_trace(path, w, seed, tracer, info, cores) -> None:
    """Every span with its wall, self time and Spark counts, plus the
    Spark roll-up of each layer's outermost spans."""
    from spans import rollup, self_times

    by_id = {s.id: s for s in tracer.spans}
    selfs = self_times(tracer.spans)
    layers = {}
    for lay in sorted({s.layer for s in tracer.spans}):
        roots = [s for s in tracer.spans if s.layer == lay
                 and (s.parent is None or by_id[s.parent].layer != lay)]
        layers[lay] = rollup(tracer.spans, roots, cores)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({
            "workload": w, "seed": seed, "event_log": info, "layers": layers,
            "spans": [{
                "id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                "start": s.start, "wall_s": s.wall, "self_s": selfs[s.id], **s.counts,
            } for s in tracer.spans],
        }, fh, indent=1)


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    sys.path[:0] = [ROOT, HERE]

    import fixtures
    import numpy
    import pandas
    import pyspark
    import workloads
    from mahout_samsara_book_spark import get_spark
    from mahout_samsara_book_spark.cache import release_tracked
    from spans import Tracer, attribute_event_log, rollup

    marks = {"imports": time.perf_counter()}
    steal0 = _cpu_times()
    cores = _cores()
    trace = bool(args.trace)
    w = args.workload
    fx = fixtures.write_all(args.seed, args.scale, os.path.join(work, "fixtures"), w)
    marks["fixtures"] = time.perf_counter()
    sources, one_pass = {
        "samsara_book": (workloads.book_sources, workloads.book_pass),
        "nb_text": (workloads.nb_sources, workloads.nb_pass),
    }[w]

    tracer = Tracer(enabled=trace)
    conf = spark_conf(work, trace)
    spark = None
    setup = {"cpu": [], "total": [], "start": [], "load": []}
    tracer.cpu_clock = _run_cpu_s
    try:
        for _ in range(SETUP_REPS):
            c0, t0 = _run_cpu_s(), time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = get_spark(app_name=f"perfbench-{w}", extra_conf=conf)
            t1 = time.perf_counter()
            tracer.bind(spark.sparkContext)
            ctx = workloads.Ctx(spark, tracer, fx, work, cores)
            src = sources(ctx)
            t2 = time.perf_counter()
            setup["cpu"].append(_run_cpu_s() - c0)
            setup["total"].append(t2 - t0)
            setup["start"].append(t1 - t0)
            setup["load"].append(t2 - t1)
        marks["setup"] = time.perf_counter()

        base_threads = threading.active_count()
        results, pass_spans = [], []
        while True:
            with tracer.span("workload.pass", "workload") as sp:
                completed = True
                try:
                    res = one_pass(ctx, src)
                except Exception as exc:  # noqa: BLE001 — reported as a failed operation
                    # Ctx.call has counted the failed call; the run still
                    # reports what it measured, with correct = false
                    traceback.print_exc()
                    ctx.checks.append({"check": "pass_completed", "ok": False, "detail": repr(exc)})
                    res, completed = {}, False
            res["_hygiene"] = {
                "cache.tracked_released": release_tracked(blocking=True),
                "cache.persisted_left": spark.sparkContext._jsc.getPersistentRDDs().size(),
                "threads_left": threading.active_count() - base_threads,
            }
            pass_spans.append(sp)
            results.append(res)
            elapsed = time.perf_counter() - marks["setup"]
            if not completed or elapsed + _median([p.wall for p in pass_spans]) > args.seconds:
                break
        marks["passes"] = time.perf_counter()
        # serving figures are per-layer metrics, so only the traced run serves
        serve = workloads.serve(ctx, results[-1]) if "_serving" in results[-1] and trace else {}
        marks["serve"] = time.perf_counter()
        jvm = spark.sparkContext._gateway.proc.pid
        rss = sum(_vm_hwm_mb(p) for p in [os.getpid()] + _process_tree(jvm))
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            stop_spark(spark)
    marks["stop"] = time.perf_counter()
    steal1 = _cpu_times()

    # a pass's time is that of its calls into the package; the output
    # checks between calls run in the pass span but in no call span
    calls = [[s for s in tracer.spans if s.parent == p.id] for p in pass_spans]
    walls = [sum(c.wall for c in cs) for cs in calls]
    e2e = {
        "setup_s": _median(setup["cpu"]),
        "pass_cpu_s": _median([sum(c.cpu for c in cs) for cs in calls]),
    }
    layer = _layer_metrics(tracer, pass_spans, results, serve, setup)
    layer["session.peak_rss_mb"] = rss
    layer["pass_s"] = _median(walls)
    if w == "samsara_book":
        layer["book_pass_s"] = layer["pass_s"]
    if trace:
        log = os.path.join(work, "eventlog", app_id)
        info = attribute_event_log(log if os.path.exists(log) else log + ".inprogress",
                                   tracer.spans)
        for k, v in rollup(tracer.spans, [c for cs in calls for c in cs], cores).items():
            layer[f"spark.{k}"] = v
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{w}-seed{args.seed}.json")
        _write_trace(path, w, args.seed, tracer, info, cores)
        print(f"# trace written to {os.path.relpath(path, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)

    detail = {
        "workload": w, "seed": args.seed, "scale": args.scale, "trace": trace,
        "nproc": cores, "python": platform.python_version(), "spark": pyspark.__version__,
        "numpy": numpy.__version__, "pandas": pandas.__version__,
        "env": {k: v for k, v in env.items() if k != "PYTHONPATH"},
        "timeline_s": {k: v - T_START for k, v in marks.items()},
        # CPU time the hypervisor gave to other guests: the main source of
        # run-to-run spread on a shared machine
        "cpu_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "setup_reps_wall_s": setup["total"], "setup_reps_cpu_s": setup["cpu"],
        "pass_walls_s": walls,
        "serving_rates": serve.get("serving.rates"),
        "checks": ctx.checks,
    }
    print("# detail " + json.dumps(detail, default=str))
    for name, unit in {**E2E, **PER_LAYER}.items():
        print(f"# {name:36s} {e2e.get(name, layer.get(name)):14.6g} {unit}")
    values, units = (layer, PER_LAYER) if trace else (e2e, E2E)
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.1, help="0.1 = benchmark, 0.001 = smoke")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — a failed run prints no result
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
