"""sparksearch benchmark: one seeded workload, timed, checked, reported.

    python3 perfbench/run.py --workload {build,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout (the ``sparksearch`` package sits next to
``perfbench/``).  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from a traced run (see NOTES.md).  Everything the run
writes lives under ``.bench_tmp/`` in the checkout and is deleted at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.trace import descendants  # noqa: E402

DEADLINE_S = 170  # a run must end within 180 s

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "index_bytes_per_doc_byte": "ratio",
    "peak_mem_mb": "MB",
}


def _kill_tree() -> None:
    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in pids:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _watchdog() -> None:
    print(f"perfbench: run exceeded {DEADLINE_S} s, aborting", file=sys.stderr, flush=True)
    _kill_tree()
    os._exit(3)


def spark_session(work: str, cores: int, event_log: str | None):
    from sparksearch.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # pinned so the JVM's footprint does not follow the 8g default
        "spark.driver.memory": "2g",
        "spark.local.dir": f"{work}/local",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_ops(wl, seconds: float, n_ops: int | None = None):
    """Run ops until ``seconds`` have passed (or exactly ``n_ops`` ops).
    Returns (wall per op, items, indices of ops that raised)."""
    walls, raised = [], []
    items = 0
    t_start = time.perf_counter()
    i = 0
    while (n_ops is None and (i == 0 or time.perf_counter() - t_start < seconds)) or (
        n_ops is not None and i < n_ops
    ):
        t = time.perf_counter()
        try:
            items += wl.op(i)
        except Exception:
            traceback.print_exc()
            raised.append(i)
        walls.append(time.perf_counter() - t)
        i += 1
    return walls, items, raised


def run(workload: str, seed: int, seconds: float, trace: bool, scale: str, work: str) -> dict:
    from perfbench import layers
    from perfbench.trace import MemSampler, Tracer, host_steal
    from perfbench.workloads import SIZES, WORKLOADS

    cores = len(os.sched_getaffinity(0))
    mem = MemSampler().start()
    spark = spark_session(work, cores, None)
    wl = WORKLOADS[workload](work, seed, SIZES[scale])
    wl.setup(spark)
    wl.bind(spark, Tracer())
    setup_s = time.perf_counter() - T0

    # memory peaks cover the timed ops only: not set-up, not the gate
    mem.reset()
    steal0 = host_steal()
    walls, items, raised = timed_ops(wl, seconds / 3 if trace else seconds)
    steal1 = host_steal()
    mb = mem.stop()
    steal_pct = 100 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    with open("/proc/loadavg") as f:
        load = f.read().split()[0]  # 1-minute load of the whole host, this run included
    print(
        f"perfbench: setup {setup_s:.2f} s, host steal {steal_pct:.1f}%, host load {load}, "
        f"op walls {[round(w, 3) for w in walls]}, "
        f"memory {json.dumps(mb)}",
        file=sys.stderr,
    )
    failed = set(raised) | set(wl.gate())
    attempted = len(walls)

    if not trace:
        stop_jvm(spark)
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(walls),
            "items_per_s": items / sum(walls),
            "index_bytes_per_doc_byte": wl.index_ratio,
            "peak_mem_mb": mb["driver_mb"] + mb["py_worker_mb"],
        }
        units = END_TO_END_UNITS
    else:
        # Replay the same ops traced (B), then untraced again (A'), each in
        # a fresh Spark context after a fresh warm-up.  Tracing overhead is
        # B against the mean of A and A', so JVM warm-up between the passes
        # cancels to first order.
        log_dir = f"{work}/eventlog"
        untraced = [sum(walls)]
        for traced in (True, False):
            spark.stop()
            spark = spark_session(work, cores, log_dir if traced else None)
            tracer = Tracer(spark.sparkContext) if traced else Tracer()
            wl.bind(spark, tracer)
            pass_walls, _, pass_raised = timed_ops(wl, 0, n_ops=len(walls))
            failed |= {attempted + i for i in set(pass_raised) | set(wl.gate())}
            attempted += len(pass_walls)
            if traced:
                spans, traced_wall = tracer.spans, sum(pass_walls)
            else:
                untraced.append(sum(pass_walls))
        stop_jvm(spark)
        metrics = layers.layer_metrics(wl, spans, log_dir, traced_wall)
        metrics["trace.overhead_ratio"] = traced_wall / statistics.fmean(untraced)
        metrics["proc.jvm_peak_mb"] = mb["jvm_mb"]
        metrics["proc.py_worker_peak_mb"] = mb["py_worker_mb"]
        units = layers.UNITS
    return {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full", help="tiny: self-test sizes")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparksearch", "__init__.py")):
        print(f"perfbench: no sparksearch package in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    # everything Spark, Python and the workers write stays in the run dir;
    # workers import sparksearch from the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # both JVMs (spark-submit's launcher and the driver): no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    timer = threading.Timer(DEADLINE_S - (time.perf_counter() - T0), _watchdog)
    timer.daemon = True
    timer.start()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale, work)
    finally:
        _kill_tree()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
        timer.cancel()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
