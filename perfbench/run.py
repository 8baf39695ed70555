"""Benchmark entry point.

    python3 perfbench/run.py --workload suite_sf0.1 --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One fresh process, one client thread, a
closed loop (the next operation starts when the previous one returns) on
``local[n]`` with n = min(4, nproc). The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``; the per-layer metrics from
spans with ``--trace 1``). Progress and diagnostics go to standard error.
Everything the run writes stays under ``.perfbench/`` in the checkout.
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
SCRATCH = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("suite_sf0.1", "backtest_loop")
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "4g"  # below a 15 GiB host's RAM; the package default (16g) is not


class Ctx:
    """State one run passes between its phases."""

    def __init__(self, args, workdir: str, ops, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.workdir = workdir
        self.scratch = SCRATCH
        self.root = ROOT
        self.ops = ops
        self.tracer = tracer
        self.log = sys.stderr
        self.spark = None


def _size_env(workdir: str) -> None:
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-simtrade benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "simtradedata_spark", "session.py")):
        print(f"no simtradedata_spark package under {ROOT}", file=sys.stderr)
        return 2
    workdir = os.path.join(SCRATCH, f"run-{os.getpid()}")
    _size_env(workdir)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        return _run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _run(args, workdir: str) -> int:
    from harness import Ops, jvm_peak_rss_mb, p90, process_age_s

    t0 = time.perf_counter()
    age0 = process_age_s()
    tracer = None
    if args.trace:
        from spans import Tracer, install

        tracer = Tracer()
        install(tracer)
    ops = Ops(tracer)
    ctx = Ctx(args, workdir, ops, tracer)
    if args.workload == "suite_sf0.1":
        import suite as workload
    else:
        import backtest as workload

    from simtradedata_spark import session

    ctx.spark = session.get_spark(
        "perfbench",
        cpus=CORES,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                # keep the JIT compiler threads alive so jit_cpu_s sees all their time
                "-XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )
    _log(t0, "session up")
    ops.jvm_pid = ctx.spark.sparkContext._gateway.proc.pid
    try:
        if tracer is not None:
            tracer.attach(ctx.spark)
        with ops.span("setup"):
            workload.setup(ctx)
        setup_s = age0 + (time.perf_counter() - t0)
        _log(t0, "set-up done")
        jit0 = ops.jit_s()
        res = workload.run(ctx)
        jit_s = ops.jit_s() - jit0
        _log(t0, "timed phase and checks done")
        rss = jvm_peak_rss_mb(ctx.spark)
        walls = [w for w, _ in res["passes"]]
        cpu_s = statistics.median(c for _, c in res["passes"])
        if tracer is not None:
            from spans import layer_metrics

            lat_ms = [w * 1000.0 for w in res["ops"]]
            extra = {
                "client.wall_s": statistics.median(walls),
                "client.cpu_s": cpu_s,
                "client.jit_cpu_s": jit_s,
                "client.op_p50_ms": statistics.median(lat_ms),
                "client.op_p90_ms": p90(lat_ms),
                "client.jvm_peak_rss_mb": rss,
                "sources.files_written": 0,
                "sources.rows_written": 0,
                "sources.warehouse_mb": 0.0,
            }
            if hasattr(ctx, "wh"):
                extra.update(_warehouse_stats(ctx.wh.root))
            metrics = layer_metrics(tracer, CORES, extra)
            tracer.dump(os.path.join(SCRATCH, f"trace-{args.workload}-seed{args.seed}.json"))
            units = _layer_units()
            missing = set(units) - set(metrics)
            if missing:
                raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
            out = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
        else:
            out = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cpu_s": {"value": cpu_s, "unit": "s"},
            }
        print(
            f"{args.workload} seed={args.seed}: {len(walls)} passes, "
            f"{res['attempted']} ops, {res['failed']} failed, setup {setup_s:.1f}s, "
            f"pass {statistics.median(walls):.2f}s wall {cpu_s:.2f}s CPU, "
            f"JIT {jit_s:.1f}s CPU, "
            f"JVM peak RSS {rss:.0f} MB",
            file=sys.stderr,
        )
    finally:
        _stop(ctx.spark)
        _log(t0, "Spark stopped")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": out,
    }))
    return 0


def _log(t0: float, msg: str) -> None:
    print(f"[{time.perf_counter() - t0:7.2f}s] {msg}", file=sys.stderr)


def _warehouse_stats(root: str) -> dict[str, float]:
    """Files, rows (from parquet footers) and bytes the build stored."""
    import pyarrow.parquet as pq

    files = rows = size = 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            size += os.path.getsize(p)
            if n.endswith(".parquet"):
                files += 1
                rows += pq.read_metadata(p).num_rows
    return {
        "sources.files_written": files,
        "sources.rows_written": rows,
        "sources.warehouse_mb": size / (1024 * 1024),
    }


def _layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
