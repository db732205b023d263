"""Benchmark entry point; run it from the root of a checkout:

    python3 perfbench/run.py --workload {registry,doc_etl} \\
        --seed N --seconds S --trace {0,1}

One run generates its inputs from the seed under a per-run root inside
the checkout (tables, request documents, lake, notification spool,
Spark local and temp dirs), measures for ``--seconds`` seconds on
``local[<cores>]``, checks every operation's output outside the timed
region, removes the run root, stops the JVM it started and prints one
JSON result as its last stdout line. The line before it carries sample
counts and, with ``--trace 1``, the per-module and per-layer breakdown;
the traced run also writes its spans to ``.perfbench/trace-*.json``.

``--trace 0`` reports the end-to-end metrics (tracing off): setup_s
(the run's one cold session start, JVM launch included, plus warmup),
first_pass_s
(the cold pass), wall_s (median warm pass, the sum of its operation
latencies), op_geomean_s (geometric mean of warm operation latencies),
items_per_s (queries or documents completed per second of operation
time), ok_frac (share of operations that completed with correct
output). Every run settles the JIT with one untimed pass after the
cold one (a doc_etl pass is one batch), then measures two warm passes.

No latency percentile is reported: a run has 22 registry or two
doc_etl warm operations, too few samples beyond a p90 to bound it, and
the registry's median jumps between the cost levels of its eleven
distinct queries (it spread 15-18% across seeds, the geometric mean
10%); the detail line lists every warm operation's latency instead.
Driver JVM memory (heap retained after a full GC, peak RSS)
rides the detail line: it moved by 2x between runs of one seed, too
far for a bound.

``--trace 1`` reports per-operation means of the layer metrics from
warm traced passes, cold_build_s from the traced cold pass, the driver
JVM memory, and the tracing overhead: two traced against two untraced
warm passes of the same run, in A-B-B-A order after the settle pass,
so that warm-up drift and the doc_etl lake's growth cancel out of it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "sbs_suptech_etl_v2_spark")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("registry", "doc_etl"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(run_root: str) -> dict[str, str]:
    """Point every writer at the run root; returns Spark conf for launch."""
    tmp = os.path.join(run_root, "tmp")
    local = os.path.join(run_root, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Python workers import the package from this checkout
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_SHUFFLE"):
        os.environ.pop(var, None)
    from sbs_suptech_etl_v2_spark.session import driver_mem_from

    # a heap pinned from MemTotal, not from what happens to be free
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem_from("MemTotal") or "4g"
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_jvm() -> None:
    """Stop the SparkContext and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def measure(workload: str, seed: int, seconds: float, traced: bool, run_root: str, conf, sizes):
    import datagen
    import workloads as W
    from spans import SparkStores, Tracer

    phases = {}
    mark = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    data = os.path.join(run_root, "tables")
    datagen.write_tables(data, seed, sizes.table_sf)
    phase("inputs")

    spark, start_s, setup_s = W.setup(data, conf)
    if workload == "doc_etl":
        ops = W.DocEtlOps(spark, run_root, seed, sizes.batch_docs)
    else:
        ops = W.QueryOps(spark, data, W.REGISTRY, seed)

    phase("setup")
    tracer = Tracer() if traced else None
    if traced:
        tracer.install()
    first = W.run_pass(ops, "p0", tracer)
    phase("first_pass")
    # one untraced, untimed pass settles the JVM before anything is
    # measured: the JIT still compiles through the first passes after the
    # cold one (registry pass times fell 8.6, 7.1, 6.2 s in one run; the
    # first warm doc_etl batch ran 10-30% slower than the next two). A
    # registry run materializes this pass with collect() and keeps the
    # rows for the oracle check, so no query runs an extra time for it.
    if traced:
        tracer.uninstall()
    if workload == "registry":
        ops.keep_rows = True
    settled = W.run_pass(ops, "s", None)
    if workload == "registry":
        ops.keep_rows = False
    phase("settle")
    plain: list[list] = []
    traced_passes: list[list] = []
    t0 = time.perf_counter()
    k = 1
    # traced runs measure untraced (A) and traced (B) passes in A-B-B-A
    # order, so that the remaining drift cancels out of the overhead
    need = sizes.min_passes
    enough = lambda: min(len(plain), len(traced_passes) if traced else need) >= need  # noqa: E731
    while not enough() or time.perf_counter() - t0 < seconds:
        use_tracer = traced and k % 4 in (2, 3)
        if traced:
            (tracer.install if use_tracer else tracer.uninstall)()
        (traced_passes if use_tracer else plain).append(
            W.run_pass(ops, f"p{k}", tracer if use_tracer else None)
        )
        k += 1
    phase("warm_passes")
    live_mb, hwm_mb = W.jvm_memory_mb(spark)
    phase("memory")
    bad = ops.check()
    ops.close()
    phase("check")
    records = first + settled + [r for p in plain + traced_passes for r in p]
    failed = [r.item for r in records if not r.ok or r.item in bad]
    lat = [r.wall_s for p in plain for r in p]
    walls = [sum(r.wall_s for r in p) for p in plain]
    per_item: dict[str, list[float]] = {}
    for p in plain:
        for r in p:
            per_item.setdefault(str(r.item), []).append(r.wall_s)
    detail = {
        "workload": workload,
        "seed": seed,
        "trace": int(traced),
        "samples": {"setups": 1, "settle_passes": 1, "warm_passes": len(plain), "warm_ops": len(lat)},
        "failed_items": sorted({str(i) for i in failed}),
        "phase_s": phases,
        "warm_pass_s": walls,
        "warm_op_s": per_item,
        "jvm.live_mb": live_mb,
        "jvm.hwm_mb": hwm_mb,
    }
    if not traced:
        items = sum(ops.items(r.item) for p in plain for r in p)
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            "first_pass_s": _metric(sum(r.wall_s for r in first), "s"),
            "wall_s": _metric(statistics.median(walls), "s"),
            "op_geomean_s": _metric(math.exp(statistics.fmean(math.log(x) for x in lat)), "s"),
            "items_per_s": _metric(items / sum(lat), "1/s"),
            "ok_frac": _metric(1 - len(failed) / len(records), "frac"),
        }
    else:
        stores = SparkStores(spark)
        cold = W.attribute(ops, tracer, stores, first)
        rows = W.attribute(ops, tracer, stores, [r for p in traced_passes for r in p])
        traced_walls = [sum(r.wall_s for r in p) for p in traced_passes]
        layers = {
            **W.layer_summary(rows),
            "session.start_s": start_s,
            "jvm.live_mb": live_mb,
            "jvm.hwm_mb": hwm_mb,
            "cold_build_s": statistics.fmean(r["build_s"] for r in cold),
            "trace.overhead_pct": 100 * (statistics.median(traced_walls) / statistics.median(walls) - 1),
        }
        metrics = {k: _metric(layers[k], unit) for k, unit in W.PER_LAYER.items()}
        breakdown = W.doc_summary(rows) if workload == "doc_etl" else W.module_summary(rows)
        detail["layers"] = {**layers, **breakdown}
        trace_dir = os.path.join(ROOT, ".perfbench")
        with open(os.path.join(trace_dir, f"trace-{workload}-{seed}.json"), "w") as fh:
            json.dump(
                {
                    "detail": detail,
                    "metrics": metrics,
                    "cold_ops": cold,
                    "warm_ops": rows,
                    "spans": [s.__dict__ for s in tracer.spans],
                },
                fh,
                default=str,
            )
        tracer.uninstall()
    result = {
        "correct": not failed,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": metrics,
    }
    return result, detail


def run_once(workload: str, seed: int, seconds: float, traced: bool, sizes):
    """One measured run in a fresh run root; returns (result, detail)."""
    for path in (ROOT, HERE):
        if path not in sys.path:
            sys.path.insert(0, path)
    run_root = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    try:
        conf = _environment(run_root)
        return measure(workload, seed, seconds, traced, run_root, conf, sizes)
    finally:
        _stop_jvm()
        shutil.rmtree(run_root, ignore_errors=True)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: package directory {PKG_DIR} not found; run from a checkout", file=sys.stderr)
        return 2
    from workloads import Sizes

    result, detail = run_once(args.workload, args.seed, args.seconds, bool(args.trace), Sizes())
    print(json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
