"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout and builds nothing: it generates the
workload's inputs from ``--seed`` under ``perfbench/.work/``, sets up
the engine's Spark session on ``local[4]`` three times (the first one
launches the JVM; ``setup_s`` is their median), then runs whole passes
of the workload as a single closed-loop client — at least one, and
another while it still fits in ``--seconds`` — and checks every
operation's output.  Untraced (``--trace 0``) it reports the end-to-end
metrics; traced (``--trace 1``) the per-layer split, with the spans
written to ``perfbench/.out/``.  The last stdout line is the JSON
result; a human-readable table precedes it.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "olist_ecommerce_data_warehouse_spark"
CORES = 4


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("warehouse", "llm"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Launch hygiene, before the JVM starts: executor-side Python
    workers inherit ``PYTHONPATH`` from the JVM's environment, so they
    can import the package whatever the working directory; Spark's
    scratch space and every temp file stay inside the checkout."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_MASTER", None)  # always local[CORES]


def _import_engine(batches):
    import olist_ecommerce_data_warehouse_spark.plans  # noqa: F401  (imports every operator)

    yield from batches


def warm_up(spark) -> None:
    """Session warm-up: one shuffle aggregate (codegen) and one
    mapInPandas per core that forks the Python workers, initialises
    Arrow and imports the engine in each worker."""
    spark.range(0, 100_000, numPartitions=CORES).selectExpr("id % 97 AS k").groupBy(
        "k"
    ).count().collect()
    spark.range(0, CORES, numPartitions=CORES).mapInPandas(_import_engine, "id long").collect()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    # ---- session set-up, three times; the first launches the JVM.
    # The package imports count as set-up; the inputs and the oracles
    # do not (the oracles overlap only the first, cold set-up).
    setups = []
    t0 = time.perf_counter()
    from olist_ecommerce_data_warehouse_spark.session import get_spark
    from perfbench import gen, metrics, workloads
    from perfbench.trace import Clock, Tracer

    wl = workloads.WORKLOADS[args.workload]
    t_inputs = time.perf_counter()
    star_dir = os.path.join(work, "star")
    star = gen.star_tables(star_dir, args.seed, workloads.STAR_SF)
    raw_dir, manifest, input_b = workloads.make_inputs(wl, work, args.seed)
    t0 += time.perf_counter() - t_inputs
    oracle: dict = {}
    oracle_thread = threading.Thread(
        target=lambda: oracle.update(workloads.oracle_rows(star_dir, wl.plans))
    )
    oracle_thread.start()
    spark = None
    for i in range(3):
        if i:
            t0 = time.perf_counter()
            spark.stop()
        spark = get_spark("perfbench", cpus=CORES)
        t1 = time.perf_counter()
        warm_up(spark)
        setups.append((t1 - t0, time.perf_counter() - t1))
        if i == 0:
            oracle_thread.join()  # later set-ups and all passes run alone

    # ---- passes
    clock = Tracer(spark) if args.trace else Clock()
    passes = []  # (ops, root spans, layer metrics)
    started = time.perf_counter()
    while True:
        pass_dir = os.path.join(work, f"pass{len(passes)}")
        overhead0 = getattr(clock, "overhead_s", 0.0)
        ops, roots, results, pipe = workloads.run_pass(
            spark, clock, wl, star_dir, raw_dir, pass_dir
        )
        workloads.check_pass(ops, results, oracle, pipe, wl, manifest)
        layers = None
        if args.trace:
            layers = metrics.pass_layers(clock, roots, getattr(pipe, "progress", []),
                                         input_b / 1e6)
            layers["trace.overhead_s"] = clock.overhead_s - overhead0
        passes.append((ops, roots, layers))
        shutil.rmtree(pass_dir, ignore_errors=True)
        elapsed = time.perf_counter() - started
        if elapsed + sum(r.wall_s for r in roots) > args.seconds:
            break

    if args.trace:
        scan_s = workloads.scan_inputs(spark, clock, star_dir, raw_dir, wl)

    # ---- metrics
    ops = [op for p in passes for op in p[0]]
    failed = [op for op in ops if not op.ok]
    for op in failed:
        print(f"FAILED {op.name}: {op.error}", file=sys.stderr)
    plan_walls = [r.wall_s for p in passes for r in p[1] if r.name.startswith("plan.")]
    peak_rss = jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def per_pass(keep) -> float:
        return metrics.median([sum(r.wall_s for r in p[1] if keep(r.name)) for p in passes])

    values = {
        "setup_s": metrics.median([a + b for a, b in setups]),
        "wall_s": per_pass(lambda name: True),
        "etl_s": per_pass(lambda name: not name.startswith("plan.")),
    }
    query_s = per_pass(lambda name: name.startswith("plan."))
    units = metrics.END_TO_END
    if args.trace:
        values = {
            k: metrics.median([p[2][k] for p in passes]) for k in metrics.PER_LAYER
        }
        values["session.start_s"] = metrics.median([a for a, _ in setups])
        values["session.cold_start_s"] = setups[0][0]
        values["session.warmup_s"] = metrics.median([b for _, b in setups])
        values["catalog.scan_s"] = scan_s
        values["memory.peak_rss_mb"] = peak_rss
        units = metrics.PER_LAYER
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        with open(os.path.join(HERE, ".out", f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
            json.dump(clock.records(), f)

    print(f"workload {args.workload}  seed {args.seed}  passes {len(passes)}  "
          f"data: {sum(v['rows'] for v in star.values())} star rows")
    for k, v in values.items():
        print(f"  {k:34s} {v:14.4f} {units[k]}")
    if not args.trace:
        inc = [r.wall_s for p in passes for r in p[1] if r.name == "streaming.increment"]
        print(f"  {'query_s':34s} {query_s:14.4f} s")
        print(f"  {'query_p50_s':34s} {metrics.median(plan_walls):14.4f} s")
        tail = metrics.tail_percentile(len(plan_walls))
        if tail:
            print(f"  {f'query_p{tail:g}_s':34s} {metrics.percentile(plan_walls, tail):14.4f} s")
        print(f"  {'query.samples':34s} {len(plan_walls):14d} count")
        print(f"  {'peak_rss_mb':34s} {peak_rss:14.4f} MB")
        print(f"  {'increment_s':34s} " + (f"{metrics.median(inc):14.4f} s" if inc else "n/a"))
    print(f"  {'failed_frac':34s} {len(failed) / max(len(ops), 1):14.4f} ratio")
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result), flush=True)

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
