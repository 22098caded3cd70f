"""Worktree A/B re-timing — the adjudication protocol for bench flags.

When a query trips the regression gate, the question is always "did
the CODE get slower, or the RIG?".  This tool answers it reproducibly
and leaves an auditable record (ADVICE r04: raw A/B measurements must
be checked into the repo, not summarized in prose):

- checks out the anchoring commit into a detached git worktree;
- runs the flagged queries in ALTERNATING fresh-process sessions
  (A, B, A, B — decorrelates the box's slow epochs from the side), N
  repeats per session, with the SAME synthetic calibration plan as
  bench.py timed in every session (so each sample carries rig
  context even for commits that predate the calibration machinery);
- appends one JSON line per invocation to ``bench_ab/bench_ab.jsonl``
  with both shas, every raw sample, and every calibration reading.

Verdict rule of thumb: if min-over-sessions(ref) ≈ min(HEAD), the rig
drifted and the anchor is stale; if min(HEAD) ≫ min(ref) across
alternating sessions, the regression is real code.

Usage:
    python scripts/bench_ab.py --ref <sha> --queries q1,q2 \
        [--repeats 3] [--sessions 2] [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# Runner executed with cwd = one side's checkout.  Only REGISTRY and
# get_spark come from that side's code; the calibration plan is
# inlined here (identical literals to bench.py::calibration_sec) so
# commits that predate it still emit rig context.
_RUNNER = r"""
import json, sys, time
sys.path.insert(0, ".")
from pyspark.sql import functions as F
from olist_ecommerce_data_warehouse_spark.plans import REGISTRY
from olist_ecommerce_data_warehouse_spark.session import get_spark

queries = sys.argv[1].split(",")
sf_dir = sys.argv[2]
repeats = int(sys.argv[3])

try:
    from olist_ecommerce_data_warehouse_spark.plans.registry import (
        release_stale_checkpoints,
    )
except ImportError:  # older commits
    def release_stale_checkpoints(spark):
        pass

def sweep_ivf_indexes():
    # bench.py's first-build hygiene (round 11), mirrored here so BOTH
    # A/B sides pay the IVF index build in every sample; older commits
    # without clear_centroid_cache just get the dir sweep.  The side's
    # .scratch is resolved from its package, as session.py::_REPO_ROOT
    # is, not from the working directory
    import os, shutil
    import olist_ecommerce_data_warehouse_spark as pkg
    root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    scratch = os.path.join(root, ".scratch")
    if os.path.isdir(scratch):
        for n in os.listdir(scratch):
            if n.startswith("ivf_index_"):
                shutil.rmtree(os.path.join(scratch, n), ignore_errors=True)
    try:
        from olist_ecommerce_data_warehouse_spark.operators.ann_index import (
            _CENTROID_CACHE,
        )
        _CENTROID_CACHE.clear()
    except ImportError:
        pass

spark = get_spark("bench_ab")

def run_plan(name):
    release_stale_checkpoints(spark)
    sweep_ivf_indexes()
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    df = REGISTRY[name].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 4)

def cal():
    def one():
        t0 = time.perf_counter()
        df = (
            spark.range(0, 8000000)
            .select((F.col("id") % 1000003).alias("k"),
                    (F.xxhash64(F.col("id").cast("string")) % 1000000).alias("h"))
            .groupBy("k").agg(F.sum("h").alias("s"), F.count("*").alias("c"))
            .agg(F.sum(F.col("s") + F.col("c")).alias("t"))
        )
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    one()
    return round(min(one() for _ in range(3)), 4)

run_plan("flagship_revenue_by_brand")  # warmup
out = {"cal_start": cal(),
       "runs": {q: [run_plan(q) for _ in range(repeats)] for q in queries}}
out["cal_end"] = cal()
print("AB_RESULT " + json.dumps(out))
spark.stop()
"""


def _sh(*args: str, cwd: Path | None = None) -> str:
    return subprocess.check_output(args, cwd=cwd or REPO, text=True).strip()


def run_session(side_dir: Path, queries: list[str], sf_dir: str, repeats: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNER, ",".join(queries), sf_dir, str(repeats)],
        cwd=side_dir,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("AB_RESULT "):
            return json.loads(line[len("AB_RESULT ") :])
    raise RuntimeError(f"runner produced no result; stderr tail:\n{proc.stderr[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", required=True, help="anchoring commit to A/B against")
    ap.add_argument("--queries", required=True, help="comma-separated query names")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sessions", type=int, default=2, help="sessions PER side")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=str(REPO / "bench_ab" / "bench_ab.jsonl"))
    args = ap.parse_args()

    queries = args.queries.split(",")
    head_sha = _sh("git", "rev-parse", "HEAD")
    ref_sha = _sh("git", "rev-parse", args.ref)
    wt = Path(f"/tmp/bench_ab_{ref_sha[:12]}")
    if not wt.exists():
        _sh("git", "worktree", "add", "--detach", str(wt), ref_sha)

    record = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "head": head_sha,
        "ref": ref_sha,
        "sf_dir": args.sf_dir,
        "repeats": args.repeats,
        "queries": queries,
        "sessions": [],
    }
    try:
        for i in range(args.sessions):
            for side, path in (("ref", wt), ("head", REPO)):
                res = run_session(path, queries, args.sf_dir, args.repeats)
                record["sessions"].append({"side": side, **res})
                print(json.dumps({"side": side, **res}))
    finally:
        _sh("git", "worktree", "remove", "--force", str(wt))

    def best(side: str, q: str) -> float:
        return min(
            min(s["runs"][q]) for s in record["sessions"] if s["side"] == side
        )

    record["verdict"] = {
        q: {
            "ref_best": best("ref", q),
            "head_best": best("head", q),
            "head_over_ref": round(best("head", q) / best("ref", q), 3),
        }
        for q in queries
    }
    out_path = Path(args.out)
    out_path.parent.mkdir(exist_ok=True)
    with out_path.open("a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record["verdict"], indent=2))


if __name__ == "__main__":
    main()
