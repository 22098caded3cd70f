"""Tests of the benchmark's own code: interval union and driver gap,
the percentile rule, generator determinism, metric names, and one
small traced run of each workload.

Run with ``python3 -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

from perfbench import gen, metrics
from perfbench.trace import Job, Span, clipped, union_s

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _job(start, end):
    return Job(0, start, end, tasks=1, failed_tasks=0)


def test_union_of_disjoint_overlapping_and_nested_intervals():
    assert union_s([]) == 0.0
    assert union_s([(0, 1), (2, 3)]) == 2.0
    assert union_s([(0, 2), (1, 3)]) == 3.0
    assert union_s([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert union_s([(5, 6), (0, 1), (0.5, 2)]) == 3.0
    assert union_s([(0, 1), (1, 2)]) == 2.0  # touching intervals


def test_clipping_keeps_only_the_span_window():
    assert clipped([(-1, 1), (2, 3), (9, 12), (20, 30)], 0, 10) == [(0, 1), (2, 3), (9, 10)]


def test_driver_gap_is_wall_minus_job_union():
    span = Span(0, "plan.x", None, start=100.0, end=110.0)
    jobs = [_job(101, 103), _job(102, 104), _job(108, 112)]
    gap, union = metrics.gap_and_union(span, jobs)
    assert union == pytest.approx(5.0)  # [101,104] + [108,110]
    assert gap == pytest.approx(5.0)
    assert gap + union == pytest.approx(span.wall_s)


def test_driver_gap_without_jobs_is_the_whole_wall():
    span = Span(0, "plan.x", None, start=0.0, end=2.5)
    assert metrics.gap_and_union(span, []) == (2.5, 0.0)


@pytest.mark.parametrize(
    "n, expected",
    [(1, None), (99, None), (100, 90), (999, 90), (1000, 99), (9_999, 99), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond_it(n, expected):
    assert metrics.tail_percentile(n) == expected


def test_nearest_rank_percentile_and_median():
    values = [float(v) for v in range(1, 101)]
    assert metrics.percentile(values, 50) == 50.0
    assert metrics.percentile(values, 90) == 90.0
    assert metrics.percentile([3.0], 99) == 3.0
    assert metrics.median([3.0, 1.0, 2.0]) == 2.0
    assert metrics.median([]) == 0.0


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for base, _dirs, files in os.walk(directory):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, directory)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize(
    "make",
    [
        lambda d, seed: gen.star_tables(d, seed, 0.001),
        lambda d, seed: gen.olist_csvs(d, seed, 300),
        lambda d, seed: gen.corpus_jsonl(d, seed, 200),
    ],
    ids=["star", "olist", "corpus"],
)
def test_generators_are_deterministic_per_seed(tmp_path, make):
    m1 = make(str(tmp_path / "a"), 7)
    m2 = make(str(tmp_path / "b"), 7)
    m3 = make(str(tmp_path / "c"), 8)
    assert m1 == m2
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_olist_quirks_are_injected(tmp_path):
    m = gen.olist_csvs(str(tmp_path), 3, 500)
    products = (tmp_path / "products.csv").read_text(encoding="utf-8")
    reviews = (tmp_path / "order_reviews.csv").read_text(encoding="utf-8")
    orders = (tmp_path / "orders.csv").read_text(encoding="utf-8")
    assert '"' in products and "abc" in products  # decimal commas quoted, garbage
    assert "not-a-date" in orders
    assert m["order_reviews"]["rows"] > m["expected_silver"]["order_reviews"]  # dup ids
    assert any(line.count('"') % 2 for line in reviews.splitlines())  # multi-line field
    assert m["geolocation"]["rows"] > 5 * m["expected_silver"]["geolocation"]
    assert m["expected_silver"]["customers"] < m["customers"]["rows"]  # empty ids


def test_corpus_increment_holds_injected_duplicates(tmp_path):
    m = gen.corpus_jsonl(str(tmp_path), 5, 400)
    assert m["history"]["rows"] == 360 and m["history"]["corrupt"] == 3
    assert m["increment"]["rows"] == 40 + 2 * 8


def test_metric_names_units_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layers == metrics.PER_LAYER
    names = list(e2e) + list(layers) + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.NAME_RE.match(name), name
    for unit in list(e2e.values()) + list(layers.values()):
        assert metrics.UNIT_RE.match(unit), unit
    assert "setup_s" in e2e and e2e["setup_s"] == "s"
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"
    )
    assert not metrics.NAME_RE.match("_x") and not metrics.NAME_RE.match("a b")
    assert not metrics.UNIT_RE.match("per second")


@pytest.mark.parametrize("workload", ["warehouse", "llm"])
def test_traced_smoke_run(workload):
    """One traced pass of each workload: every output correct, every
    per-layer metric present, and driver gap + job union == traced wall."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == set(metrics.PER_LAYER)
    assert m["spark.driver_gap_s"] + m["spark.job_union_s"] == pytest.approx(
        m["trace.wall_s"], rel=1e-6
    )
    assert m["spark.jobs"] > 0 and m["spark.failed_tasks"] == 0
    stage = "pipeline.medallion.silver_s" if workload == "warehouse" else "pipeline.corpus.silver_dedup_s"
    assert m[stage] > 0


def test_fails_without_the_program(tmp_path):
    """Copied alone, the benchmark exits non-zero and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "warehouse",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()
