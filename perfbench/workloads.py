"""The benchmark's two workloads and the checks on their outputs.

A workload is one fixed set of operations run as a *pass*: one run
of a pipeline into an empty directory, then registry plans in a fixed
order, each ending in a collect of its result.  An operation is a
plan, a pipeline stage or a streamed micro-batch; each one is checked
and counts toward ``attempted`` and, when it raises or its output is
wrong, ``failed``.

- ``warehouse`` — the JVM path: the medallion pipeline's CSV → bronze
  → silver → gold write path, then star-schema SQL, cleansing and gold
  plans.  Python workers do no work here, so it is the control for
  any Arrow, kernel or driver-loop change.
- ``llm`` — the Python path: the training-corpus pipeline with its
  streamed increment, then the iterative LLM-data plan of ROADMAP
  item 2 with the largest driver-side gap (43 jobs, ``track_persist``
  caches, ``mapInPandas`` kernels).
"""

from __future__ import annotations

import os
import shutil
import sys
from dataclasses import dataclass

from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.catalog import TABLES, table
from olist_ecommerce_data_warehouse_spark.operators.ann_index import clear_centroid_cache
from olist_ecommerce_data_warehouse_spark.pipeline.corpus import DOC_SCHEMA, CorpusPipeline
from olist_ecommerce_data_warehouse_spark.pipeline.medallion import (
    BRONZE_COLUMNS,
    SILVER_ORDER,
    MedallionPipeline,
)
from olist_ecommerce_data_warehouse_spark.plans import REGISTRY
from olist_ecommerce_data_warehouse_spark.plans.registry import release_stale_checkpoints
from olist_ecommerce_data_warehouse_spark.sources.csv import read_csv_bronze
from olist_ecommerce_data_warehouse_spark.sources.jsonl import read_jsonl
from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The plan sets are sized so that 48 runs of both workloads fit the
# benchmark's time budget on four cores (see README.md).  Warehouse:
# one or two plans from six of the seven warehouse-side registry
# modules (not ingest), including the ROADMAP item-2 plan
# gold_fact_lineitem.  LLM: the item-2 plan with the largest
# driver-side gap.
WAREHOUSE_PLANS = (
    "flagship_revenue_by_brand", "sk_resolution_chain", "cleanse_decimal_comma",
    "surrogate_keys", "gold_fact_lineitem", "skew_salted_join",
    "events_sessionization",
)
LLM_PLANS = ("corpus_mixing",)
STAR_SF = 0.001  # the tier-1 test tier: 6,000 line items
OLIST_ORDERS = 2_000
CORPUS_DOCS = 1_000


@dataclass
class Op:
    name: str
    kind: str  # plan | stage | batch
    ok: bool = True
    error: str = ""


@dataclass
class Workload:
    name: str
    plans: tuple[str, ...]
    pipeline: str  # medallion | corpus


WORKLOADS = {
    "warehouse": Workload("warehouse", WAREHOUSE_PLANS, "medallion"),
    "llm": Workload("llm", LLM_PLANS, "corpus"),
}


# ------------------------------------------------------------- oracles


def oracle_rows(star_dir: str, plans: tuple[str, ...]) -> dict[str, list[tuple]]:
    """Canonical DuckDB oracle rows per plan.  Plans with a linear
    replay in ``scripts/scale_oracles.py`` use it (the naive recursive
    CTE of ``sequence_packing`` alone dominates the oracle total)."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from scale_oracles import SCALE_ORACLES
    from tests.conftest import canonical_rows

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
    out = {}
    for name in plans:
        if name in SCALE_ORACLES:
            pdf = SCALE_ORACLES[name](con)
        else:
            pdf = con.execute(REGISTRY[name].oracle).df()
        out[name] = canonical_rows(pdf)
    con.close()
    return out


def check_plan(pdf, expected: list[tuple]) -> str:
    from tests.conftest import canonical_rows

    got = canonical_rows(pdf)
    if got == expected:
        return ""
    diff = next((a, b) for a, b in zip(got + [()], expected + [()]) if a != b)
    return f"{len(got)} rows vs {len(expected)} oracle rows; first difference {diff}"[:500]


def _err(e: BaseException) -> str:
    return f"{type(e).__name__}: {e}"[:500]


# ------------------------------------------------------------- hygiene


def between_plans(spark) -> None:
    """Session hygiene between plans, as ``bench.py::run_plan`` does:
    free tracked persists, sweep the content-addressed IVF index and
    the centroid cache (so every run pays the index build it reports),
    and collect JVM garbage of the previous plan.  Restated rather than
    imported: the benchmark must not change when ``bench.py`` does."""
    release_stale_checkpoints(spark)
    scratch = os.path.join(ROOT, ".scratch")
    if os.path.isdir(scratch):
        for name in os.listdir(scratch):
            if name.startswith("ivf_index_"):
                shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)
    clear_centroid_cache()
    spark.sparkContext._jvm.System.gc()


# ------------------------------------------------------------ pipelines


def medallion_stages(spark, csv_dir: str, out_dir: str):
    """The medallion pipeline as (op name, call) stages into an empty
    directory: bronze ingest of all nine CSVs, silver, gold."""
    pipe = MedallionPipeline(spark, out_dir)

    def bronze():
        for name in SILVER_ORDER:
            pipe.ingest_bronze(
                name, f"{csv_dir}/{name}.csv", multi_line=(name == "order_reviews")
            )

    return pipe, [
        ("pipeline.medallion.bronze", bronze),
        ("pipeline.medallion.silver", pipe.load_silver_all),
        ("pipeline.medallion.gold", pipe.load_gold_all),
    ]


def check_medallion(pipe: MedallionPipeline, manifest: dict) -> dict[str, str]:
    """The reference's ``08_validacionsql.sql`` checks, per stage:
    layer volumetrics (from the audit rows, whose counts are re-reads
    of the written tables), zero orphan surrogate keys in the facts
    and every audit row SUCCESS.  Returns ``{op name: error}``."""
    errs = {"bronze": [], "silver": [], "gold": []}
    written = {}
    for row in pipe.audit.rows:
        if row[8] == "SUCCESS":
            written[(row[3], row[4])] = row[9]
        elif row[8] != "STARTED":
            errs.get(row[3], errs["gold"]).append(f"audit {row[4]} {row[8]}")
    for name in SILVER_ORDER:
        for layer, want in (("bronze", manifest[name]["rows"]),
                            ("silver", manifest["expected_silver"][name])):
            if written.get((layer, name)) != want:
                errs[layer].append(f"{layer}.{name} {written.get((layer, name))} != {want}")
    for dim, silver in (("dim_customer", "customers"), ("dim_product", "products"),
                        ("dim_seller", "sellers")):
        if written.get(("gold", dim)) != written.get(("silver", silver)):
            errs["gold"].append(f"{dim} row count differs from silver.{silver}")
    facts = ("fact_orders", "fact_order_items", "fact_reviews")
    if all(written.get(("gold", f)) for f in facts):
        fo = pipe.read("gold", "fact_orders")
        foi = pipe.read("gold", "fact_order_items")
        fr = pipe.read("gold", "fact_reviews")
        dim = lambda t: pipe.read("gold", t)  # noqa: E731
        orphans = {
            "fact_orders.customer_sk": fo.join(dim("dim_customer"), "customer_sk", "left_anti"),
            "fact_order_items.order_sk": foi.join(fo, "order_sk", "left_anti"),
            "fact_order_items.product_sk": foi.join(dim("dim_product"), "product_sk", "left_anti"),
            "fact_order_items.seller_sk": foi.join(dim("dim_seller"), "seller_sk", "left_anti"),
            "fact_reviews.order_sk": fr.join(fo, "order_sk", "left_anti"),
        }
        for key, df in orphans.items():
            n = df.count()
            if n:
                errs["gold"].append(f"{n} orphan {key}")
    else:
        errs["gold"].append("missing or empty fact table")
    return {f"pipeline.medallion.{k}": "; ".join(v) for k, v in errs.items()}


class RecordingCorpusPipeline(CorpusPipeline):
    """Keeps the stage counts, the streaming progress and the per-fate
    counts each micro-batch's ``apply_increment`` returns
    (``streaming_ingest`` discards them)."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.counts: dict[str, int] = {}
        self.fates: list[dict[str, int]] = []
        self.progress: list[dict] = []

    def apply_increment(self, new_docs):
        fates = super().apply_increment(new_docs)
        self.fates.append(fates)
        return fates


def corpus_stages(spark, corpus_dir: str, out_dir: str):
    """The corpus pipeline as (op name, call) stages: JSONL → bronze,
    silver filter, silver dedup, gold, then one increment streamed
    through ``streaming_ingest`` (availableNow)."""
    pipe = RecordingCorpusPipeline(spark, out_dir)
    c = pipe.counts

    def increment():
        stream = spark.readStream.schema(DOC_SCHEMA).parquet(f"{corpus_dir}/increment")
        query = pipe.streaming_ingest(stream, f"{out_dir}/_checkpoint")
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        pipe.progress = [p for p in query.recentProgress if p["numInputRows"] > 0]

    return pipe, [
        ("pipeline.corpus.bronze",
         lambda: c.update(pipe.ingest_bronze(f"{corpus_dir}/history.jsonl"))),
        ("pipeline.corpus.silver_filter",
         lambda: c.update(filtered=pipe.load_silver_filtered())),
        ("pipeline.corpus.silver_dedup",
         lambda: c.update(deduped=pipe.load_silver_deduped())),
        ("pipeline.corpus.gold", lambda: c.update(pipe.load_gold_corpus())),
        ("streaming.increment", increment),
    ]


def check_corpus(pipe: RecordingCorpusPipeline, manifest: dict) -> dict[str, str]:
    """Counts never grow from stage to stage, every audit row is
    SUCCESS, the quarantine holds exactly the corrupt lines, and the
    micro-batches' fates add up to the increment's size.  Returns
    ``{op name: error}``; ``streaming.batch`` covers every batch."""
    errs = {k: [] for k in ("bronze", "silver_filter", "silver_dedup", "gold", "batch")}
    c, hist = pipe.counts, manifest["history"]
    if c.get("documents", -1) + c.get("quarantined", -1) != hist["rows"]:
        errs["bronze"].append("bronze + quarantine != history lines")
    if c.get("quarantined") != hist["corrupt"]:
        errs["bronze"].append(f"quarantined {c.get('quarantined')} != {hist['corrupt']}")
    chain = [("silver_filter", "documents", "filtered"),
             ("silver_dedup", "filtered", "deduped"),
             ("gold", "deduped", "decontaminated")]
    for stage, before, after in chain:
        if not 0 < c.get(after, 0) <= c.get(before, 0):
            errs[stage].append(f"{after} {c.get(after)} not in (0, {before} {c.get(before)}]")
    # numInputRows counts every re-read of a foreachBatch frame, so the
    # increment's size comes from the generator
    fates_n = sum(sum(f.values()) for f in pipe.fates)
    if not pipe.progress or fates_n != manifest["increment"]["rows"]:
        errs["batch"].append(f"fates {fates_n} != increment {manifest['increment']['rows']}")
    elif "deduped" in c:
        deduped = pipe.read("silver", "deduped")
        grown = deduped.count() - c["deduped"]
        added = sum(f["added"] for f in pipe.fates)
        if added != grown:
            errs["batch"].append(f"added {added} but silver/deduped grew {grown}")
        if deduped.groupBy(F.md5("text")).count().filter("count > 1").count():
            errs["batch"].append("exact duplicate text in silver/deduped")
    stage_of = {"documents": "bronze", "gated": "silver_filter", "deduped": "silver_dedup"}
    for row in pipe.audit.rows:
        if row[8] not in ("STARTED", "SUCCESS"):
            key = "batch" if row[2] == "increment" else stage_of.get(row[4], "gold")
            errs[key].append(f"audit {row[4]} {row[8]}")
    out = {f"pipeline.corpus.{k}": "; ".join(v) for k, v in errs.items() if k != "batch"}
    out["streaming.batch"] = "; ".join(errs["batch"])
    return out


# ----------------------------------------------------------------- pass


def make_inputs(wl: Workload, work: str, seed: int) -> tuple[str, dict, int]:
    """Generate the workload's pipeline inputs under ``work``; returns
    (their directory, the generator's manifest, their total bytes)."""
    if wl.pipeline == "medallion":
        raw_dir = os.path.join(work, "olist")
        manifest = gen.olist_csvs(raw_dir, seed, OLIST_ORDERS)
        return raw_dir, manifest, sum(
            v["bytes"] for k, v in manifest.items() if k != "expected_silver"
        )
    raw_dir = os.path.join(work, "corpus")
    manifest = gen.corpus_jsonl(raw_dir, seed, CORPUS_DOCS)
    return raw_dir, manifest, manifest["history"]["bytes"] + manifest["increment"]["bytes"]


def run_pass(spark, clock, wl: Workload, star_dir, raw_dir, pass_dir):
    """One pass: the workload's pipeline into the empty ``pass_dir``,
    then every plan in its fixed order (build, then collect).  Returns the
    operations, their root spans, the plans' results and the pipeline
    object for :func:`check_pass`."""
    ops, roots, results = [], [], {}
    stages = medallion_stages if wl.pipeline == "medallion" else corpus_stages
    pipe, calls = stages(spark, raw_dir, pass_dir)
    for name, fn in calls:
        op = Op(name, "stage")
        try:
            with clock.span(name) as sp:
                roots.append(sp)
                fn()
        except Exception as e:
            op.ok, op.error = False, _err(e)
        ops.append(op)
    for name in wl.plans:
        between_plans(spark)
        op = Op(f"plan.{name}", "plan")
        try:
            with clock.span(op.name) as sp:
                roots.append(sp)
                with clock.span("build"):
                    df = REGISTRY[name].fn(spark, star_dir)
                with clock.span("execute"):
                    results[name] = df.toPandas()
        except Exception as e:
            op.ok, op.error = False, _err(e)
        ops.append(op)
    for sp in roots:
        print(f"op {sp.name} {sp.wall_s:.3f} s", file=sys.stderr)
    return ops, roots, results, pipe


def check_pass(ops: list[Op], results: dict, oracle: dict, pipe, wl: Workload,
               manifest: dict) -> None:
    """Check every operation's output (outside the timed region) and
    mark the wrong ones failed; adds one op per streamed micro-batch."""
    for op in ops:
        if op.ok and op.kind == "plan":
            name = op.name[len("plan."):]
            expected = oracle.get(name)  # missing if the oracle thread raised
            op.error = "no oracle rows" if expected is None else check_plan(results[name], expected)
            op.ok = not op.error
    if wl.pipeline == "corpus":
        ops += [Op("streaming.batch", "batch") for _ in range(max(len(pipe.progress), 1))]
    try:
        errs = (check_medallion if wl.pipeline == "medallion" else check_corpus)(pipe, manifest)
    except Exception as e:
        errs = {op.name: _err(e) for op in ops if op.kind != "plan"}
    for op in ops:
        if op.ok and errs.get(op.name):
            op.ok, op.error = False, errs[op.name]


def scan_inputs(spark, clock, star_dir: str, raw_dir: str, wl: Workload) -> float:
    """Noop scans of every input the workload reads, through the
    program's own readers (``catalog.table``, the CSV and JSONL
    sources).  Returns the summed wall."""
    with clock.span("catalog.scan") as sp:
        frames = [table(spark, star_dir, t) for t in TABLES]
        if wl.pipeline == "medallion":
            frames += [
                read_csv_bronze(spark, f"{raw_dir}/{n}.csv", BRONZE_COLUMNS[n],
                                multi_line=(n == "order_reviews"))
                for n in SILVER_ORDER
            ]
        else:
            frames += [read_jsonl(spark, f"{raw_dir}/history.jsonl", DOC_SCHEMA),
                       spark.read.parquet(f"{raw_dir}/increment")]
        for df in frames:
            df.write.format("noop").mode("overwrite").save()
    return sp.wall_s
