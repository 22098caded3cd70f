"""Deterministic, seed-driven input generators for the benchmark.

Three input families, each a pure function of ``(seed, size)``:

- :func:`star_tables` — the ten TPC-H-ish parquet tables the registry
  plans read (``catalog.TABLES``), with the shapes of the repo's test
  tiers: uniform keys and measures, sorted event timestamps, a 31-word
  document vocabulary with ``dup``-tagged near-duplicates, and unit
  64-d embeddings around ten labelled centres.
- :func:`olist_csvs` — the nine Olist CSVs of the medallion pipeline,
  with the FIXTURES.md quirks injected: stray whitespace, empty ids,
  decimal commas, non-numeric garbage, accent/case city variants,
  duplicated geolocation rows, unparseable dates, negative delivery
  spans, non-castable item ids, duplicated review ids, multi-line
  quoted reviews and out-of-range scores.
- :func:`corpus_jsonl` — a JSONL corpus history (with corrupt lines)
  plus a parquet increment holding fresh documents and injected exact
  and near duplicates of the history.

Every generator returns a manifest ``{table: {"rows": n, "bytes": b}}``
(plus expected counts where the checks need them) so the benchmark can
verify volumetrics without re-reading the inputs.
"""

from __future__ import annotations

import csv
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data spark query table row column join agg group sort filter "
    "window stream batch key value hash merge scan order line part customer "
    "vector fast slow big small"
).split()
LANGS = ("en", "fr", "es", "de", "zh")
LANG_P = (0.39, 0.16, 0.16, 0.15, 0.14)
EMBED_DIM = 64


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table): adding a table never
    shifts the draws of another."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.default_rng(key)


def _write_parquet(path: str, cols: dict) -> dict:
    tbl = pa.table(cols)
    pq.write_table(tbl, path)
    return {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}


def _cents(rng, lo: float, hi: float, n: int, unique: bool = False) -> np.ndarray:
    lo_c, hi_c = int(round(lo * 100)), int(round(hi * 100))
    if unique:
        c = rng.choice(hi_c - lo_c, size=n, replace=False) + lo_c
    else:
        c = rng.integers(lo_c, hi_c, size=n)
    return c / 100.0


def _doc_texts(rng, n: int, dup_frac: float = 0.06) -> list[str]:
    """Documents of 10–90 vocabulary tokens; the last ``dup_frac``
    share are near-duplicates of an earlier original (its text plus
    ``dup``).  Families are depth-one stars for every seed, so the
    near-dup graph — and the work dedup does on it — keeps its shape."""
    n_dup = int(n * dup_frac)
    n_orig = n - n_dup
    lens = rng.integers(10, 91, size=n_orig)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), size=k)]) for k in lens]
    texts += [texts[int(i)] + " dup" for i in rng.integers(0, n_orig, size=n_dup)]
    return texts


def star_tables(out_dir: str, seed: int, sf: float) -> dict:
    """The registry plans' ten tables at scale factor ``sf`` (rows per
    table follow the repo's test tiers: 150k customers, 1.5M orders and
    6M line items per unit of sf; documents and embeddings never fall
    below 500 rows)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_doc = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)
    out: dict = {}
    p = lambda t: f"{out_dir}/{t}.parquet"  # noqa: E731
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    ts = lambda a: pa.array(a.astype("datetime64[us]"), pa.timestamp("us"))  # noqa: E731

    out["region"] = _write_parquet(p("region"), {
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = _write_parquet(p("nation"), {
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    r = _rng(seed, "customer")
    out["customer"] = _write_parquet(p("customer"), {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(r.integers(0, 25, n_cust)),
        "c_acctbal": _cents(r, -999.99, 9999.99, n_cust, unique=True),
        "c_mktsegment": r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ).tolist(),
    })
    r = _rng(seed, "supplier")
    out["supplier"] = _write_parquet(p("supplier"), {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(r.integers(0, 25, n_supp)),
        "s_acctbal": _cents(r, -999.99, 9999.99, n_supp, unique=True),
    })
    r = _rng(seed, "part")
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    out["part"] = _write_parquet(p("part"), {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(adj, n_part), r.choice(noun, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ).tolist(),
        "p_size": i32(r.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    r = _rng(seed, "orders")
    day0 = np.datetime64("1995-01-01")
    out["orders"] = _write_parquet(p("orders"), {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(r.integers(0, n_cust, n_ord)),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _cents(r, 1000.0, 500000.0, n_ord, unique=True),
        "o_orderdate": ts(day0 + r.integers(0, 2404, n_ord).astype("timedelta64[D]")),
        "o_orderpriority": r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    })
    r = _rng(seed, "lineitem")
    out["lineitem"] = _write_parquet(p("lineitem"), {
        "l_orderkey": i64(r.integers(0, n_ord, n_li)),
        "l_partkey": i64(r.integers(0, n_part, n_li)),
        "l_suppkey": i64(r.integers(0, n_supp, n_li)),
        "l_linenumber": i32(r.integers(1, 8, n_li)),
        "l_quantity": r.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _cents(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": r.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": ts(day0 + r.integers(1, 2500, n_li).astype("timedelta64[D]")),
    })
    r = _rng(seed, "events")
    us = np.sort(r.choice(30 * 86_400_000_000, size=n_ev, replace=False))
    out["events"] = _write_parquet(p("events"), {
        "event_id": i64(np.arange(n_ev)),
        "ts": ts(np.datetime64("2024-01-01T00:00:00", "us") + us.astype("timedelta64[us]")),
        "user_id": i64(r.integers(0, n_users, n_ev)),
        "event_type": r.choice(["click", "error", "purchase", "signup", "view"], n_ev).tolist(),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    r = _rng(seed, "documents")
    texts = _doc_texts(r, n_doc)
    out["documents"] = _write_parquet(p("documents"), {
        "doc_id": i64(np.arange(n_doc)),
        "text": texts,
        "lang": r.choice(LANGS, n_doc, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts]),
    })
    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_vec)
    centres = r.normal(size=(10, EMBED_DIM))
    vecs = centres[labels] + 0.6 * r.normal(size=(n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = _write_parquet(p("embeddings"), {
        "vec_id": i64(np.arange(n_vec)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels),
    })
    return out


# ------------------------------------------------------------- Olist CSVs

CITIES = [
    ("são paulo", "SP"), ("rio de janeiro", "RJ"), ("belo horizonte", "MG"),
    ("brasília", "DF"), ("curitiba", "PR"), ("porto alegre", "RS"),
    ("salvador", "BA"), ("goiânia", "GO"), ("florianópolis", "SC"),
    ("ribeirão preto", "SP"), ("niterói", "RJ"), ("maringá", "PR"),
]
ORDER_STATUS = ["delivered"] * 30 + ["shipped", "canceled", "invoiced", "processing"]
PAY_TYPES = ["credit_card", "boleto", "voucher", "debit_card"]
REVIEW_WORDS = (
    "produto chegou rápido ótimo recomendo entrega atrasou qualidade boa "
    "não gostei veio errado perfeito, excelente"
).split()


def _hexid(rng, n: int) -> list[str]:
    return [f"{a:016x}{b:016x}" for a, b in rng.integers(0, 2**63, size=(n, 2))]


def _variant(city: str, k: int) -> str:
    """Accent/case spelling variant k of a city name."""
    plain = city.translate(str.maketrans("ãâáéíóôúç", "aaaeioouc"))
    return [city, city.upper(), plain, plain.title()][k % 4]


def _decimal(v: float, comma: bool) -> str:
    s = f"{v:.2f}"
    return s.replace(".", ",") if comma else s


def _fmt_ts(t: datetime | None) -> str:
    return "" if t is None else t.strftime("%Y-%m-%d %H:%M:%S")


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> dict:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
    return {"rows": len(rows), "bytes": os.path.getsize(path)}


def olist_csvs(out_dir: str, seed: int, n_orders: int) -> dict:
    """The nine Olist CSVs for ``n_orders`` orders (Olist ratios: one
    customer per order, 1.13 items and 1.04 payments per order,
    ~3% sellers, ~33% products, ~10 geolocation rows per zip prefix).

    Returns the per-table manifest plus ``expected_silver``: the row
    count each silver load must produce, derived from the quirks this
    generator injected (the medallion check compares against it)."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "olist")
    n_cust = n_orders
    n_sell = max(n_orders * 3 // 100, 5)
    n_prod = max(n_orders // 3, 10)
    n_zip = max(n_orders // 10, 10)
    zips = [f"{z:05d}" for z in r.choice(99_999, size=n_zip, replace=False)]
    zip_city = [CITIES[int(i)] for i in r.integers(0, len(CITIES), n_zip)]
    out: dict = {}
    exp: dict = {}

    def pad(s: str) -> str:  # stray whitespace on ~5% of values
        return f" {s} " if r.random() < 0.05 else s

    cust_ids = _hexid(r, n_cust)
    empty_cust = set(r.choice(n_cust, size=max(n_cust // 200, 1), replace=False).tolist())
    rows = []
    for i, cid in enumerate(cust_ids):
        z = int(r.integers(0, n_zip))
        city, st = zip_city[z]
        uid = cust_ids[int(r.integers(0, i + 1))] if r.random() < 0.04 else cid
        rows.append(["" if i in empty_cust else pad(cid), uid[::-1], zips[z],
                     _variant(city, int(r.integers(0, 2))), pad(st.lower() if r.random() < 0.3 else st)])
    out["customers"] = _write_csv(f"{out_dir}/customers.csv", [
        "customer_id", "customer_unique_id", "customer_zip_code_prefix",
        "customer_city", "customer_state"], rows)
    exp["customers"] = n_cust - len(empty_cust)

    seller_ids = _hexid(r, n_sell)
    rows = []
    for i, sid in enumerate(seller_ids):
        z = int(r.integers(0, n_zip))
        city, st = zip_city[z]
        rows.append([" " if i == 0 else pad(sid), zips[z], _variant(city, int(r.integers(0, 4))),
                     (st.lower() + "x") if r.random() < 0.1 else st])
    out["sellers"] = _write_csv(f"{out_dir}/sellers.csv", [
        "seller_id", "seller_zip_code_prefix", "seller_city", "seller_state"], rows)
    exp["sellers"] = n_sell - 1

    cats = [f"categoria_{i:02d}" for i in range(71)]
    out["category_translation"] = _write_csv(
        f"{out_dir}/category_translation.csv",
        ["product_category_name", "product_category_name_english"],
        [[pad(c), f" category_{i:02d} "] for i, c in enumerate(cats)],
    )
    exp["category_translation"] = 71

    def dim() -> str:  # decimal commas on ~30%, garbage on ~2%
        u = r.random()
        if u < 0.02:
            return "abc"
        return _decimal(float(r.integers(100, 100_000)) / 100, u < 0.3)

    prod_ids = _hexid(r, n_prod)
    rows = []
    for pid in prod_ids:
        rows.append([pid, "" if r.random() < 0.02 else cats[int(r.integers(0, 71))],
                     str(int(r.integers(5, 80))), str(int(r.integers(50, 4000))),
                     str(int(r.integers(1, 10))), dim(), dim(), dim(), dim()])
    out["products"] = _write_csv(f"{out_dir}/products.csv", [
        "product_id", "product_category_name", "product_name_lenght",
        "product_description_lenght", "product_photos_qty", "product_weight_g",
        "product_length_cm", "product_height_cm", "product_width_cm"], rows)
    exp["products"] = n_prod

    rows = []
    for z, (city, st) in zip(zips, zip_city):
        for k in range(int(r.integers(6, 15))):
            rows.append([z, f"{-23 + r.normal():.6f}", f"{-46 + r.normal():.6f}",
                         _variant(city, k), st.lower() if k % 3 == 1 else st])
    rows.append(["", "-23.5", "-46.6", "são paulo", "SP"])
    exp["geolocation"] = n_zip
    out["geolocation"] = _write_csv(f"{out_dir}/geolocation.csv", [
        "geolocation_zip_code_prefix", "geolocation_lat", "geolocation_lng",
        "geolocation_city", "geolocation_state"], rows)

    order_ids = _hexid(r, n_orders)
    t0 = datetime(2016, 9, 1)
    rows = []
    for oid, cid in zip(order_ids, cust_ids):
        status = ORDER_STATUS[int(r.integers(0, len(ORDER_STATUS)))]
        bought = t0 + timedelta(seconds=int(r.integers(0, 760 * 86400)))
        approved = bought + timedelta(minutes=int(r.integers(5, 3000)))
        carrier = approved + timedelta(hours=int(r.integers(12, 200)))
        est = (bought + timedelta(days=int(r.integers(10, 40)))).replace(hour=0, minute=0, second=0)
        delivered = None
        if status == "delivered":
            span = int(r.integers(2, 45)) if r.random() > 0.01 else -int(r.integers(1, 5))
            delivered = bought + timedelta(days=span, minutes=int(r.integers(0, 1440)))
        approved_s = "not-a-date" if r.random() < 0.01 else _fmt_ts(approved)
        rows.append([oid, cid, status.upper() if r.random() < 0.2 else status, _fmt_ts(bought),
                     approved_s, _fmt_ts(carrier if status != "processing" else None),
                     _fmt_ts(delivered), _fmt_ts(est)])
    out["orders"] = _write_csv(f"{out_dir}/orders.csv", [
        "order_id", "customer_id", "order_status", "order_purchase_timestamp",
        "order_approved_at", "order_delivered_carrier_date",
        "order_delivered_customer_date", "order_estimated_delivery_date"], rows)
    exp["orders"] = sum(1 for row in rows if row[1] and row[1].strip())

    rows = []
    n_bad_item = 0
    for oid in order_ids:
        n_items = 1 + int(r.random() < 0.1) + int(r.random() < 0.03)
        for k in range(1, n_items + 1):
            bad = r.random() < 0.005
            n_bad_item += bad
            rows.append([oid, "xx" if bad else str(k), prod_ids[int(r.integers(0, n_prod))],
                         seller_ids[int(r.integers(1, n_sell))],
                         _fmt_ts(t0 + timedelta(seconds=int(r.integers(0, 780 * 86400)))),
                         _decimal(float(r.integers(500, 90_000)) / 100, r.random() < 0.3),
                         _decimal(float(r.integers(0, 9_000)) / 100, r.random() < 0.3)])
    out["order_items"] = _write_csv(f"{out_dir}/order_items.csv", [
        "order_id", "order_item_id", "product_id", "seller_id",
        "shipping_limit_date", "price", "freight_value"], rows)
    exp["order_items"] = len(rows) - n_bad_item

    rows = []
    for oid in order_ids:
        for k in range(1, 2 + int(r.random() < 0.04)):
            pt = PAY_TYPES[int(r.integers(0, len(PAY_TYPES)))]
            rows.append([oid, str(k), pt.upper() if r.random() < 0.2 else pt,
                         str(int(r.integers(1, 11))),
                         _decimal(float(r.integers(1_000, 200_000)) / 100, r.random() < 0.3)])
    out["order_payments"] = _write_csv(f"{out_dir}/order_payments.csv", [
        "order_id", "payment_sequential", "payment_type",
        "payment_installments", "payment_value"], rows)
    exp["order_payments"] = len(rows)

    rows = []
    review_ids = _hexid(r, n_orders)
    valid_ids = set()
    for rid, oid in zip(review_ids, order_ids):
        created = t0 + timedelta(days=int(r.integers(10, 800)))
        copies = 2 if r.random() < 0.02 else 1
        for c in range(copies):
            score = int(r.integers(1, 6)) if r.random() > 0.01 else 9
            words = [REVIEW_WORDS[int(i)] for i in r.integers(0, len(REVIEW_WORDS), int(r.integers(0, 12)))]
            msg = " ".join(words)
            if msg and r.random() < 0.1:
                msg = msg.replace(" ", "\n", 1)
            answered = created + timedelta(hours=int(r.integers(1, 200)) + 24 * c)
            rows.append([rid, oid, str(score), "" if r.random() < 0.8 else "título",
                         msg if r.random() > 0.05 else " ", _fmt_ts(created), _fmt_ts(answered)])
            if 1 <= score <= 5:
                valid_ids.add(rid)
    out["order_reviews"] = _write_csv(f"{out_dir}/order_reviews.csv", [
        "review_id", "order_id", "review_score", "review_comment_title",
        "review_comment_message", "review_creation_date", "review_answer_timestamp"], rows)
    exp["order_reviews"] = len(valid_ids)
    out["expected_silver"] = exp
    return out


# ---------------------------------------------------------- corpus JSONL


def corpus_jsonl(out_dir: str, seed: int, n_docs: int) -> dict:
    """A corpus of ``n_docs`` documents split 90/10 into a JSONL
    history (``history.jsonl``, with 1% corrupt lines) and a parquet
    increment (``increment/``) that also carries exact copies and
    case-variant near duplicates of history documents under new ids."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "corpus")
    texts = _doc_texts(r, n_docs)
    langs = r.choice(LANGS, n_docs, p=LANG_P).tolist()
    sources = [f"src{int(i)}" for i in r.integers(0, 8, n_docs)]
    n_hist = n_docs * 9 // 10
    corrupt = set(r.choice(n_hist, size=max(n_hist // 100, 1), replace=False).tolist())
    path = f"{out_dir}/history.jsonl"
    with open(path, "w", encoding="utf-8") as f:
        for i in range(n_hist):
            line = json.dumps({"doc_id": i, "text": texts[i], "lang": langs[i], "source": sources[i]})
            if i in corrupt:
                line = line[: len(line) // 2]
            f.write(line + "\n")
    inc_ids, inc_text, inc_lang, inc_src = [], [], [], []
    for i in range(n_hist, n_docs):
        inc_ids.append(i)
        inc_text.append(texts[i])
        inc_lang.append(langs[i])
        inc_src.append(sources[i])
    n_inject = max((n_docs - n_hist) // 5, 2)
    for k, j in enumerate(r.choice(n_hist, size=2 * n_inject, replace=False).tolist()):
        inc_ids.append(10_000_000 + k)
        inc_text.append(texts[j] if k < n_inject else texts[j].upper())
        inc_lang.append(langs[j])
        inc_src.append("drop")
    os.makedirs(f"{out_dir}/increment", exist_ok=True)
    inc = _write_parquet(f"{out_dir}/increment/part-0.parquet", {
        "doc_id": pa.array(inc_ids, pa.int64()),
        "text": inc_text,
        "lang": inc_lang,
        "source": inc_src,
    })
    return {
        "history": {"rows": n_hist, "bytes": os.path.getsize(path), "corrupt": len(corrupt)},
        "increment": inc,
    }
