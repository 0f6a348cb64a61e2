"""Seeded input generators for the workloads.

Everything a run reads is produced here from ``--seed``: the lake
(TPC-H-shaped tables plus ``events``, ``documents`` and
``embeddings``, in the fixture schema the registry operators expect),
the heterogeneous ingest files, and the streaming arrival files. The
same seed gives byte-identical files; generation is numpy + pyarrow
only, so no engine code shapes its own inputs.

Sizes are set by ``LAKE_SCALE`` (1.0 = TPC-H sf1 row counts) and the
``INGEST_*`` constants; NOTES.md records them.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_SCALE = 0.02
LAKE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "cold", "green", "tiny"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Document vocabulary: a head of very common words (stopword-grade,
# in most documents) and a Zipf tail of topic words, so BM25 has
# terms on both sides of the max_df_ratio cut and char-3-gram
# Jaccard between unrelated documents stays well below the d03
# threshold.
HEAD_WORDS = (
    "the a data spark table query join scan filter group sort hash key "
    "row column value batch stream window order line part fast slow big "
    "small merge agg vector customer"
).split()
_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su", "da", "fo"]
TAIL_WORDS = sorted({a + b + c for a in _SYL for b in _SYL for c in _SYL[:4]})
VOCAB = HEAD_WORDS + TAIL_WORDS
_ZIPF = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.9
VOCAB_P = _ZIPF / _ZIPF.sum()

DOC_WORDS = (12, 100)  # words per document, uniform
EXACT_DUP_FRAC = 0.01
NEAR_DUP_FRAC = 0.02

EPOCH = dt.datetime(1970, 1, 1)
ORDER_DAY0 = dt.datetime(1995, 1, 1)
EVENT_T0 = dt.datetime(2024, 1, 1)


def _us(t: dt.datetime) -> int:
    return int((t - EPOCH).total_seconds() * 1_000_000)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tag() -> str:
    """Cached inputs are valid only for the generator that wrote them."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def _done(root: str) -> bool:
    try:
        with open(os.path.join(root, "_DONE")) as fh:
            return fh.read().strip() == _tag()
    except OSError:
        return False


def _mark_done(root: str) -> None:
    with open(os.path.join(root, "_DONE"), "w") as fh:
        fh.write(_tag() + "\n")


def doc_texts(rng, n: int) -> list[str]:
    """``n`` documents over VOCAB with planted exact and near
    duplicates (a near duplicate is a copy with one word replaced)."""
    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
    words = rng.choice(len(VOCAB), size=int(lens.sum()), p=VOCAB_P)
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    n_exact = int(n * EXACT_DUP_FRAC)
    n_near = int(n * NEAR_DUP_FRAC)
    targets = rng.choice(np.arange(1, n), size=n_exact + n_near, replace=False)
    for j, tgt in enumerate(targets):
        src = int(rng.integers(0, tgt))
        if j < n_exact:
            texts[tgt] = texts[src]
        else:
            toks = texts[src].split(" ")
            toks[int(rng.integers(0, len(toks)))] = TAIL_WORDS[
                int(rng.integers(0, len(TAIL_WORDS)))
            ]
            texts[tgt] = " ".join(toks)
    return texts


def lake_tables(seed: int, scale: float = LAKE_SCALE) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_evt = int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    n_docs = int(50_000 * scale)
    n_emb = int(20_000 * scale)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    order_day = rng.integers(0, 2404, n_ord)
    day_us = 86_400_000_000
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(
                _us(ORDER_DAY0) + order_day * day_us, pa.timestamp("us")
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_ok)
    starts = np.cumsum(lines) - lines
    l_no = np.arange(n_li) - np.repeat(starts, lines) + 1
    l_pk = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ok, pa.int64()),
            "l_partkey": pa.array(l_pk, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_no, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_pk] * rng.uniform(1.0, 2.1, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                _us(ORDER_DAY0)
                + (order_day[l_ok] + rng.integers(1, 122, n_li)) * day_us,
                pa.timestamp("us"),
            ),
        }
    )
    ts = np.sort(rng.integers(0, 30 * day_us, n_evt)) + _us(EVENT_T0)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(60.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = doc_texts(rng, n_docs)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": np.array([f"src{i}" for i in range(20)])[
                rng.integers(0, 20, n_docs)
            ],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = (centroids[labels] + 0.8 * rng.normal(0.0, 1.0, (n_emb, 64))).astype(
        np.float32
    )
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_lake(root: str, seed: int, scale: float = LAKE_SCALE) -> str:
    """Write the lake under ``root`` once per seed; returns ``root``."""
    if _done(root):
        return root
    os.makedirs(root, exist_ok=True)
    for name, tbl in lake_tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(root, f"{name}.parquet"))
    _mark_done(root)
    return root


# -- ingest inputs -----------------------------------------------------------
# Row counts of the bulk-phase files. The JSONL corpus is the lake's
# documents table, so its size follows LAKE_SCALE.
INGEST_CSV_ROWS = 10_000
INGEST_TSV_ROWS = 5_000
INGEST_JSONL_ROWS = 5_000
INGEST_XLSX_ROWS = 1_000
NULL_FRAC = 0.05
ARRIVAL_FILES = 3
ARRIVAL_DOCS = 80  # per file
ARRIVAL_DUP_FRAC = 0.25

# raw header -> cleaned name (clean_column_names variant A)
CSV_HEADER = {
    "Order ID": "order_id",
    " Customer Name ": "customer_name",
    "Amount ($)": "amount",
    "Qty.": "qty",
    "Is Active?": "is_active",
    "Order Date": "order_date",
    "Region/Zone": "region_zone",
    "Notes": "notes",
}
TSV_HEADER = {
    "SKU": "sku",
    "Warehouse Name": "warehouse_name",
    "On-Hand Qty": "on_hand_qty",
    "Unit Cost (USD)": "unit_cost_usd",
    "Discontinued": "discontinued",
    "Last Count Date": "last_count_date",
}
JSONL_FIELDS = {
    "eventId": "eventid",
    "User Name": "user_name",
    "score.value": "score_value",
    "is_bot": "is_bot",
    "Created At": "created_at",
}
XLSX_SHEETS = {
    "Ledger": {
        "Entry #": "entry",
        "Account Name": "account_name",
        "Debit": "debit",
        "Credit": "credit",
        "Posted": "posted",
    },
    "Rates": {"Currency Code": "currency_code", "Rate (EUR)": "rate_eur"},
}


def _nulls(rng, n):
    return rng.random(n) < NULL_FRAC


def _fmt_date(days: int) -> str:
    return (dt.date(2023, 1, 1) + dt.timedelta(days=int(days))).isoformat()


def ingest_inputs(root: str, seed: int, documents: pa.Table) -> dict:
    """Write the bulk-phase files under ``root`` and return the
    expected read-back facts per table: row count, cleaned column
    names, and per-column NULL counts and numeric sums."""
    if _done(root):
        with open(os.path.join(root, "expected.json")) as fh:
            return json.load(fh)
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    expected: dict[str, dict] = {}

    def record(table, header_map, cols, numeric):
        expected[table] = {
            "rows": len(next(iter(cols.values()))),
            "columns": list(header_map.values()),
            "nulls": {
                header_map[h]: sum(v is None for v in vals) for h, vals in cols.items()
            },
            "sums": {
                header_map[h]: float(sum(v for v in cols[h] if v is not None))
                for h in numeric
            },
        }

    # CSV: ints, 2dp money, integer qty, true/false, ISO dates, text
    n = INGEST_CSV_ROWS
    cols = {
        "Order ID": list(range(1, n + 1)),
        " Customer Name ": [f"cust {i % 997}" for i in rng.integers(0, 10**6, n)],
        "Amount ($)": [round(float(v), 2) for v in rng.uniform(1, 5000, n)],
        "Qty.": [int(v) for v in rng.integers(1, 100, n)],
        "Is Active?": [bool(v) for v in rng.integers(0, 2, n)],
        "Order Date": [_fmt_date(d) for d in rng.integers(0, 700, n)],
        "Region/Zone": [REGIONS[i] for i in rng.integers(0, 5, n)],
        "Notes": [f"note {i}" for i in rng.integers(0, 50, n)],
    }
    for h in ("Amount ($)", "Qty.", "Is Active?", "Order Date", "Notes"):
        cols[h] = [None if m else v for v, m in zip(cols[h], _nulls(rng, n))]
    _write_delimited(os.path.join(root, "orders_export.csv"), ",", cols)
    record("orders_export", CSV_HEADER, cols, ["Amount ($)", "Qty."])

    n = INGEST_TSV_ROWS
    cols = {
        "SKU": [f"SKU-{i:06d}" for i in range(n)],
        "Warehouse Name": [f"WH {i}" for i in rng.integers(0, 40, n)],
        "On-Hand Qty": [int(v) for v in rng.integers(0, 5000, n)],
        "Unit Cost (USD)": [round(float(v), 2) for v in rng.uniform(0.5, 900, n)],
        "Discontinued": [bool(v) for v in rng.random(n) < 0.1],
        "Last Count Date": [_fmt_date(d) for d in rng.integers(0, 700, n)],
    }
    for h in ("On-Hand Qty", "Unit Cost (USD)", "Last Count Date"):
        cols[h] = [None if m else v for v, m in zip(cols[h], _nulls(rng, n))]
    _write_delimited(os.path.join(root, "inventory.tsv"), "\t", cols)
    record("inventory", TSV_HEADER, cols, ["On-Hand Qty", "Unit Cost (USD)"])

    n = INGEST_JSONL_ROWS
    cols = {
        "eventId": list(range(n)),
        "User Name": [f"user_{i}" for i in rng.integers(0, 3000, n)],
        "score.value": [round(float(v), 3) for v in rng.normal(50, 15, n)],
        "is_bot": [bool(v) for v in rng.random(n) < 0.2],
        "Created At": [
            (dt.datetime(2024, 3, 1) + dt.timedelta(seconds=int(s))).isoformat()
            for s in rng.integers(0, 30 * 86400, n)
        ],
    }
    for h in ("score.value", "is_bot"):
        cols[h] = [None if m else v for v, m in zip(cols[h], _nulls(rng, n))]
    keys = list(cols)
    with open(os.path.join(root, "activity.jsonl"), "w") as fh:
        for i in range(n):
            # JSON drops absent keys: a NULL is an omitted field
            rec = {k: cols[k][i] for k in keys if cols[k][i] is not None}
            fh.write(json.dumps(rec) + "\n")
    record("activity", JSONL_FIELDS, cols, ["eventId", "score.value"])

    sheets = {}
    n = INGEST_XLSX_ROWS
    led = {
        "Entry #": list(range(1, n + 1)),
        "Account Name": [f"acct {i}" for i in rng.integers(0, 60, n)],
        "Debit": [round(float(v), 2) for v in rng.uniform(0, 2000, n)],
        "Credit": [round(float(v), 2) for v in rng.uniform(0, 2000, n)],
        "Posted": [bool(v) for v in rng.integers(0, 2, n)],
    }
    for h in ("Debit", "Credit"):
        led[h] = [None if m else v for v, m in zip(led[h], _nulls(rng, n))]
    rates = {
        "Currency Code": [f"C{i:02d}" for i in range(40)],
        "Rate (EUR)": [round(float(v), 4) for v in rng.uniform(0.1, 5, 40)],
    }
    sheets["Ledger"], sheets["Rates"] = led, rates
    _write_xlsx(os.path.join(root, "finance.xlsx"), sheets)
    record("finance_ledger", XLSX_SHEETS["Ledger"], led, ["Entry #", "Debit", "Credit"])
    record("finance_rates", XLSX_SHEETS["Rates"], rates, ["Rate (EUR)"])

    ids = documents.column("doc_id").to_pylist()
    texts = documents.column("text").to_pylist()
    with open(os.path.join(root, "corpus.jsonl"), "w") as fh:
        for i, t in zip(ids, texts):
            fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    expected["corpus"] = {
        "rows": len(ids),
        "columns": ["doc_id", "text"],
        "nulls": {"doc_id": 0, "text": 0},
        "sums": {"doc_id": float(sum(ids))},
    }
    with open(os.path.join(root, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    _mark_done(root)
    return expected


def _write_delimited(path: str, sep: str, cols: dict) -> None:
    keys = list(cols)
    n = len(cols[keys[0]])

    def cell(v):
        if v is None:
            return ""
        if isinstance(v, bool):
            return "true" if v else "false"
        s = str(v)
        return f'"{s}"' if sep == "," and ("," in s or '"' in s) else s

    with open(path, "w") as fh:
        fh.write(sep.join(f'"{k}"' if sep == "," else k for k in keys) + "\n")
        for i in range(n):
            fh.write(sep.join(cell(cols[k][i]) for k in keys) + "\n")


def _col_letter(i: int) -> str:
    s, i = "", i + 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(ord("A") + r) + s
    return s


def _write_xlsx(path: str, sheets: dict[str, dict]) -> None:
    """A minimal OOXML workbook with inline strings (no shared-string
    part), numeric and boolean cells; a NULL is an omitted cell."""
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg_ns = "http://schemas.openxmlformats.org/package/2006/relationships"

    def cell(ref, v):
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    parts = {}
    names = list(sheets)
    for si, name in enumerate(names, start=1):
        cols = sheets[name]
        keys = list(cols)
        n = len(cols[keys[0]])
        rows = [[k for k in keys]] + [[cols[k][i] for k in keys] for i in range(n)]
        body = "".join(
            f'<row r="{ri}">'
            + "".join(cell(f"{_col_letter(ci)}{ri}", v) for ci, v in enumerate(r))
            + "</row>"
            for ri, r in enumerate(rows, start=1)
        )
        parts[f"xl/worksheets/sheet{si}.xml"] = (
            f'<worksheet xmlns="{ns}"><sheetData>{body}</sheetData></worksheet>'
        )
    parts["xl/workbook.xml"] = (
        f'<workbook xmlns="{ns}" xmlns:r="{rel_ns}"><sheets>'
        + "".join(
            f'<sheet name="{escape(n)}" sheetId="{i}" r:id="rId{i}"/>'
            for i, n in enumerate(names, start=1)
        )
        + "</sheets></workbook>"
    )
    parts["xl/_rels/workbook.xml.rels"] = (
        f'<Relationships xmlns="{pkg_ns}">'
        + "".join(
            f'<Relationship Id="rId{i}" Type="{rel_ns}/worksheet" '
            f'Target="worksheets/sheet{i}.xml"/>'
            for i in range(1, len(names) + 1)
        )
        + "</Relationships>"
    )
    parts["_rels/.rels"] = (
        f'<Relationships xmlns="{pkg_ns}"><Relationship Id="rId1" '
        f'Type="{rel_ns}/officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )
    sheet_ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    parts["[Content_Types].xml"] = (
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/'
        'vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        f'<Override PartName="/xl/workbook.xml" ContentType="{sheet_ct}.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i}.xml" '
            f'ContentType="{sheet_ct}.worksheet+xml"/>'
            for i in range(1, len(names) + 1)
        )
        + "</Types>"
    )
    decl = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    # fixed timestamps keep the zip byte-identical per seed
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(parts):
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            z.writestr(info, decl + parts[name], zipfile.ZIP_DEFLATED)


def warm_inputs(root: str) -> list[str]:
    """One tiny file per reader format, for the untimed set-up pass."""
    if _done(root):
        return sorted(
            os.path.join(root, f) for f in os.listdir(root) if not f.startswith("_")
        )
    os.makedirs(root, exist_ok=True)
    cols = {"Key ID": [1, 2, 3], "Flag?": [True, None, False], "Day": ["2024-01-01"] * 3}
    _write_delimited(os.path.join(root, "w_csv.csv"), ",", cols)
    _write_delimited(os.path.join(root, "w_tsv.tsv"), "\t", cols)
    with open(os.path.join(root, "w_json.jsonl"), "w") as fh:
        fh.write('{"a": 1, "b": "x"}\n{"a": 2}\n')
    _write_xlsx(os.path.join(root, "w_xlsx.xlsx"), {"S": {"A b": [1, 2], "C": ["x", None]}})
    _mark_done(root)
    return warm_inputs(root)


def arrival_batches(seed: int, corpus_texts: list[str], first_id: int,
                    n_files: int = ARRIVAL_FILES,
                    docs_per_file: int = ARRIVAL_DOCS) -> list[list[tuple[int, str]]]:
    """Arrival micro-batches of (doc_id, text). A seeded share are
    near duplicates (one word replaced) of a corpus document or of a
    document from an EARLIER arrival file; the rest are fresh
    documents from the same vocabulary."""
    rng = np.random.default_rng([seed, 3])
    fresh = doc_texts(rng, n_files * docs_per_file)
    batches, earlier, next_id = [], [], first_id
    for f in range(n_files):
        batch = []
        for j in range(docs_per_file):
            text = fresh[f * docs_per_file + j]
            if rng.random() < ARRIVAL_DUP_FRAC:
                pool = earlier if earlier and rng.random() < 0.5 else corpus_texts
                toks = pool[int(rng.integers(0, len(pool)))].split(" ")
                toks[int(rng.integers(0, len(toks)))] = TAIL_WORDS[
                    int(rng.integers(0, len(TAIL_WORDS)))
                ]
                text = " ".join(toks)
            batch.append((next_id, text))
            next_id += 1
        earlier.extend(t for _, t in batch)
        batches.append(batch)
    return batches
