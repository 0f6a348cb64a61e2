"""Independent answers the benchmark checks the engine against.

- DuckDB over the same parquet: the registry's oracle SQL for the
  analytics operators, the scripted SQL for asks, and the read-back
  of ingested tables.
- numpy/stdlib recomputations of hybrid search (hash embedder
  cosine + BM25 + reciprocal-rank fusion) and of d03's near-duplicate
  pairs (exact char-3-gram Jaccard).

Nothing here imports the engine package.
"""

from __future__ import annotations

import hashlib
import math
import os
import re

import numpy as np

FLOAT_RTOL = 1e-9
FLOAT_ATOL = 1e-6


def duck(lake_dir: str, tables) -> "duckdb.DuckDBPyConnection":  # noqa: F821
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake_dir}/{t}.parquet')"
        )
    return con


def normalize(pdf) -> list[tuple]:
    """Columns sorted by name, every value stringified, rows sorted -
    the oracle gate's comparison in ``tools/check_oracle.py`` (floats at fixed 6dp, signed zero
    dropped, NULL spelled out)."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object:
            pdf[c] = col.map(lambda v: "NULL" if v is None else str(v))
        elif str(col.dtype).startswith(("float", "Float")):

            def fmt(v):
                s = f"{v:.6f}"
                return s.lstrip("-") if s.startswith("-") and float(s) == 0.0 else s

            pdf[c] = col.map(lambda v: "NULL" if pd.isna(v) else fmt(v))
        else:
            pdf[c] = col.map(lambda v: "NULL" if pd.isna(v) else str(v))
    return sorted(map(tuple, pdf.values.tolist()))


def same_frame(got, want) -> str | None:
    """Exact-as-the-gate comparison of two pandas frames; returns a
    reason string on mismatch, None when equal."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if normalize(got) != normalize(want):
        return "values differ"
    return None


def unround(sql: str) -> tuple[str, dict]:
    """``sql`` with every ``ROUND(expr, d) AS alias`` replaced by
    ``(expr) AS alias``, and {alias: d} for the replaced columns."""
    out, digits, i = [], {}, 0
    for m in re.finditer(r"\bROUND\(", sql, re.I):
        if m.start() < i:
            continue  # inside a ROUND already replaced
        depth, comma, k = 0, None, m.end()
        while depth >= 0:
            ch = sql[k]
            depth += (ch == "(") - (ch == ")")
            if ch == "," and depth == 0:
                comma = k
            k += 1
        alias = re.match(r"\s+AS\s+(\w+)", sql[k:], re.I)
        d = sql[comma + 1 : k - 1].strip() if comma else ""
        if alias and d.isdigit():
            out.append(sql[i : m.start()] + "(" + sql[m.end() : comma] + ")")
            digits[alias.group(1)] = int(d)
            i = k
    out.append(sql[i:])
    return "".join(out), digits


def same_frame_at_ties(got, want, unrounded, digits: dict) -> str | None:
    """Second look at a gate mismatch. ``ROUND(x, d)`` of a double is
    ill-defined when x sits on a decimal tie (a sum of 4-decimal
    products at x.xx50): the engines accumulate in different orders and
    land on either side of it. Rows are aligned on their non-float
    columns; a rounded column may then differ by exactly one unit in
    its last place, and only where the unrounded oracle value is on the
    tie. Everything else must be equal as the gate compares it."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return "shape differs"
    cols = sorted(got.columns)
    keys = [c for c in cols if not str(want[c].dtype).startswith("float")]
    if not keys or not digits:
        return "values differ"

    def rows(pdf):
        return sorted(pdf[cols].itertuples(index=False),
                      key=lambda r: tuple(str(getattr(r, k)) for k in keys))

    for g, w, u in zip(rows(got), rows(want), rows(unrounded)):
        for c in cols:
            a, b = getattr(g, c), getattr(w, c)
            if c in keys:
                if str(a) != str(b) or str(getattr(u, c)) != str(b):
                    return f"{c}: {a!r} != {b!r}"
                continue
            if f"{a:.6f}" == f"{b:.6f}":
                continue
            d = digits.get(c)
            x = getattr(u, c) * 10**d if d is not None else None
            if d is None or abs(abs(a - b) - 10**-d) > 1e-9 or abs(abs(x - math.floor(x)) - 0.5) > 1e-6:
                return f"{c}: {a!r} != {b!r}"
    return None


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if (isinstance(a, float) and math.isnan(a)) or (isinstance(b, float) and math.isnan(b)):
            return isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b)
        return math.isclose(float(a), float(b), rel_tol=FLOAT_RTOL, abs_tol=FLOAT_ATOL)
    return a == b


def _py(v):
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    return v


def close_frame(got, want) -> str | None:
    """Order-insensitive comparison with float tolerance, for results
    whose floats are unrounded aggregates (sum/avg accumulate in a
    different order in the two engines)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)

    def rows(pdf):
        return sorted(
            (tuple(_py(v) for v in r) for r in pdf[cols].itertuples(index=False)),
            key=lambda r: tuple((v is None, round(v, 4) if isinstance(v, float) else v) for v in r),
        )

    for a, b in zip(rows(got), rows(want)):
        if not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {a} != {b}"
    return None


# -- hybrid search -------------------------------------------------------------
def hash_embed(text: str, dim: int = 64) -> np.ndarray:
    """The keyless hash embedder's definition: feature j is
    sha256(sha256(text) + "_j") scaled to [-1, 1], L2-normalized."""
    base = hashlib.sha256((text or "").encode("utf-8")).hexdigest()
    vals = np.array(
        [
            int(hashlib.sha256(f"{base}_{j}".encode("utf-8")).hexdigest()[:8], 16) / 2**31 - 1.0
            for j in range(dim)
        ]
    )
    return vals / (math.sqrt(float(vals @ vals)) or 1.0)


def round6(x: float) -> float:
    """Spark's ROUND(x, 6): half-up on the decimal expansion."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


class SearchOracle:
    """Brute-force ``Engine.search(q, k)`` over (doc_id, text): BM25
    (k1=1.2, b=0.75, terms above max_df_ratio dropped) top-k and
    exact cosine top-k over hash embeddings, fused by RRF (k=60)."""

    def __init__(self, ids, texts, dim: int = 64, max_df_ratio: float = 0.5):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.texts = list(texts)
        self.toks = [re.split(r"\s+", t.lower()) for t in self.texts]
        self.dl = np.array([len(t) for t in self.toks], dtype=np.float64)
        self.avgdl = float(self.dl.mean())
        self.max_df = max_df_ratio * len(self.texts)
        # float32 storage, as the embeddings column is array<float>
        self.emb = np.array([hash_embed(t, dim) for t in self.texts], dtype=np.float32).astype(
            np.float64
        )
        self.norms = np.sqrt((self.emb * self.emb).sum(axis=1))
        self.dim = dim

    @staticmethod
    def _top(scores: dict, k: int) -> list:
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def bm25(self, terms, k: int, k1: float = 1.2, b: float = 0.75) -> list:
        n = len(self.texts)
        scores: dict[int, float] = {}
        for term in sorted({t.lower() for t in terms if t}):
            tf = np.array([toks.count(term) for toks in self.toks], dtype=np.float64)
            df = int((tf > 0).sum())
            if df == 0 or df > self.max_df:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            contrib = idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * self.dl / self.avgdl))
            for i in np.nonzero(tf)[0]:
                d = int(self.ids[i])
                scores[d] = scores.get(d, 0.0) + float(contrib[i])
        return self._top({d: round6(s) for d, s in scores.items()}, k)

    def cosine(self, query: str, k: int) -> list:
        qv = hash_embed(query, self.dim)
        qn = math.sqrt(float(qv @ qv))
        ok = self.norms > 0
        s = (self.emb @ qv) / (self.norms * qn)
        return self._top({int(d): float(v) for d, v, o in zip(self.ids, s, ok) if o}, k)

    def search(self, query: str, k: int = 10, k_rrf: int = 60) -> list:
        """[(doc_id, score_rrf)] in result order."""
        terms = [t for t in query.lower().split() if t]
        fused: dict[int, float] = {}
        for ranking in (self.bm25(terms, k), self.cosine(query, k)):
            for rank, (d, _s) in enumerate(ranking, start=1):
                fused[d] = fused.get(d, 0.0) + 1.0 / (k_rrf + rank)
        return self._top({d: round6(s) for d, s in fused.items()}, k)


def same_search(got: list, want: list) -> str | None:
    """``got``/``want``: [(doc_id, score_rrf)] in result order. Ids
    must match as a set and scores position by position; a swap of
    two ids whose fused scores tie is not a difference."""
    if len(got) != len(want):
        return f"{len(got)} hits != {len(want)}"
    if {d for d, _ in got} != {d for d, _ in want}:
        return f"ids {sorted(d for d, _ in got)} != {sorted(d for d, _ in want)}"
    for (_, a), (_, b) in zip(got, want):
        if abs(a - b) > 1.5e-6:
            return f"scores {[s for _, s in got]} != {[s for _, s in want]}"
    return None


# -- d03 near duplicates ---------------------------------------------------------
def char_grams(text: str, n: int = 3) -> set:
    if len(text) < n:
        return {text}
    return {text[i : i + n] for i in range(len(text) - n + 1)}


def near_dup_pairs(ids, texts, threshold: float) -> dict:
    """Every pair (id_a < id_b) with char-3-gram Jaccard >= threshold
    -> Jaccard; brute force, for the few hundred documents d03 reads."""
    grams = [char_grams(t) for t in texts]
    order = np.argsort(ids)
    out = {}
    for x in range(len(order)):
        i = order[x]
        for y in range(x + 1, len(order)):
            j = order[y]
            a, b = grams[i], grams[j]
            inter = len(a & b)
            jac = inter / (len(a) + len(b) - inter)
            if jac >= threshold:
                out[(int(ids[i]), int(ids[j]))] = jac
    return out


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(suffix))
    return total
