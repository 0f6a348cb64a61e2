"""The interactive workload's seeded analyst session and the scripted,
zero-latency LLM client that answers the planner from the script.

Every question is built from a template together with its script:
the sub-questions it decomposes into, and for each sub-question the
tables it needs, its route (SQL_QUERY or SEMANTIC_SEARCH) and its
SQL. The SQL is written in the dialect Spark SQL and DuckDB share, so
the same text is the oracle. Each session asks the same skewed
multiset of templates in seeded order; constants come from small
Zipf-skewed domains, so some questions repeat exactly and most differ
only in their constants. ``repeats`` counts the exact repeats.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

from gen import PART_TYPES, SEGMENTS, TAIL_WORDS, VOCAB

SQL_QUERY, SEMANTIC = "SQL_QUERY", "SEMANTIC_SEARCH"


@dataclass(frozen=True)
class Sub:
    text: str
    tables: tuple
    intent: str
    sql: str


@dataclass(frozen=True)
class Ask:
    question: str
    kind: str
    subs: tuple


def _years(y):
    return f"TIMESTAMP '{y}-01-01'", f"TIMESTAMP '{y + 1}-01-01'"


def _pick(rng, values, skew=1.2):
    """Zipf-skewed choice: the first values are drawn far more often."""
    w = 1.0 / np.arange(1, len(values) + 1) ** skew
    return values[int(rng.choice(len(values), p=w / w.sum()))]


def _single(rng, t: int) -> Sub:
    if t == 0:
        y = _pick(rng, [1997, 1996, 1998, 1995, 1999, 2000])
        lo, hi = _years(y)
        return Sub(
            f"What is the total o_totalprice per o_orderpriority for orders placed in {y}?",
            ("orders",), SQL_QUERY,
            "SELECT o_orderpriority, SUM(o_totalprice) AS total_price, "
            "COUNT(*) AS n_orders FROM orders "
            f"WHERE o_orderdate >= {lo} AND o_orderdate < {hi} "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        )
    if t == 1:
        q = _pick(rng, [40, 45, 30, 20, 10])
        y = _pick(rng, [1998, 1997, 1999, 1996])
        lo, hi = _years(y)
        return Sub(
            f"How many lineitems with l_quantity above {q} shipped in {y}?",
            ("lineitem",), SQL_QUERY,
            f"SELECT COUNT(*) AS n_items FROM lineitem WHERE l_quantity > {q} "
            f"AND l_shipdate >= {lo} AND l_shipdate < {hi}",
        )
    if t == 2:
        seg = _pick(rng, SEGMENTS)
        n = _pick(rng, [10, 5])
        return Sub(
            f"Which {n} customers in segment {seg} have the highest c_acctbal?",
            ("customer",), SQL_QUERY,
            "SELECT c_custkey, c_name, c_acctbal FROM customer "
            f"WHERE c_mktsegment = '{seg}' ORDER BY c_acctbal DESC, c_custkey LIMIT {n}",
        )
    if t == 3:
        d = _pick(rng, list(range(1, 30)), skew=0.6)
        return Sub(
            f"What is the average value per event_type on January {d}, 2024?",
            ("events",), SQL_QUERY,
            "SELECT event_type, AVG(value) AS avg_value, COUNT(*) AS n_events "
            f"FROM events WHERE ts >= TIMESTAMP '2024-01-{d:02d} 00:00:00' "
            f"AND ts < TIMESTAMP '2024-01-{d + 1:02d} 00:00:00' "
            "GROUP BY event_type ORDER BY event_type",
        )
    ptype = _pick(rng, PART_TYPES)
    s = _pick(rng, [10, 20, 30])
    return Sub(
        f"Which 5 brands have the most parts of type {ptype} with p_size at most {s}?",
        ("part",), SQL_QUERY,
        f"SELECT p_brand, COUNT(*) AS n_parts FROM part WHERE p_type = '{ptype}' "
        f"AND p_size <= {s} GROUP BY p_brand ORDER BY n_parts DESC, p_brand LIMIT 5",
    )


def _join(rng, t: int) -> Sub:
    if t == 0:
        y = _pick(rng, [1997, 1996, 1998, 1995, 1999])
        lo, hi = _years(y)
        return Sub(
            f"What is the total o_totalprice per c_mktsegment for orders placed in {y}?",
            ("orders", "customer"), SQL_QUERY,
            "SELECT c.c_mktsegment, SUM(o.o_totalprice) AS revenue, COUNT(*) AS n_orders "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            f"WHERE o.o_orderdate >= {lo} AND o.o_orderdate < {hi} "
            "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment",
        )
    if t == 1:
        k = _pick(rng, list(range(25)), skew=0.8)
        d = _pick(rng, [0.05, 0.08, 0.02])
        return Sub(
            f"Which 5 suppliers from NATION_{k} have the most lineitems "
            f"with l_discount above {d}?",
            ("lineitem", "supplier"), SQL_QUERY,
            "SELECT s.s_name, COUNT(*) AS n_items FROM lineitem l "
            "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
            f"WHERE s.s_nationkey = {k} AND l.l_discount > {d} "
            "GROUP BY s.s_name ORDER BY n_items DESC, s.s_name LIMIT 5",
        )
    ptype = _pick(rng, PART_TYPES)
    return Sub(
        f"What is the average l_quantity per p_brand for parts of type {ptype}?",
        ("lineitem", "part"), SQL_QUERY,
        "SELECT p.p_brand, AVG(l.l_quantity) AS avg_qty, COUNT(*) AS n_items "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
        f"WHERE p.p_type = '{ptype}' GROUP BY p.p_brand ORDER BY p.p_brand",
    )


# topic words of middling frequency: present in a few percent of
# documents, so a lookup returns a handful of rows
_TOPIC_WORDS = VOCAB[len(VOCAB) - len(TAIL_WORDS) + 20 : len(VOCAB) - len(TAIL_WORDS) + 80]


def _semantic(rng) -> Sub:
    w1 = _pick(rng, _TOPIC_WORDS, skew=0.7)
    w2 = _pick(rng, _TOPIC_WORDS, skew=0.7)
    return Sub(
        f"Tell me about documents related to {w1} and {w2}.",
        ("documents",), SEMANTIC,
        "SELECT doc_id, lang, n_chars FROM documents "
        f"WHERE text LIKE '%{w1}%' AND text LIKE '%{w2}%' "
        "ORDER BY n_chars DESC, doc_id LIMIT 10",
    )


def make_ask(rng, kind: str, templates: tuple) -> Ask:
    """An ask of ``kind`` built from ``templates``: ("single", t) and
    ("join", t) name a template, one per sub-question."""
    makers = {"single": _single, "join": _join}
    if kind == "semantic":
        subs = (_semantic(rng),)
    else:
        subs = tuple(makers[k](rng, t) for k, t in templates)
        # a repeated sub-question would collapse in QueryResult.sql
        subs = tuple(dict.fromkeys(subs))
    return Ask(" ".join(s.text for s in subs), kind, subs)


def make_search(rng) -> str:
    n = int(rng.integers(2, 4))
    words = [_pick(rng, _TOPIC_WORDS, skew=0.9) for _ in range(n)]
    if rng.random() < 0.3:  # a stopword-grade term, dropped by max_df_ratio
        words.append(VOCAB[int(rng.integers(0, 5))])
    return " ".join(words)


# One session: the same multiset of templates every time, skewed
# toward the popular ones (orders and lineitem questions come twice).
# The seed draws the order and the constants; the constants are
# Zipf-skewed, so some questions repeat exactly, within a session and
# against the warm session, while most differ only in their constants.
# A fixed multiset makes every session cost about the same, whatever
# the seed. The mix and the Zipf exponents are assumptions, not taken
# from a measured query log.
SESSION = (
    [("single", (("single", t),)) for t in (0, 0, 1, 1, 2, 3, 4)]
    + [("join", (("join", t),)) for t in (0, 1)]
    + [("multi", (("single", 0), ("join", 2))),
       ("multi", (("single", 1), ("single", 3), ("join", 0))),
       ("semantic", ())]
)
SEARCHES_PER_SESSION = 2


def session(seed: int, k: int) -> list[tuple[str, object]]:
    """Session ``k`` of the stream: the SESSION asks in seeded order,
    with SEARCHES_PER_SESSION searches spread evenly."""
    rng = np.random.default_rng([seed, 10, k])
    order = rng.permutation(len(SESSION))
    every = len(SESSION) // SEARCHES_PER_SESSION
    turns: list[tuple[str, object]] = []
    for i, j in enumerate(order):
        turns.append(("ask", make_ask(rng, *SESSION[j])))
        if (i + 1) % every == 0:
            turns.append(("search", make_search(rng)))
    return turns


def warm_session(seed: int) -> list[tuple[str, object]]:
    """A single-table ask, a semantic ask and a search, for the
    untimed set-up."""
    rng = np.random.default_rng([seed, 11])
    firsts = {}
    for kind, templates in SESSION:
        firsts.setdefault(kind, templates)
    turns: list[tuple[str, object]] = [
        ("ask", make_ask(rng, k, firsts[k])) for k in ("single", "semantic")
    ]
    turns.append(("search", make_search(rng)))
    return turns


def repeats(seed: int, k: int = 0) -> dict[str, tuple[int, int]]:
    """(repeated, total) asks, sub-questions and searches in session
    ``k``, where a repeat is a turn the warm session or an earlier turn
    of session ``k`` already issued word for word: the most an
    exact-match plan or result cache could serve in that session."""
    keys = {
        "asks": lambda kind, x: [x.question] if kind == "ask" else [],
        "sub_questions": lambda kind, x: [s.text for s in x.subs] if kind == "ask" else [],
        "searches": lambda kind, x: [x] if kind == "search" else [],
    }
    out = {}
    for name, key in keys.items():
        seen = {i for kind, x in warm_session(seed) for i in key(kind, x)}
        items = [i for kind, x in session(seed, k) for i in key(kind, x)]
        hits = 0
        for i in items:
            hits += i in seen
            seen.add(i)
        out[name] = (hits, len(items))
    return out


class ScriptedClient:
    """``plans.client.LLMClient`` that answers the four planner
    prompts (decompose, table-select, route, SQL-gen) from the
    script, with no latency. A prompt it has no script for raises,
    which the planner swallows into its keyless fallback; the
    benchmark catches that by comparing ``QueryResult.sql`` with the
    script."""

    def __init__(self, asks=()):
        self.decomp: dict[str, list[str]] = {}
        self.subs: dict[str, Sub] = {}
        for a in asks:
            self.add(a)

    def add(self, ask: Ask) -> None:
        self.decomp[ask.question] = [s.text for s in ask.subs]
        for s in ask.subs:
            self.subs[s.text] = s

    @staticmethod
    def _question(user: str) -> str:
        return user.rsplit("Question: ", 1)[-1].strip()

    def complete(self, system: str, user: str, json_mode: bool = False) -> str:
        if system.startswith("Split the user question"):
            return json.dumps({"queries": self.decomp[user]})
        if system.startswith("Given a catalog of logical tables"):
            sub = self.subs[self._question(user)]
            return json.dumps({"tables_required": list(sub.tables), "join_key": None})
        if system.startswith("Classify the question"):
            return json.dumps({"intent": self.subs[user].intent})
        if system.startswith("Generate a valid Spark SQL"):
            sub = self.subs[self._question(user)]
            return json.dumps({"sql_query": sub.sql, "explanation": "scripted"})
        raise KeyError(f"no script for prompt: {system[:40]!r}")
