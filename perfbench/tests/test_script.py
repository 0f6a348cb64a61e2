"""Every question the interactive workload can ask is fully scripted,
and its SQL runs on the oracle engine."""

import json
import os

import duckdb
import pyarrow.parquet as pq
import pytest

import gen
import script

DECOMPOSE = "Split the user question into the minimal list"
SELECT = "Given a catalog of logical tables and their columns"
ROUTE = "Classify the question as SEMANTIC_SEARCH"
SQLGEN = "Generate a valid Spark SQL query over the given temp views"


def _asks(seed, sessions=30):
    turns = list(script.warm_session(seed))
    for k in range(sessions):
        turns += script.session(seed, k)
    return [a for kind, a in turns if kind == "ask"]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_every_question_has_a_complete_script(seed):
    asks = _asks(seed)
    client = script.ScriptedClient(asks)
    for a in asks:
        subs = json.loads(client.complete(DECOMPOSE, a.question, True))["queries"]
        assert subs == [s.text for s in a.subs]
        for s in a.subs:
            sel = json.loads(client.complete(SELECT, f"Catalog:\nx\n\nQuestion: {s.text}", True))
            assert sel["tables_required"] == list(s.tables)
            assert json.loads(client.complete(ROUTE, s.text, True))["intent"] == s.intent
            out = json.loads(client.complete(SQLGEN, f"Schema:\n\nQuestion: {s.text}", True))
            assert out["sql_query"] == s.sql
    with pytest.raises(KeyError):
        client.complete(SQLGEN, "Question: not in the script")


def test_prompts_match_the_planner():
    """The client keys on the planner's system prompts."""
    from parquet_pipeline_spark.plans import planner

    assert planner._DECOMPOSE_SYSTEM.startswith(DECOMPOSE)
    assert planner._SELECT_SYSTEM.startswith(SELECT)
    assert planner._SQL_SYSTEM.startswith(SQLGEN)


def test_sessions_are_seeded_and_mix_every_kind():
    a, b, c = script.session(1, 0), script.session(1, 0), script.session(2, 0)
    assert a == b and a != c
    kinds = sorted(x.kind for k, x in a if k == "ask")
    assert kinds == sorted(kind for kind, _ in script.SESSION)
    assert sum(k == "search" for k, _ in a) == script.SEARCHES_PER_SESSION
    questions = [x.question for k, x in script.session(1, 0) + script.session(1, 1)
                 + script.session(1, 2) if k == "ask"]
    assert len(set(questions)) < len(questions)  # skewed draws repeat


def test_repeats_counts_word_for_word_repeats():
    turns = script.session(1, 0)
    asks = [x for k, x in turns if k == "ask"]
    got = script.repeats(1)
    assert got["asks"][1] == len(asks) == len(script.SESSION)
    assert got["sub_questions"][1] == sum(len(a.subs) for a in asks)
    assert got["searches"][1] == script.SEARCHES_PER_SESSION
    warm = {x.question for k, x in script.warm_session(1) if k == "ask"}
    want = len(asks) - len({a.question for a in asks} - warm)
    assert got["asks"][0] == want


def test_scripted_sql_runs_on_duckdb(tmp_path):
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    for name, t in gen.lake_tables(1, scale=0.002).items():
        pq.write_table(t, os.path.join(lake, f"{name}.parquet"))
    con = duckdb.connect()
    for t in gen.LAKE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet')")
    for sql in {s.sql for a in _asks(1, 10) for s in a.subs}:
        con.execute(sql).fetchall()

