"""The generators are pure functions of the seed."""

import hashlib
import os

import gen


def _digest(tables):
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        h.update(str(tables[name].to_pydict()).encode())
    return h.hexdigest()


def test_lake_is_deterministic_per_seed_and_differs_across_seeds():
    a = gen.lake_tables(7, scale=0.002)
    b = gen.lake_tables(7, scale=0.002)
    c = gen.lake_tables(8, scale=0.002)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert {t.num_rows for t in (a["orders"], c["orders"])} == {3000}
    assert sorted(a) == sorted(gen.LAKE_TABLES)


def test_lake_plants_duplicates():
    texts = gen.lake_tables(3, scale=0.01)["documents"].column("text").to_pylist()
    assert len(set(texts)) < len(texts)


def _files(root):
    out = {}
    for f in sorted(os.listdir(root)):
        with open(os.path.join(root, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_ingest_inputs_are_byte_identical_per_seed(tmp_path):
    docs = gen.lake_tables(5, scale=0.002)["documents"]
    e1 = gen.ingest_inputs(str(tmp_path / "a"), 5, docs)
    e2 = gen.ingest_inputs(str(tmp_path / "b"), 5, docs)
    e3 = gen.ingest_inputs(str(tmp_path / "c"), 6, docs)
    assert e1 == e2
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert e1["orders_export"]["rows"] == gen.INGEST_CSV_ROWS
    assert e1["orders_export"]["nulls"]["amount"] > 0
    assert set(e1) == {"orders_export", "inventory", "activity", "finance_ledger",
                       "finance_rates", "corpus"}


def test_arrivals_are_deterministic_and_carry_duplicates():
    corpus = gen.doc_texts(__import__("numpy").random.default_rng(1), 50)
    a = gen.arrival_batches(4, corpus, 1000)
    assert a == gen.arrival_batches(4, corpus, 1000)
    assert a != gen.arrival_batches(5, corpus, 1000)
    ids = [d for b in a for d, _ in b]
    assert ids == list(range(1000, 1000 + gen.ARRIVAL_FILES * gen.ARRIVAL_DOCS))
    fresh = gen.doc_texts(__import__("numpy").random.default_rng([4, 3]), len(ids))
    assert sum(t != f for (_, t), f in zip((x for b in a for x in b), fresh)) > 0
