import pytest

from spans import Tracer, self_times, tree


def _s(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name,
            "py4j_calls": 0}


def test_self_time_subtracts_children():
    spans = [_s(1, 0, 0.0, 10.0), _s(2, 1, 1.0, 3.0), _s(3, 1, 4.0, 8.0), _s(4, 3, 5.0, 6.0)]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 2.0 - 4.0)
    assert st[3] == pytest.approx(4.0 - 1.0)
    assert st[2] == pytest.approx(2.0)


def test_overlapping_children_count_once_and_are_clipped():
    # two worker-thread children overlap each other and run past the parent
    spans = [_s(1, 0, 0.0, 10.0), _s(2, 1, 2.0, 6.0), _s(3, 1, 4.0, 12.0)]
    assert self_times(spans)[1] == pytest.approx(2.0)


def test_tracer_nests_spans_and_builds_the_tree():
    t = Tracer("r")
    with t.span("outer"):
        with t.span("inner"):
            pass
    by = {s["name"]: s for s in t.spans}
    assert by["inner"]["parent"] == by["outer"]["id"]
    assert by["outer"]["run"] == "r"
    roots = tree(t.spans, self_times(t.spans))
    assert [r["name"] for r in roots] == ["outer"]
    assert [c["name"] for c in roots[0]["children"]] == ["inner"]


def test_wrap_and_restore():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    t = Tracer("r")
    t.wrap(mod, "f", lambda x: f"f{x}")
    assert mod.f(1) == 2
    assert [s["name"] for s in t.spans] == ["f1"]
    t.restore()
    assert mod.f is orig


def test_overhead_compares_each_traced_pass_with_the_next_untraced_one():
    from workloads import _overhead

    # a cold first pass, then tracing adds 0.5 s to a flat 8 s pass
    walls = [(False, 12.0), (True, 8.5), (False, 8.0), (True, 8.7), (False, 8.0)]
    assert _overhead(walls) == pytest.approx(0.6)
    assert _overhead([(False, 10.0), (True, 9.0)]) == 0.0


def test_py4j_counter_skips_object_free_commands():
    from py4j.clientserver import ClientServerConnection

    calls = []
    orig = ClientServerConnection.send_command
    ClientServerConnection.send_command = lambda self, cmd: calls.append(cmd)
    try:
        t = Tracer("r")
        t.count_py4j()
        ClientServerConnection.send_command(None, "c\no0\nfoo\ne\n")
        ClientServerConnection.send_command(None, "m\nd\no12\ne\n")
        t.restore()
    finally:
        ClientServerConnection.send_command = orig
    assert t.py4j == 1 and len(calls) == 2


def test_worker_thread_spans_hang_under_the_open_main_span():
    import threading

    t = Tracer("r")
    with t.span("outer"):
        def work():
            with t.span("worker"):
                pass
        th = threading.Thread(target=work)
        th.start()
        th.join()
    by = {s["name"]: s for s in t.spans}
    assert by["worker"]["parent"] == by["outer"]["id"]
