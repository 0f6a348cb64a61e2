"""The traced run: spans around the package's public functions, py4j
command counts, and Spark job/stage counts per span.

- A span records name, start, end, parent span and run id. Spans live
  in memory and are written when the run ends; self time is a span's
  duration minus the union of its children's intervals.
- ``install`` replaces module attributes (the names the callers look
  up, e.g. ``pipeline.decompose_query``) with span-opening wrappers;
  ``restore`` puts the originals back, so an untraced pass in the same
  process runs the package untouched.
- py4j commands are counted by wrapping ``send_command`` on both py4j
  connection classes (the hook ``tools/py4j_count.py`` uses), minus
  the object-free commands the Python GC sends; a span carries the
  count of commands sent while it was open.
- Spark counts come from the application status store
  (``sc._jsc.sc().statusStore()``), read once after the run and
  attributed by the job group the benchmark sets around each action.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench"
_FREE = "m\nd\n"  # py4j MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.py4j = 0
        self._paused = threading.local()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self._groups = itertools.count(1)
        self.active = False
        # a span opened on a worker thread (the ingest pool) hangs
        # under the span the creating thread has open at that moment
        self._main = self._stack()

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else (self._main[-1] if self._main else 0),
            "run": self.run_id,
            **attrs,
        }
        stack.append(rec["id"])
        py4j0 = self.py4j
        rec["wall_start"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            rec["py4j_calls"] = self.py4j - py4j0
            stack.pop()
            self.spans.append(rec)

    @contextmanager
    def action(self, sc, name: str, **attrs):
        """A top-level span whose Spark jobs carry their own job group."""
        group = f"{GROUP_PREFIX}-{self.run_id}-{next(self._groups)}"
        with self.quiet():
            sc.setJobGroup(group, name)
        try:
            with self.span(name, group=group, **attrs) as rec:
                yield rec
        finally:
            with self.quiet():
                sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def quiet(self):
        """py4j commands the tracer itself sends are not counted."""
        self._paused.on = True
        try:
            yield
        finally:
            self._paused.on = False

    # -- wrappers ---------------------------------------------------------
    def wrap(self, owner, attr: str, name=None) -> None:
        """Replace ``owner.attr`` by a wrapper opening span ``name``
        (a string, or a callable of the call's arguments)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            label = name(*a, **kw) if callable(name) else (name or attr)
            with tracer.span(label):
                return orig(*a, **kw)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def count_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        tracer = self
        for cls in (ClientServerConnection, GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                # "m\nd\n" frees a JVM object when a Python proxy is
                # garbage collected - at times the GC picks, so counting
                # it would make the count differ between identical runs
                if not (getattr(tracer._paused, "on", False) or command.startswith(_FREE)):
                    tracer.py4j += 1
                return _orig(conn, command, *a, **kw)

            self._patched.append((cls, "send_command", orig))
            cls.send_command = send_command

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- read-out ---------------------------------------------------------
    def by_name(self, name: str, passes=None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (passes is None or s.get("pass") in passes)
        ]


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's
    intervals (clipped to the span), in seconds."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def spark_counts(sc, tracer: Tracer, extra_groups=(), windows=()) -> dict[str, dict]:
    """Status-store counts {jobs, stages, tasks, shuffle_bytes,
    spill_bytes, input_records, executor_run_ms}, keyed by job group
    for the groups of ``tracer``'s action spans plus ``extra_groups``
    (streaming run ids), and by span id for each span in ``windows``
    over every job submitted while that span was open, whatever its
    group (jobs from worker threads carry none). Skipped stages
    (reused shuffle output) count no tasks."""
    with tracer.quiet():
        store = sc._jsc.sc().statusStore()
        stage_keys: dict[int, list] = {}
        out: dict = {}
        wanted_prefix = f"{GROUP_PREFIX}-{tracer.run_id}-"
        extra = set(extra_groups)
        for job in _seq(store.jobsList(None)):
            keys = []
            g = job.jobGroup()
            group = g.get() if g.isDefined() else None
            if group is not None and (group.startswith(wanted_prefix) or group in extra):
                keys.append(group)
            sub = job.submissionTime()
            if sub.isDefined():
                t = sub.get().getTime() / 1e3
                keys += [w["id"] for w in windows if w["wall_start"] <= t <= w["wall_end"]]
            for key in keys:
                out.setdefault(key, _zero())["jobs"] += 1
            for sid in _seq(job.stageIds()):
                stage_keys.setdefault(sid, []).extend(keys)
        arr = sc._gateway.new_array(sc._jvm.double, 0)
        for st in _seq(store.stageList(None, False, False, arr, None)):
            for key in stage_keys.get(st.stageId(), ()):
                rec = out[key]
                done = st.numCompleteTasks()
                rec["tasks"] += done
                rec["stages"] += 1 if done else 0
                rec["shuffle_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                rec["input_records"] += st.inputRecords()
                rec["executor_run_ms"] += st.executorRunTime()
    return out


def _zero() -> dict:
    return dict(jobs=0, stages=0, tasks=0, shuffle_bytes=0, spill_bytes=0,
                input_records=0, executor_run_ms=0)


def tree(spans: list[dict], selfs: dict[int, float]) -> list[dict]:
    """The span tree as nested dicts (times in ms), for the report."""
    nodes = {
        s["id"]: {
            "name": s["name"],
            "ms": round((s["end"] - s["start"]) * 1e3, 3),
            "self_ms": round(selfs[s["id"]] * 1e3, 3),
            "py4j_calls": s["py4j_calls"],
            "children": [],
        }
        for s in spans
    }
    roots = []
    for s in sorted(spans, key=lambda s: s["start"]):
        (nodes[s["parent"]]["children"] if s["parent"] in nodes else roots).append(nodes[s["id"]])
    return roots
