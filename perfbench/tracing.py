"""Tracing for the benchmark's traced run, all from outside the engine.

- :class:`Tracer` records spans (name, layer, start, end, parent, op id)
  around each op, its builder call and its action, and around every
  wrapped public call of ``Catalog`` and ``operators.merge``; it also
  counts py4j ``send_command`` round trips and catalog file/byte writes.
  Wrappers are installed only for the traced run and removed afterwards.
- :class:`SparkProbe` reads what Spark already keeps: the job/stage
  status store and the SQL status store's per-execution metrics (the
  Python-worker exchange counters).
"""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import re
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager

#: Catalog methods wrapped in the traced run, by metric family
CATALOG_COMMIT = ("write", "stage", "commit_staged", "write_with_carryover", "write_local")
CATALOG_READ = ("table",)
CATALOG_META = ("table_changes", "history", "vacuum")
#: methods whose call commits a snapshot (counted once, outermost only)
COMMIT_METHODS = ("commit_staged", "write_with_carryover", "write_local")
MERGE_FUNCS = ("write_table", "merge", "merge_pruned")


def walk_files(root: str, data_only: bool = False) -> dict[int, int]:
    """Inode -> size of every regular file under ``root`` (a directory or
    a single file), hard links counted once; ``data_only`` keeps Parquet
    data files only. Empty when ``root`` does not exist."""
    paths = [root] if os.path.isfile(root) else (
        os.path.join(dp, f) for dp, _, fs in os.walk(root) for f in fs
        if not data_only or (f.endswith(".parquet") and not f.startswith(("_", "."))))
    out: dict[int, int] = {}
    for path in paths:
        try:
            st = os.lstat(path)
        except FileNotFoundError:  # removed by a concurrent commit
            continue
        out[st.st_ino] = st.st_size
    return out


class Tracer:
    """In-memory span recorder plus the wrappers that feed it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()  # per current op, reset by begin_op
        self.op_id: int | None = None
        #: span of the current op: the parent of spans opened on threads
        #: the op starts (e.g. a pool of overlapped catalog writes)
        self.op_span: int | None = None
        self.py4j_calls = 0
        self._lock = threading.Lock()  # ops may call the engine from several threads
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        """Record one span, child of the innermost open span of this
        thread (else of the current op's span)."""
        stack = self._stack()
        parent = stack[-1]["id"] if stack else self.op_span
        rec = {"id": next(self._ids), "name": name, "layer": layer, "op": self.op_id,
               "parent": parent, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id
        self.counts = Counter()

    def _add(self, deltas: dict[str, float]) -> None:
        with self._lock:
            self.counts.update(deltas)

    def _open(self, layer: str, names=None) -> bool:
        """True when this thread has an open span of ``layer`` (restricted
        to span ``names`` when given)."""
        return any(s["layer"] == layer and (names is None or s["name"] in names)
                   for s in self._stack())

    # -- wrappers -------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self, gateway_client) -> None:
        """Wrap ``Catalog`` methods, ``operators.merge`` functions and the
        py4j client's ``send_command``."""
        from agol_pandas_spark.catalog import Catalog

        # the package re-exports a ``merge`` function over the submodule name
        merge_mod = importlib.import_module("agol_pandas_spark.operators.merge")

        for attr in CATALOG_COMMIT + CATALOG_READ + CATALOG_META:
            self._patch(Catalog, attr, self._wrap_catalog(getattr(Catalog, attr), attr))
        for attr in MERGE_FUNCS:
            orig = getattr(merge_mod, attr)
            wrapped = self._wrap_merge(orig, attr)
            # rebind every module-level alias (``from ... import merge``)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("agol_pandas_spark") and \
                        getattr(mod, attr, None) is orig:
                    self._patch(mod, attr, wrapped)

        cls = type(gateway_client)
        orig_send = cls.send_command
        tracer = self

        @functools.wraps(orig_send)
        def send_command(client, *a, **kw):
            with tracer._lock:
                tracer.py4j_calls += 1
            return orig_send(client, *a, **kw)

        self._patch(cls, "send_command", send_command)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _wrap_catalog(self, orig, attr: str):
        tracer = self
        family = ("commit" if attr in CATALOG_COMMIT else
                  "table" if attr in CATALOG_READ else "meta")
        commit_spans = tuple(f"catalog.{m}" for m in COMMIT_METHODS)

        @functools.wraps(orig)
        def wrapper(cat, *a, **kw):
            top = not tracer._open("catalog")
            # files are counted at the outermost committing call only
            counting = attr in COMMIT_METHODS and not tracer._open("catalog", commit_spans)
            if counting:
                target = cat.path(a[1] if len(a) > 1 else kw["name"])
                before = walk_files(target, data_only=True)
            t0 = time.perf_counter()
            try:
                with tracer.span(f"catalog.{attr}", "catalog"):
                    return orig(cat, *a, **kw)
            finally:
                if top:
                    tracer._add({f"catalog.{family}_s": time.perf_counter() - t0})
                if counting and os.path.exists(target):
                    after = walk_files(target, data_only=True)
                    new = {i: s for i, s in after.items() if i not in before}
                    tracer._add({"catalog.commits": 1, "catalog.files_written": len(new),
                                 "catalog.bytes_written": sum(new.values()),
                                 "catalog.files_carried": len(after) - len(new)})

        return wrapper

    def _wrap_merge(self, orig, attr: str):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            top = not tracer._open("merge")
            t0 = time.perf_counter()
            try:
                with tracer.span(f"merge.{attr}", "merge"):
                    out = orig(*a, **kw)
            finally:
                if top:
                    tracer._add({"merge.s": time.perf_counter() - t0})
            if attr == "merge_pruned" and out.get("files_total") is not None:
                # files_total is None when the merge fell back to a full rewrite
                tracer._add({"merge.files_total": out["files_total"],
                             "merge.files_rewritten": out["files_rewritten"]})
            return out

        return wrapper

    # -- derived --------------------------------------------------------

    def self_times(self, op_id: int) -> dict[str, float]:
        """Self time per layer for one op: each span's duration minus the
        part of it that its child spans cover (children on other threads
        are clipped to the parent and may overlap each other)."""
        spans = [s for s in self.spans if s["op"] == op_id and s["end"] is not None]
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: Counter = Counter()
        for s in spans:
            clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], ())]
            out[s["layer"]] += (s["end"] - s["start"]) - union_length(clipped)
        return dict(out)


_VALUE = re.compile(r"([0-9.]+)\s*(ns|ms|s|min|h|B|KiB|MiB|GiB|TiB)\b")
_SCALE = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
#: SQL metric name -> benchmark metric name
EXCHANGE_METRICS = {
    "time to run Python workers": "exchange.python_run_s",
    "time to start Python workers": "exchange.python_start_s",
    "time to initialize Python workers": "exchange.python_init_s",
    "data sent to Python workers": "exchange.bytes_to_python",
    "data returned from Python workers": "exchange.bytes_from_python",
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric, e.g. ``"total (min, med, max
    ...)\\n2.3 s (359 ms, ...)"`` -> 2.3 (seconds or bytes)."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    return float(m.group(1)) * _SCALE[m.group(2)] if m else 0.0


def _ms(opt_date) -> int | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


class SparkProbe:
    """Per-op execution metrics read from Spark's own status stores."""

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int]:
        """(next job id, SQL executions so far)."""
        return int(self.jsc.dagScheduler().nextJobId()), int(self.sql_store.executionsCount())

    def collect(self, before: tuple[int, int], after: tuple[int, int],
                t0: float, t1: float) -> dict[str, float]:
        """Metrics of jobs ``[before, after)`` and of the SQL executions
        started in between; ``t0``/``t1`` are the op's epoch bounds."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        m: Counter = Counter()
        intervals, stage_ids = [], set()
        for jid in range(before[0], after[0]):
            job = store.job(jid)
            m["spark.jobs"] += 1
            start, end = _ms(job.submissionTime()), _ms(job.completionTime())
            if start is not None and end is not None:
                intervals.append((max(start / 1e3, t0), min(end / 1e3, t1)))
            it = job.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            m["spark.stages"] += 1
            m["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            m["spark.failed_tasks"] += st.numFailedTasks()
            m["spark.executor_run_s"] += st.executorRunTime() / 1e3
            m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["spark.gc_s"] += st.jvmGcTime() / 1e3
            m["spark.input_bytes"] += st.inputBytes()
            m["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            m["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            sub, first = _ms(st.submissionTime()), _ms(st.firstTaskLaunchedTime())
            if sub is not None and first is not None:
                m["spark.sched_wait_s"] += max(0, first - sub) / 1e3
        m["spark.exec_s"] = union_length(intervals)
        n = after[1] - before[1]
        if n > 0:
            seen = set()
            it = self.sql_store.executionsList(before[1], n).iterator()
            while it.hasNext():
                ex = it.next()
                values = self.sql_store.executionMetrics(ex.executionId())
                mi = ex.metrics().iterator()
                while mi.hasNext():
                    pm = mi.next()
                    key = EXCHANGE_METRICS.get(pm.name())
                    if key is None or pm.accumulatorId() in seen:
                        continue
                    seen.add(pm.accumulatorId())
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        m[key] += parse_sql_metric(v.get())
        return dict(m)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
