"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload analytics_read --seed 1 \\
        --seconds 10 --trace 0

Generates the seeded inputs (``datagen.py``), starts one driver on
``local[<cpus>]`` and sets the workload up. It then times the cold pass:
every op once, in canonical order, in the fresh session, which is what a
job that runs each op once waits for. ``setup_s`` is the time from
interpreter start to the end of its first op, input generation left out;
``first_pass_s`` is the whole cold pass. Whole warm passes, in seeded op
order, follow until ``--seconds`` have elapsed since the cold pass began
(none when the cold pass takes longer). Last, every op runs once more and
its output is checked against DuckDB, outside the timed passes.
Each op releases the session's cached blocks, rebuilds its DataFrame and
materializes it through a noop sink before the next op starts.

Only the cold pass is bounded: on a shared 4-vCPU host the warm passes of
one run got up to 40% faster one after the other (JIT and engine warm-up
that had not settled after five passes), and the first warm pass spread
about twice as much from run to run as the cold pass.

``--trace 0`` measures the end-to-end metrics with no tracing installed.
``--trace 1`` then runs one uncounted warm pass, one untraced pass and at
least ``TRACED_PASSES`` traced ones, and reports the per-layer metrics of
the traced passes (see ``tracing.py``), the untraced pass's time and the
tracing overhead.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``
with the metrics named in ``BENCHMARK.json``; the line before it is the
full self-describing record (cpus, sf, seed, every metric with its unit,
the per-op breakdown), also written to ``--out``.

Everything the run writes lives in ``.perfbench_work/run-<pid>`` under the
checkout and is deleted at exit. The runner adopts every process it starts
directly or indirectly (the JVM, its launcher shell, Spark's Python workers,
the DuckDB check process) and stops and waits for each before it exits, on
every path out, a SIGTERM included.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms steps)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


#: perf_counter() reading at interpreter start
T_START = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

import datagen  # noqa: E402
from tracing import SparkProbe, Tracer, walk_files  # noqa: E402
from workloads import (ANALYTICS_READ, LLM_CURATION, TABLE, Context,  # noqa: E402
                       expected_results, make_deltas, pass_order,
                       registry_op, setup_write_table, table_rows, write_ops)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics_read", "llm_curation", "write_modes")
#: traced passes in a ``--trace 1`` run: two, so the count metrics can be
#: checked to repeat exactly
TRACED_PASSES = 2

#: end-to-end metrics of the result line (all of them nonzero by nature)
E2E_METRICS = ("setup_s", "first_pass_s")
E2E_UNITS = {"setup_s": "s", "first_pass_s": "s", "first_op_gmean_s": "s",
             "pass_s": "s", "op_gmean_s": "s", "op_p50_s": "s", "op_p90_s": "s",
             "peak_mem_mb": "MiB", "peak_rss_mb": "MiB", "ops_failed_frac": "ratio",
             "write_amp": "ratio", "space_amp": "ratio"}


#: ``prctl`` option that makes this process adopt its orphaned descendants
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every descendant whose parent exits first (the launcher shell
    that ``spark-submit`` leaves behind, Python workers that outlive the
    JVM), so that :func:`reap_children` can stop and wait for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def child_pids() -> list[int]:
    """Pids whose parent is this process, from ``/proc``."""
    me, out = os.getpid(), []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(p))
    return out


def reap_children(grace: float = 10.0) -> None:
    """Stop multiprocessing's resource tracker, then send SIGTERM to every
    remaining child (SIGKILL after ``grace`` seconds) and wait until none
    is left. With :func:`become_subreaper` this covers every descendant."""
    import signal
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_fd", None) is not None and hasattr(tracker, "_stop"):
        tracker._stop()  # it ignores SIGTERM and exits when its pipe closes
    deadline, sig = time.monotonic() + grace, signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children at all, not even unreaped ones
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in child_pids():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_s") or name == "merge.s":
        return "s"
    if "bytes" in name:
        return "B"
    if name in ("merge.rewrite_ratio", "write_amp", "space_amp"):
        return "ratio"
    return "count"


#: per-pass totals reported by the traced run, in output order
LAYER_METRICS = (
    "workload.build_s", "workload.build_jobs", "workload.driver_s", "workload.py4j_calls",
    "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.sched_wait_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.input_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.failed_tasks",
    "exchange.python_run_s", "exchange.python_start_s", "exchange.python_init_s",
    "exchange.bytes_to_python", "exchange.bytes_from_python",
    "catalog.commits", "catalog.files_written", "catalog.bytes_written",
    "catalog.files_carried", "catalog.commit_s", "catalog.table_s", "catalog.meta_s",
    "merge.s", "merge.files_total", "merge.files_rewritten",
)
#: per-run values reported by the traced run
RUN_METRICS = ("session.start_s", "session.warm_s", "peak_mem_mb", "merge.rewrite_ratio",
               "tmp_bytes_left", "write_amp", "space_amp", "warm_pass_s", "trace_overhead_s")
#: counts that must repeat exactly from one traced pass to the next
EXACT_COUNTS = ("spark.jobs", "workload.build_jobs", "catalog.files_written",
                "merge.files_rewritten")


def dir_bytes(path: str) -> int:
    """Bytes of the files under ``path``, hard links counted once."""
    return sum(walk_files(path).values())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            continue
    return total_kb / 1024.0


def reset_peak_rss(pids: list[int]) -> None:
    """Restart the kernel's peak-RSS (VmHWM) count of ``pids``, so the
    peak covers the measured passes only, not the output check's
    collected results."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def jvm_memory_pools(spark) -> list:
    """The JVM's heap and non-heap memory pools (``MemoryPoolMXBean``)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return list(mf.getMemoryPoolMXBeans())


def jvm_peak_used_mb(pools: list) -> dict[str, float]:
    """Sum of the pools' peak used bytes since their last reset, in MiB,
    for heap and non-heap pools: what the JVM's data needed, not what the
    collector chose to commit."""
    out = {"jvm_heap": 0.0, "jvm_non_heap": 0.0}
    for p in pools:
        kind = "jvm_heap" if str(p.getType().name()) == "HEAP" else "jvm_non_heap"
        out[kind] += p.getPeakUsage().getUsed() / 2**20
    return out


def quantile(values: list[float], q: float) -> float:
    """The ``q`` quantile of ``values``, linearly interpolated."""
    s = sorted(values)
    n = len(s)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.tmp_dir = os.path.join(work, "tmp")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer = None
        self.probe = None
        self.bookkeeping = 0.0

    # -- session -----------------------------------------------------------

    def start_session(self):
        from agol_pandas_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp_dir}",
            # the traced run finds an op's SQL executions by their position
            # in the status store, so none may be evicted during a run
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.ctx.spark = self.spark
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def process_pids(self) -> list[int]:
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc if SparkContext._gateway else None
        return [os.getpid()] + ([proc.pid] if proc is not None else [])

    # -- ops -----------------------------------------------------------------

    def ops_for_pass(self, pass_idx: int):
        """The ops of pass ``pass_idx`` in order (-1: canonical order)."""
        w = self.args.workload
        if w == "write_modes":
            return write_ops(self.ctx, self.deltas)
        names = ANALYTICS_READ if w == "analytics_read" else LLM_CURATION
        if pass_idx >= 0:
            names = pass_order(names, self.args.seed, pass_idx)
        return [registry_op(self.ctx, self.registry, n) for n in names]

    def run_op(self, op, traced: bool = False) -> dict | None:
        """Run one op; returns its timings (and trace metrics), or None
        when it raised."""
        from agol_pandas_spark.session import release_session_blocks

        release_session_blocks(self.spark)
        rec: dict = {"op": op.name}
        try:
            if not traced:
                t0 = time.perf_counter()
                df = op.build()
                if df is not None:
                    df.write.format("noop").mode("overwrite").save()
                rec["s"] = time.perf_counter() - t0
                return rec
            return self._run_traced(op, rec)
        except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
            self.failed += 1
            self.failures.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            print(f"op {op.name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        finally:
            self.attempted += 1

    def _run_traced(self, op, rec: dict) -> dict:
        tr, probe = self.tracer, self.probe
        op_id = len(self.trace_ops)
        tr.begin_op(op_id)
        walk = op.counts_write
        b0 = time.perf_counter()
        before_files = walk_files(self.ctx.catalog_root) if walk else None
        mark0 = probe.mark()
        self.bookkeeping += time.perf_counter() - b0
        e0, t0 = time.time(), time.perf_counter()
        with tr.span(op.name, "workload") as sp:
            tr.op_span = sp["id"]
            py0 = tr.py4j_calls
            with tr.span("build", "workload") as build:
                df = op.build()
            py1 = tr.py4j_calls
            mark1 = probe.mark()
            if df is not None:
                with tr.span("action", "workload"):
                    df.write.format("noop").mode("overwrite").save()
        t1, e1 = time.perf_counter(), time.time()
        tr.op_span = None
        b0 = time.perf_counter()
        mark2 = probe.mark()
        spark_m = probe.collect(mark0, mark2, e0, e1)
        rec.update(spark_m)
        rec.update(tr.counts)
        rec["s"] = t1 - t0
        rec["workload.build_s"] = build["end"] - build["start"]
        rec["workload.build_jobs"] = mark1[0] - mark0[0]
        rec["workload.py4j_calls"] = py1 - py0
        rec["workload.driver_s"] = max(0.0, rec["s"] - spark_m.get("spark.exec_s", 0.0))
        rec["self_s"] = tr.self_times(op_id)
        if walk:
            after = walk_files(self.ctx.catalog_root)
            rec["new_catalog_bytes"] = sum(s for i, s in after.items() if i not in before_files)
        self.trace_ops.append(rec)
        self.bookkeeping += time.perf_counter() - b0
        return rec

    # -- phases --------------------------------------------------------------

    def setup(self, gen_s: float) -> dict:
        """Cold set-up: session start (JVM launch), registry import and
        workload set-up."""
        from agol_pandas_spark.workload import load_all

        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        self.registry = load_all()
        if self.args.workload == "write_modes":
            setup_write_table(self.ctx)
        t2 = time.perf_counter()
        return {"session.start_s": t1 - t0, "ready": t2,
                "parts": {"interpreter": t0 - T_START - gen_s, "start": t1 - t0,
                          "workload": t2 - t1}}

    def cold_pass(self) -> dict:
        """Every op once, in canonical order, in the fresh session: what a
        job that runs each op once waits for after its set-up. The first
        op's end also ends the set-up."""
        ops = self.ops_for_pass(-1)
        t0 = time.perf_counter()
        recs = []
        for op in ops:
            recs.append(self.run_op(op))
            if len(recs) == 1:
                first_op_end = time.perf_counter()
        t1 = time.perf_counter()
        return {"first_pass_s": t1 - t0, "start": t0, "first_op_end": first_op_end,
                "op_s": {r["op"]: r["s"] for r in recs if r}}

    def check(self) -> dict:
        """Every op once, in canonical order, each output checked against
        DuckDB, after the timed passes. The DuckDB side runs in a separate
        process while Spark works."""
        import multiprocessing
        from concurrent.futures import ProcessPoolExecutor

        from agol_pandas_spark.catalog import Catalog
        from agol_pandas_spark.session import release_session_blocks
        from tools.local_correctness import canonical_hash

        ops = self.ops_for_pass(-1)
        steps = [(o.name, o.oracle, o.replay, o.final_state) for o in ops]
        results: dict[str, str] = {}
        got: dict[str, dict] = {}
        t0 = time.perf_counter()
        ctx = multiprocessing.get_context("spawn")
        # lowest CPU priority: DuckDB takes the cores Spark leaves idle
        with ProcessPoolExecutor(max_workers=1, mp_context=ctx, initializer=os.nice,
                                 initargs=(19,)) as pool:
            fut = pool.submit(expected_results, self.data_dir, steps)
            for op in ops:
                release_session_blocks(self.spark)
                self.attempted += 1
                rec = got[op.name] = {}
                try:
                    df = op.build()
                    if df is not None:
                        cols = df.columns
                        rec["oracle"] = (sorted(cols), canonical_hash(df.collect(), cols))
                    if op.replay:
                        rec["rows"] = Catalog(self.spark, self.ctx.catalog_root).row_count(TABLE)
                    if op.final_state:
                        rec["table"] = canonical_hash(*reversed(table_rows(self.ctx)))
                except Exception:  # noqa: BLE001 - counted as a failed check
                    results[op.name] = "error: " + traceback.format_exc(limit=2)
            want = fut.result()
        for name, rec in got.items():
            if name in results:
                continue
            diff = [k for k in want[name] if rec.get(k) != want[name][k]]
            results[name] = f"mismatch in {diff}" if diff else "ok"
        bad = {k: v for k, v in results.items() if v != "ok"}
        for k, v in bad.items():
            self.failed += 1
            self.failures.append(f"check {k}: {v}")
            print(f"check {k}: {v}", file=sys.stderr)
        return {"check_s": time.perf_counter() - t0, "checked": len(results),
                "check_failed": sorted(bad)}

    def measure(self, start: float) -> dict:
        """Whole warm passes, in seeded op order, until ``--seconds`` have
        elapsed since the cold pass began at ``start``; there may be none.
        With tracing, an uncounted warm-up pass comes first, then one
        untraced pass, then at least ``TRACED_PASSES`` traced ones: the
        first pass after the cold one still ran 10-20% slower than the
        next, which would have hidden the tracing overhead."""
        args = self.args
        traced_mode = bool(args.trace)
        if traced_mode:
            self.tracer, self.probe = Tracer(), SparkProbe(self.spark)
        self.trace_ops: list[dict] = []
        passes: list[dict] = []
        op_lat: list[float] = []
        op_s: dict[str, list[float]] = {}
        warmups = 1 if traced_mode else 0
        i = 0
        while time.perf_counter() - start < args.seconds or (traced_mode and (
                i < warmups + 1 + TRACED_PASSES)):
            traced = traced_mode and i > warmups
            if traced:  # wrappers live for the traced passes only
                self.tracer.install(self.spark.sparkContext._gateway._gateway_client)
            try:
                ops = self.ops_for_pass(i)
                self.bookkeeping = 0.0
                first = len(self.trace_ops)
                tmp0 = dir_bytes(self.tmp_dir)
                p0 = time.perf_counter()
                recs = [self.run_op(op, traced) for op in ops]
                wall = time.perf_counter() - p0 - self.bookkeeping
            finally:
                if traced:
                    self.tracer.uninstall()
            rec = {"pass": i, "warmup": i < warmups, "traced": traced, "pass_s": wall,
                   "tmp_bytes_left": dir_bytes(self.tmp_dir) - tmp0}
            if traced:
                rec.update(self._pass_layers(self.trace_ops[first:]))
            elif i >= warmups:
                for r in filter(None, recs):
                    op_lat.append(r["s"])
                    op_s.setdefault(r["op"], []).append(r["s"])
            passes.append(rec)
            i += 1
        out = {"passes": passes, "op_samples": len(op_lat), "op_s": op_s,
               "elapsed_s": time.perf_counter() - start}
        untraced = [p["pass_s"] for p in passes if not (p["traced"] or p["warmup"])]
        if untraced:
            out.update(pass_s=statistics.median(untraced),
                       op_gmean_s=statistics.geometric_mean(op_lat),
                       op_p50_s=statistics.median(op_lat), op_p90_s=quantile(op_lat, 0.9))
        return out

    def _pass_layers(self, recs: list[dict]) -> dict:
        tot: Counter = Counter()
        for r in recs:
            for k in LAYER_METRICS:
                tot[k] += r.get(k, 0)
        out = {k: tot[k] for k in LAYER_METRICS}
        out["merge.rewrite_ratio"] = (tot["merge.files_rewritten"] / tot["merge.files_total"]
                                      if tot["merge.files_total"] else 0.0)
        if self.args.workload == "write_modes":
            written = sum(r.get("new_catalog_bytes", 0) for r in recs)
            out["write_amp"] = written / self.delta_bytes
            from agol_pandas_spark.catalog import Catalog

            live = dir_bytes(Catalog(self.spark, self.ctx.catalog_root).path(TABLE))
            out["space_amp"] = dir_bytes(self.ctx.catalog_root) / live
        else:
            out["write_amp"] = out["space_amp"] = 0.0
        return out

    # -- driver ----------------------------------------------------------------

    def run(self) -> dict:
        a = self.args
        os.makedirs(self.tmp_dir, exist_ok=True)
        g0 = time.perf_counter()
        datagen.write_tables(self.data_dir, a.seed, a.sf)
        self.ctx = Context(None, self.data_dir, os.path.join(self.work, "catalog"))
        self.deltas = {}
        if a.workload == "write_modes":
            self.deltas = make_deltas(self.data_dir, os.path.join(self.work, "deltas"), a.seed)
            self.delta_bytes = sum(os.path.getsize(p) for p in self.deltas.values())
        gen_s = time.perf_counter() - g0
        setup = self.setup(gen_s)
        pools = jvm_memory_pools(self.spark)
        for pool in pools:
            pool.resetPeakUsage()
        reset_peak_rss(self.process_pids())
        cold = self.cold_pass()
        meas = self.measure(cold["start"])
        cpus = int(self.spark.sparkContext.defaultParallelism)
        mem = {"python_rss": peak_rss_mb([os.getpid()]), **jvm_peak_used_mb(pools)}
        peak_rss = peak_rss_mb(self.process_pids())
        check = self.check()
        e2e = {"setup_s": cold["first_op_end"] - T_START - gen_s,
               "first_pass_s": cold["first_pass_s"],
               "first_op_gmean_s": statistics.geometric_mean(cold["op_s"].values()),
               "peak_mem_mb": sum(mem.values()), "peak_rss_mb": peak_rss,
               "ops_failed_frac": self.failed / max(1, self.attempted)}
        e2e.update((k, meas[k]) for k in ("pass_s", "op_gmean_s", "op_p50_s", "op_p90_s")
                   if k in meas)
        record = {
            "workload": a.workload, "seed": a.seed, "sf": a.sf, "cpus": cpus,
            "work_dir": os.path.relpath(self.work, ROOT),
            "trace": a.trace, "seconds": a.seconds,
            "correct": self.failed == 0, "attempted": self.attempted,
            "failed": self.failed, "failures": self.failures[:20],
            "gen_s": gen_s, "peak_mem_parts_mb": mem,
            "setup_parts": dict(setup["parts"], first_op=cold["first_op_end"] - setup["ready"]),
            "first_pass_op_s": cold["op_s"], "check": check,
            "measure_s": meas["elapsed_s"], "passes": meas["passes"],
            # a warm pass times each op once: op_p50_s and op_p90_s rest on
            # one sample of one op each
            "op_samples": meas["op_samples"], "op_s": meas["op_s"],
        }
        traced = [p for p in meas["passes"] if p["traced"]]
        if traced:
            layers = {k: statistics.median(p[k] for p in traced)
                      for k in LAYER_METRICS + ("merge.rewrite_ratio", "write_amp", "space_amp")}
            layers["session.start_s"] = setup["session.start_s"]
            layers["session.warm_s"] = cold["first_op_end"] - setup["ready"]
            layers["peak_mem_mb"] = e2e["peak_mem_mb"]
            layers["tmp_bytes_left"] = statistics.median(p["tmp_bytes_left"] for p in traced)
            layers["warm_pass_s"] = meas["pass_s"]
            layers["trace_overhead_s"] = (statistics.median(p["pass_s"] for p in traced)
                                          - meas["pass_s"])
            record["exact_counts_differ"] = [
                k for k in EXACT_COUNTS if len({p[k] for p in traced}) > 1]
            if a.workload == "write_modes":
                e2e["write_amp"], e2e["space_amp"] = layers["write_amp"], layers["space_amp"]
            record["per_op"] = per_op_breakdown(self.trace_ops)
            metrics = {k: {"value": layers[k], "unit": layer_unit(k)}
                       for k in LAYER_METRICS + RUN_METRICS}
        else:
            metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in E2E_METRICS}
        record["end_to_end"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        if traced:
            record["per_layer"] = metrics
            record["spans"] = len(self.tracer.spans)
        self.spans = self.tracer.spans if self.tracer else []
        record["metrics"] = metrics
        return record


def per_op_breakdown(recs: list[dict]) -> dict:
    """Median of each traced metric per op name."""
    by: dict[str, list[dict]] = {}
    for r in recs:
        by.setdefault(r["op"], []).append(r)
    out = {}
    for name, rs in sorted(by.items()):
        keys = {k for r in rs for k, v in r.items() if isinstance(v, (int, float))}
        row = {k: statistics.median(r.get(k, 0) for r in rs) for k in sorted(keys)}
        layers = {k for r in rs for k in r.get("self_s", {})}
        row["self_s"] = {k: statistics.median(r["self_s"].get(k, 0.0) for r in rs)
                         for k in sorted(layers)}
        out[name] = row
    return out


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="time from the cold pass's start after which no warm pass begins")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="scale factor of the inputs")
    ap.add_argument("--out", help="also write the full record (and spans) to this JSON file")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    import signal

    args = parse_args(argv)
    become_subreaper()
    # a SIGTERM unwinds like an exception, so the clean-up below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run_checkout(args)
    finally:
        reap_children()


def run_checkout(args) -> int:
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    # Spark's Python workers import the engine too: put the checkout on
    # their path before the session starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [HERE, ROOT]
    try:
        import duckdb  # noqa: F401
        import agol_pandas_spark
        from tools import local_correctness  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(agol_pandas_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine was imported from {agol_pandas_spark.__file__},"
              f" not from the checkout {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    bench = Bench(args, work)
    try:
        record = bench.run()
    finally:
        try:
            bench.close()
        finally:
            reap_children()  # nothing may still write into ``work``
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    if args.out:
        with open(args.out, "w") as f:
            json.dump(dict(record, span_list=bench.spans), f)
    metrics = record.pop("metrics")
    print(json.dumps(record))
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
