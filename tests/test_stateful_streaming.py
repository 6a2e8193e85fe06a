"""Cross-batch state continuation for the applyInPandasWithState
sessionizer: two micro-batches (two files, maxFilesPerTrigger=1) must
produce the same sessions as single-batch processing — sessions spanning
the batch boundary continue from state instead of restarting.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from agol_pandas_spark.streaming.stateful import sessionize_stateful
from agol_pandas_spark.streaming.windows import (
    stream_from_directory,
    write_stream_to_memory,
)


def _ts_us(df):
    """Event time as epoch-µs long, whatever the physical encoding of ``ts``
    (ns-long under nanosAsLong, or µs TimestampType)."""
    from pyspark.sql import types as T

    if isinstance(df.schema["ts"].dataType, T.LongType):
        return F.expr("ts div 1000")
    return F.unix_micros(F.col("ts").cast("timestamp"))


def _final_sessions(spark, name: str):
    """Update-mode memory sinks append every emission; the latest update
    for a (user, session_start) supersedes earlier opens."""
    return {
        (r.user_id, r.session_start_us): r.n
        for r in spark.table(name)
        .groupBy("user_id", "session_start_us")
        .agg(F.max("n_events").alias("n"))
        .collect()
    }


def test_sessions_continue_across_batches(spark, sf_dir, tmp_path):
    ev = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .select("user_id", "ts")
    )
    ev = ev.select("user_id", _ts_us(ev).alias("ts_us"))
    mid = ev.approxQuantile("ts_us", [0.5], 0.0)[0]

    landing = tmp_path / "landing"
    landing.mkdir()
    # flat single files (a nested dataset directory per file confuses the
    # file stream source's listing); mod times force batch1 to process
    # first so event time is monotone across micro-batches
    import pyarrow as pa
    import pyarrow.parquet as pq

    for fname, pdf, mtime in [
        ("batch1.parquet", ev.filter(F.col("ts_us") <= mid).toPandas(), 1_000_000),
        ("batch2.parquet", ev.filter(F.col("ts_us") > mid).toPandas(), 2_000_000),
    ]:
        path = str(landing / fname)
        pq.write_table(pa.Table.from_pandas(pdf), path)
        os.utime(path, (mtime, mtime))

    schema = "user_id long, ts_us long"
    stream = stream_from_directory(spark, str(landing), schema, max_files_per_trigger=1)
    sessions = sessionize_stateful(stream.groupBy("user_id"))
    q = write_stream_to_memory(sessions, "two_batch_sessions", output_mode="update")
    q.awaitTermination()
    assert q.lastProgress is not None

    # batch-mode oracle: gap sessionization over the whole table at once
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts_us")
    gap_us = 30 * 60 * 1_000_000
    batch = (
        ev.withColumn("__prev", F.lag("ts_us").over(w))
        .withColumn(
            "__new",
            (F.col("__prev").isNull() | (F.col("ts_us") - F.col("__prev") >= gap_us))
            .cast("int"),
        )
        .withColumn(
            "__sess",
            F.sum("__new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "__sess")
        .agg(F.min("ts_us").alias("session_start_us"), F.count(F.lit(1)).alias("n"))
    )
    want = {(r.user_id, r.session_start_us): r.n for r in batch.collect()}
    got = _final_sessions(spark, "two_batch_sessions")
    assert got == want


def test_stream_merge_into_catalog_upsert(spark, sf_dir, tmp_path):
    """Two micro-batches of latest-event-per-user upserts must land the
    same table as a single batch merge of batch2 over batch1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.streaming.sinks import stream_merge_into_catalog

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ev = ev.select("user_id", _ts_us(ev).alias("ts_us"), "value")
    mid = ev.approxQuantile("ts_us", [0.5], 0.0)[0]

    def latest_per_user(df):
        from agol_pandas_spark.operators.dedup import latest_wins_dedup

        return latest_wins_dedup(df, ["user_id"], "ts_us")

    b1 = latest_per_user(ev.filter(F.col("ts_us") <= mid)).toPandas()
    b2 = latest_per_user(ev.filter(F.col("ts_us") > mid)).toPandas()

    landing = tmp_path / "merge_landing"
    landing.mkdir()
    for fname, pdf, mtime in [("b1.parquet", b1, 1_000_000), ("b2.parquet", b2, 2_000_000)]:
        path = str(landing / fname)
        pq.write_table(pa.Table.from_pandas(pdf), path)
        os.utime(path, (mtime, mtime))

    cat = Catalog(spark, str(tmp_path / "cat"))
    stream = stream_from_directory(
        spark, str(landing), "user_id long, ts_us long, value double"
    )
    q = stream_merge_into_catalog(stream, cat, "user_latest", key="user_id")
    q.awaitTermination()

    got = {
        (r.user_id): (r.ts_us, r.value) for r in cat.table("user_latest").collect()
    }
    want = {r.user_id: (r.ts_us, r.value) for r in latest_per_user(ev).collect()}
    assert got == want


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Replayed records inside the watermark dedupe across micro-batches;
    the first occurrence survives."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from agol_pandas_spark.streaming.windows import (
        stream_dedup_within_watermark,
        write_stream_to_memory,
    )
    import pandas as pd

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def pdf(rows):
        return pd.DataFrame(rows, columns=["k", "ts"])

    landing = tmp_path / "dedup_landing"
    landing.mkdir()
    batches = [
        pdf([("a", t0), ("b", t0 + dt.timedelta(minutes=1))]),
        # replay of 'a' within watermark + a fresh key
        pdf([("a", t0 + dt.timedelta(minutes=2)), ("c", t0 + dt.timedelta(minutes=3))]),
    ]
    # µs timestamps: pandas→arrow default is ns, which Spark (under the
    # engine's nanosAsLong conf) reads as INT64, clashing with the declared
    # timestamp schema
    schema = pa.schema([("k", pa.string()), ("ts", pa.timestamp("us"))])
    for i, b in enumerate(batches):
        path = str(landing / f"b{i}.parquet")
        pq.write_table(pa.Table.from_pandas(b, schema=schema), path)
        os.utime(path, (1_000_000 * (i + 1), 1_000_000 * (i + 1)))

    stream = stream_from_directory(spark, str(landing), "k string, ts timestamp")
    deduped = stream_dedup_within_watermark(stream, ["k"], watermark="1 hour")
    q = write_stream_to_memory(deduped, "dedup_stream", output_mode="append")
    q.awaitTermination()
    rows = {(r.k, r.ts) for r in spark.table("dedup_stream").collect()}
    assert rows == {
        ("a", t0),
        ("b", t0 + dt.timedelta(minutes=1)),
        ("c", t0 + dt.timedelta(minutes=3)),
    }


def test_late_data_beyond_watermark_dropped(spark, tmp_path):
    """A record arriving after its window was finalized (watermark passed
    the window end in an earlier batch) is dropped; it neither reopens the
    window nor emits a duplicate row in append mode."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from agol_pandas_spark.streaming.windows import (
        windowed_counts,
        write_stream_to_memory,
    )

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    h = dt.timedelta(hours=1)
    schema = pa.schema(
        [("ts", pa.timestamp("us")), ("event_type", pa.string()),
         ("value", pa.float64())]
    )
    landing = tmp_path / "late_landing"
    landing.mkdir()
    cols = ["ts", "event_type", "value"]
    batches = [
        # b0: watermark advances to 12:50 for the next batch
        pd.DataFrame([(t0, "click", 1.0), (t0 + 3 * h, "click", 1.0)], columns=cols),
        # b1: processed under wm=12:50 -> the 10:00 window (end 11:00)
        # finalizes and emits n=1
        pd.DataFrame([(t0 + 3.5 * h, "click", 1.0)], columns=cols),
        # b2: a record for the CLOSED 10:00 window + an on-time event
        pd.DataFrame([(t0 + dt.timedelta(minutes=5), "click", 100.0),
                      (t0 + 5 * h, "click", 1.0)], columns=cols),
    ]
    for i, b in enumerate(batches):
        path = str(landing / f"b{i}.parquet")
        pq.write_table(pa.Table.from_pandas(b, schema=schema), path)
        os.utime(path, (1_000_000 * (i + 1), 1_000_000 * (i + 1)))

    stream = stream_from_directory(
        spark, str(landing), "ts timestamp, event_type string, value double"
    )
    wc = windowed_counts(stream, watermark="10 minutes")
    q = write_stream_to_memory(wc, "late_probe", output_mode="append")
    q.awaitTermination()
    got = {
        (r.window_start, r.n_events, r.total_value)
        for r in spark.table("late_probe").collect()
    }
    # 10:00 window emitted exactly once with only the on-time event (the
    # late 100.0 neither merged nor re-emitted); 13:00 window has both its
    # events; the 15:00 window never finalizes (wm stops at 14:50)
    assert got == {
        (t0, 1, 1.0),
        (t0 + 3 * h, 2, 2.0),
    }


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """A restarted stream with the same checkpoint must skip files already
    committed and process only arrivals — the exactly-once-over-restarts
    contract a production ingestion pipeline relies on."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.streaming.sinks import stream_merge_into_catalog

    landing = tmp_path / "ckpt_landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    cat = Catalog(spark, str(tmp_path / "ckpt_cat"))

    def land(fname, rows, mtime):
        path = str(landing / fname)
        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame(rows, columns=["k", "v"])), path
        )
        os.utime(path, (mtime, mtime))

    from agol_pandas_spark.operators.merge import write_table

    def run():
        stream = stream_from_directory(spark, str(landing), "k long, v long")

        def apply(bdf, bid):
            if not bdf.isEmpty():
                write_table(cat, bdf, "t", mode="upsert", key="k")

        q = (
            stream.writeStream.foreachBatch(apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land("f1.parquet", [(1, 10), (2, 20)], 1_000_000)
    run()
    assert {(r.k, r.v) for r in cat.table("t").collect()} == {(1, 10), (2, 20)}

    # second run: f1 already committed in the checkpoint; only f2 applies.
    # f2 updates k=2 and adds k=3 — if f1 were reprocessed the upsert would
    # still pass, so prove skipping via the batch row count too
    land("f2.parquet", [(2, 21), (3, 30)], 2_000_000)
    processed = []

    stream = stream_from_directory(spark, str(landing), "k long, v long")

    def apply_batch(bdf, bid):
        n = bdf.count()
        if n:
            processed.append(n)
            write_table(cat, bdf, "t", mode="upsert", key="k")

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert processed == [2], f"resume reprocessed old files: {processed}"
    assert {(r.k, r.v) for r in cat.table("t").collect()} == {
        (1, 10), (2, 21), (3, 30),
    }


def test_append_once_fingerprint_dedup(spark, tmp_path):
    """append_once: same content (any partitioning/order) is a no-op;
    different content appends; fingerprint survives column reorder of
    rows but keys only on key_cols."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.streaming.sinks import append_once

    cat = Catalog(spark, str(tmp_path / "idem"))
    b1 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, s string")
    assert append_once(cat, b1, "t", ["k"]) is True
    assert cat.table("t").count() == 3
    # exact redelivery, different partition layout -> no-op
    assert append_once(cat, b1.repartition(5), "t", ["k"]) is False
    assert cat.table("t").count() == 3
    # genuinely new batch appends
    b2 = spark.createDataFrame([(9, "z")], "k long, s string")
    assert append_once(cat, b2, "t", ["k"]) is True
    assert cat.table("t").count() == 4


def test_append_once_fingerprint_collision_resistant(spark, tmp_path):
    """ADVICE r6 regression: raw-column aggregates confused key sets
    with equal count/sum/xor ({0,5} vs {1,4}) and XOR-cancelled
    duplicated rows ({7,7} vs {8,8}) — both pairs must append as
    DISTINCT batches under the per-row-hash fingerprint."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.streaming.sinks import append_once

    cat = Catalog(spark, str(tmp_path / "fp"))
    mk = lambda ks: spark.createDataFrame([(k, "x") for k in ks], "k long, s string")
    assert append_once(cat, mk([0, 5]), "t", ["k"]) is True
    assert append_once(cat, mk([1, 4]), "t", ["k"]) is True  # was skipped pre-fix
    assert cat.table("t").count() == 4
    assert append_once(cat, mk([7, 7]), "u", ["k"]) is True
    assert append_once(cat, mk([8, 8]), "u", ["k"]) is True  # xor cancels, sum differs
    assert cat.table("u").count() == 4
    # true redelivery still deduplicates
    assert append_once(cat, mk([1, 4]).repartition(3), "t", ["k"]) is False
    assert cat.table("t").count() == 4


def test_cdf_tail_spools_exactly_once_and_maintains(spark, tmp_path):
    """CdfTail bookkeeping: each version transition spools exactly once
    (idempotent re-advance), the spool carries _commit_version, and a
    batch read of the spool replayed through apply_cdf_to_summary equals
    the recompute — the streaming IVM loop's invariants."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.views import apply_cdf_to_summary
    from agol_pandas_spark.streaming.cdf_source import CdfTail

    cat = Catalog(spark, str(tmp_path / "cdftail"))
    mk = lambda hi, bump: spark.createDataFrame(
        [(k, f"g{k % 3}", k * 10 + bump) for k in range(hi)],
        "k long, g string, v long",
    )
    cat.write(mk(20, 0), "t")
    cat.write(mk(25, 0), "t", mode="overwrite", keep_versions=8)
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool"))
    assert tail.advance() == 0          # single archive: no pair yet
    cat.write(mk(25, 7), "t", mode="overwrite", keep_versions=8)
    assert tail.advance() == 1          # v1 -> v2
    assert tail.advance() == 0          # idempotent
    assert tail.advance(include_current=True) == 1   # v2 -> HEAD
    assert tail.advance(include_current=True) == 0   # head spooled once

    spooled = tail.read_spool(spark)
    assert set(
        r["_commit_version"] for r in spooled.select("_commit_version").distinct().collect()
    ) == {2, 3}

    def summarize(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("v_sum")
        )

    maintained = apply_cdf_to_summary(
        summarize(cat.table_at("t", 1)), spooled, ["g"], {"v_sum": "v"}
    )
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, summarize(cat.table("t")).collect())
    )
    tail.close()
    assert not os.path.exists(tail.spool_dir)


def test_cdf_tail_head_spool_not_reemitted_after_next_commit(spark, tmp_path):
    """After a head catch-up, the next commit archives that same state
    under the next version number — the tail must recognize it by commit
    id and advance WITHOUT re-emitting the delta (double-counted sums
    otherwise), then emit only the genuinely-new transition."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.views import apply_cdf_to_summary
    from agol_pandas_spark.streaming.cdf_source import CdfTail

    cat = Catalog(spark, str(tmp_path / "cdfho"))
    mk = lambda hi, bump: spark.createDataFrame(
        [(k, f"g{k % 3}", k * 10 + bump) for k in range(hi)],
        "k long, g string, v long",
    )
    cat.write(mk(20, 0), "t")
    cat.write(mk(24, 0), "t", mode="overwrite", keep_versions=8)
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool_ho"))
    assert tail.advance(include_current=True) == 1   # v1 -> HEAD(v2 state)
    cat.write(mk(24, 5), "t", mode="overwrite", keep_versions=8)
    # archives now [1, 2]; v2 IS the state spooled as head: no re-emit,
    # and the new head (v2 -> v3 state) spools once
    assert tail.advance(include_current=True) == 1
    spooled = tail.read_spool(spark)

    def summarize(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("v_sum")
        )

    maintained = apply_cdf_to_summary(
        summarize(cat.table_at("t", 1)), spooled, ["g"], {"v_sum": "v"}
    )
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, summarize(cat.table("t")).collect())
    )
    tail.close()


def test_cdf_tail_vacuumed_gap_emits_squashed_delta(spark, tmp_path):
    """A vacuumed intermediate version must not open a silent hole in
    the stream: the tail emits the SQUASHED table_changes(prev, next)
    across the gap, and the maintained summary still converges."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.views import apply_cdf_to_summary
    from agol_pandas_spark.streaming.cdf_source import CdfTail

    cat = Catalog(spark, str(tmp_path / "cdfgap"))
    mk = lambda hi, bump: spark.createDataFrame(
        [(k, f"g{k % 3}", k * 10 + bump) for k in range(hi)],
        "k long, g string, v long",
    )
    cat.write(mk(20, 0), "t")
    cat.write(mk(22, 0), "t", mode="overwrite", keep_versions=8)
    cat.write(mk(22, 3), "t", mode="overwrite", keep_versions=8)
    cat.write(mk(26, 3), "t", mode="overwrite", keep_versions=8)
    # archives [1,2,3]; vacuum keeps the newest 2 -> [2,3]: the v1->v2
    # delta is gone as a pair, but a tail starting at the earliest
    # SURVIVING archive streams v2->v3 and v3->HEAD
    cat.vacuum("t", keep_last=2)
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool_gap"))
    assert tail.advance(include_current=True) == 2
    spooled = tail.read_spool(spark)

    def summarize(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("v_sum")
        )

    maintained = apply_cdf_to_summary(
        summarize(cat.table_at("t", 2)), spooled, ["g"], {"v_sum": "v"}
    )
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, summarize(cat.table("t")).collect())
    )
    # and a mid-history vacuum between two surviving archives squashes:
    cat2 = Catalog(spark, str(tmp_path / "cdfgap2"))
    cat2.write(mk(20, 0), "u")
    cat2.write(mk(22, 0), "u", mode="overwrite", keep_versions=8)
    t2 = CdfTail(cat2, "u", key="k", spool_dir=str(tmp_path / "spool_gap2"))
    cat2.write(mk(22, 3), "u", mode="overwrite", keep_versions=8)
    cat2.write(mk(26, 3), "u", mode="overwrite", keep_versions=8)
    import shutil as _sh

    _sh.rmtree(cat2._version_path("u", 2))  # drop v2: gap [1, 3]
    assert t2.advance() == 1  # squashed v1 -> v3, one transition
    sp2 = t2.read_spool(spark)
    m2 = apply_cdf_to_summary(
        summarize(cat2.table_at("u", 1)), sp2, ["g"], {"v_sum": "v"}
    )
    assert sorted(map(tuple, m2.collect())) == sorted(
        map(tuple, summarize(cat2.table_at("u", 3)).collect())
    )
    tail.close()
    t2.close()


def test_cdf_tail_raises_on_vacuumed_watermark(spark, tmp_path):
    """Code-review r8: when the watermark version itself is vacuumed
    before its outgoing transition spooled, the delta is unrecoverable —
    the tail must raise CdfGapError, never stream past a silent hole.
    And a head spool archived under keep_versions=1 must NOT wedge the
    tail (commit-id recognition works without a pair iteration)."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import CdfGapError
    from agol_pandas_spark.streaming.cdf_source import CdfTail

    mk = lambda cat, hi, bump, name: cat.write(
        spark.createDataFrame(
            [(k, f"g{k % 3}", k * 10 + bump) for k in range(hi)],
            "k long, g string, v long",
        ),
        name,
        mode="overwrite" if cat.exists(name) else "error",
        keep_versions=1,
    )
    # wedge-free head recognition with a single-element archive list
    cat = Catalog(spark, str(tmp_path / "cdfk1"))
    mk(cat, 20, 0, "t")
    mk(cat, 22, 0, "t")
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "sp1"))
    assert tail.advance(include_current=True) == 1   # v1 -> HEAD
    mk(cat, 22, 5, "t")  # archives now ONLY [2] (v1 vacuumed), state C at 2
    assert tail.advance(include_current=True) == 1   # v2 -> new HEAD, no wedge

    # unrecoverable hole: two commits land, keep_versions=1 drops the
    # archive holding the spooled head state -> CdfGapError
    cat2 = Catalog(spark, str(tmp_path / "cdfk2"))
    mk(cat2, 20, 0, "u")
    mk(cat2, 22, 0, "u")
    t2 = CdfTail(cat2, "u", key="k", spool_dir=str(tmp_path / "sp2"))
    assert t2.advance(include_current=True) == 1
    mk(cat2, 22, 5, "u")
    mk(cat2, 24, 5, "u")  # archive of the spooled state vacuumed
    import pytest as _pytest

    with _pytest.raises(CdfGapError, match="vacuumed"):
        t2.advance(include_current=True)
    tail.close()
    t2.close()


def test_cdf_tail_fresh_attach_and_unarchived_displacement(spark, tmp_path):
    """Code-review r8 round 2: (a) a tail attached BEFORE the table's
    first archive exists must stream normally once archives appear (the
    0 sentinel is not a vacuumed version); (b) a keep_versions=0 commit
    that displaces the spooled head state UNARCHIVED must raise
    CdfGapError, not silently freeze the consumer."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import CdfGapError
    from agol_pandas_spark.streaming.cdf_source import CdfTail

    mk = lambda hi, bump: spark.createDataFrame(
        [(k, f"g{k % 3}", k * 10 + bump) for k in range(hi)],
        "k long, g string, v long",
    )
    # (a) fresh attach: no archives yet
    cat = Catalog(spark, str(tmp_path / "fresh"))
    cat.write(mk(20, 0), "t")
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spf"))
    assert tail.advance() == 0  # nothing to stream, nothing to raise
    cat.write(mk(22, 0), "t", mode="overwrite", keep_versions=8)
    assert tail.advance(include_current=True) == 1  # v1 -> HEAD flows
    # (b) unarchived displacement of the spooled head
    cat.write(mk(24, 0), "t", mode="overwrite")  # keep_versions=0!
    import pytest as _pytest

    with _pytest.raises(CdfGapError, match="no surviving archive"):
        tail.advance(include_current=True)
    tail.close()


def test_adaptive_state_partitions_local_and_remote(spark, tmp_path):
    """Byte-derived drain sizing (r11 change 14) must be SCHEME-safe
    (VERDICT r11 item 4): a local landing dir sizes by bytes, but a
    non-local URI (s3a://, hdfs://) without a reachable filesystem must
    resolve to the session ceiling — never silently to 1 partition (a
    serial drain at exactly the scale where partitioning matters)."""
    from agol_pandas_spark.streaming.windows import adaptive_state_partitions

    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # tiny local dir -> 1 partition (provably-small drain shrinks)
    d = tmp_path / "landing"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 1024)
    assert adaptive_state_partitions(spark, str(d)) == 1

    # unreachable object-store URI -> session ceiling, not 1
    assert (
        adaptive_state_partitions(spark, "s3a://bucket/landing")
        == ceiling
    )
    # file:// URIs still size locally
    assert adaptive_state_partitions(spark, f"file://{d}") == 1
    # a small local dir beside an unreachable remote one still gives the
    # ceiling: the unsized remote bytes could need every partition
    assert (
        adaptive_state_partitions(spark, str(d), "s3a://bucket/landing")
        == ceiling
    )
