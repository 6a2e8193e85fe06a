"""Paged-connector skeleton (sources/paged.py): pagination, parallel page
partitions, retry-policy absorption of transient failures, schema
fidelity, and the sequential unknown-total fallback — against in-memory
and parquet-backed mock services (no network)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from agol_pandas_spark.sources.paged import (
    ParquetPagedClient,
    RetryPolicy,
    read_paged,
)
from agol_pandas_spark.sources.http_mock import serve_layer as _fake_arcgis_server
from agol_pandas_spark.sources.paged_mock import MemoryClient as _Mem
from agol_pandas_spark.sources.paged_mock import NoProjectMemoryClient as _NoProj


def MemoryClient(rows, known_total=True, flaky_failures=0, supported_ops=None):
    return _Mem(
        rows,
        SCHEMA,
        known_total=known_total,
        flaky_failures=flaky_failures,
        supported_ops=supported_ops,
    )

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("score", DoubleType()),
        StructField("rank", IntegerType()),
        StructField("ts", TimestampType()),
    ]
)


def _rows(n):
    return [
        (
            i,
            None if i % 7 == 0 else f"row-{i}",
            i * 0.5,
            i % 3,
            dt.datetime(2026, 1, 1) + dt.timedelta(minutes=i),
        )
        for i in range(n)
    ]


FAST_RETRY = RetryPolicy(max_attempts=4, max_backoff=0.01)


def test_pagination_exactly_once(spark):
    rows = _rows(95)
    df = read_paged(spark, MemoryClient(rows), page_size=10, policy=FAST_RETRY)
    assert df.rdd.getNumPartitions() == 10  # one task per page
    got = sorted(r["id"] for r in df.collect())
    assert got == list(range(95))  # no dup, no drop across page boundaries


def test_source_registered_once_per_session(spark, monkeypatch):
    """``agol_paged`` is registered once per session: a second read on the
    same session skips the registration. Spark keeps Python data sources
    in the session state, so a new session registers its own and reads —
    also while the active session already holds the name."""
    from pyspark.sql.datasource import DataSourceRegistration

    calls = []
    real = DataSourceRegistration.register

    def counting(self, data_source):
        calls.append(self.sparkSession)
        return real(self, data_source)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    read_paged(spark, MemoryClient(_rows(3)), page_size=5, policy=FAST_RETRY)
    calls.clear()
    s1 = spark.newSession()
    for _ in range(2):
        df = read_paged(s1, MemoryClient(_rows(12)), page_size=5, policy=FAST_RETRY)
    assert calls == [s1]
    assert sorted(r["id"] for r in df.collect()) == list(range(12))

    s2 = s1.newSession()
    df = read_paged(s2, MemoryClient(_rows(12)), page_size=5, policy=FAST_RETRY)
    assert calls == [s1, s2]
    assert sorted(r["id"] for r in df.collect()) == list(range(12))


def test_schema_fidelity(spark):
    rows = _rows(20)
    df = read_paged(spark, MemoryClient(rows), page_size=7, policy=FAST_RETRY)
    assert df.schema == SCHEMA
    back = {r["id"]: r for r in df.collect()}
    assert back[8]["name"] == "row-8" and back[14]["name"] is None
    assert back[3]["score"] == 1.5 and back[4]["rank"] == 1
    assert back[2]["ts"] == dt.datetime(2026, 1, 1, 0, 2)


def test_retry_policy_absorbs_transient_failures(spark):
    rows = _rows(30)
    client = MemoryClient(rows, flaky_failures=2)  # every page fails twice
    df = read_paged(spark, client, page_size=10, policy=FAST_RETRY)
    assert sorted(r["id"] for r in df.collect()) == list(range(30))


def test_retry_policy_exhausts(spark):
    client = MemoryClient(_rows(10), flaky_failures=10)
    df = read_paged(
        spark, client, page_size=5, policy=RetryPolicy(max_attempts=2, max_backoff=0.01)
    )
    with pytest.raises(Exception, match="injected transient"):
        df.collect()


def test_unknown_total_sequential_fallback(spark):
    rows = _rows(23)
    df = read_paged(
        spark, MemoryClient(rows, known_total=False), page_size=10, policy=FAST_RETRY
    )
    assert df.rdd.getNumPartitions() == 1  # degraded mode: one pager
    assert sorted(r["id"] for r in df.collect()) == list(range(23))


def test_empty_source(spark):
    df = read_paged(spark, MemoryClient([]), page_size=10, policy=FAST_RETRY)
    assert df.count() == 0
    assert df.schema == SCHEMA


def test_parquet_backed_client_roundtrip(spark, sf_dir):
    client = ParquetPagedClient(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "n_chars"]
    )
    df = read_paged(spark, client, page_size=100, policy=FAST_RETRY)
    direct = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    assert df.schema == direct.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, direct.collect()))
    # retry knobs ride through the option plumbing
    agg = df.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    direct_agg = {
        r["lang"]: r["n"]
        for r in direct.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {r["lang"]: r["n"] for r in agg.collect()} == direct_agg


def test_parquet_client_row_group_boundaries(spark, tmp_path):
    """Pages spanning row-group boundaries must reassemble exactly (the
    client decodes only overlapping row groups)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "rg.parquet")
    tbl = pa.table({"k": list(range(137)), "v": [i * 2 for i in range(137)]})
    pq.write_table(tbl, path, row_group_size=10)  # 14 row groups

    client = ParquetPagedClient(path)
    assert pq.ParquetFile(path).metadata.num_row_groups > 1
    # page entirely inside one group, spanning several, overhanging the end
    assert [r[0] for r in client.fetch_page(3, 4)] == [3, 4, 5, 6]
    assert [r[0] for r in client.fetch_page(8, 25)] == list(range(8, 33))
    assert [r[0] for r in client.fetch_page(130, 50)] == list(range(130, 137))
    assert client.fetch_page(137, 10) == []

    df = read_paged(spark, client, page_size=25, policy=FAST_RETRY)
    assert sorted(r["k"] for r in df.collect()) == list(range(137))


def _read_sink(root):
    import json
    import os

    batches = []
    for fn in os.listdir(root):
        with open(os.path.join(root, fn)) as f:
            batches.append([tuple(json.loads(line)) for line in f])
    return batches


def test_write_paged_batches_and_parallelism(spark, tmp_path):
    from agol_pandas_spark.sources.paged_mock import DirectoryJsonSink
    from agol_pandas_spark.sources.paged import write_paged

    df = spark.range(0, 50, 1, 3).withColumn("v", F.col("id") * 10)
    write_paged(df, DirectoryJsonSink(str(tmp_path)), page_size=8, policy=FAST_RETRY)
    batches = _read_sink(tmp_path)
    rows = sorted(r for b in batches for r in b)
    assert rows == [(i, i * 10) for i in range(50)]  # exactly-once content
    assert all(len(b) <= 8 for b in batches)
    # 3 partitions of 16/17 rows -> ceil(17/8)=3 or ceil(16/8)=2 batches each
    assert len(batches) == 8


def test_write_paged_retry_absorbs_upload_failures(spark, tmp_path):
    from agol_pandas_spark.sources.paged_mock import DirectoryJsonSink
    from agol_pandas_spark.sources.paged import write_paged

    df = spark.range(0, 20, 1, 2)
    sink = DirectoryJsonSink(str(tmp_path), flaky_failures=1)
    write_paged(df, sink, page_size=6, policy=FAST_RETRY)
    rows = sorted(r[0] for b in _read_sink(tmp_path) for r in b)
    assert rows == list(range(20))


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reduces_transfer(spark, sf_dir, tmp_path):
    """Catalyst predicates reach the client: only matching rows of the
    projected columns cross the (simulated) wire, and Spark drops its own
    Filter node because the client evaluated every conjunct."""
    import json
    import os

    log = str(tmp_path / "wire")
    os.makedirs(log)
    client = ParquetPagedClient(f"{sf_dir}/orders.parquet", log_dir=log)
    df = read_paged(
        spark,
        client,
        page_size=200,
        policy=FAST_RETRY,
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    flt = df.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000.0)
    )
    direct = spark.read.parquet(f"{sf_dir}/orders.parquet")
    expect = direct.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000.0)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    assert sorted(map(tuple, flt.collect())) == sorted(map(tuple, expect.collect()))

    total_rows = direct.count()
    n_match = expect.count()
    fetches = [json.load(open(os.path.join(log, f))) for f in os.listdir(log)]
    transferred = sum(x["n_rows"] for x in fetches)
    assert transferred == n_match < total_rows  # only matching rows moved
    assert all(x["n_cols"] == 3 for x in fetches if x["n_rows"])  # outFields
    # all conjuncts pushed -> no Spark-side Filter node remains
    assert "Filter (" not in _physical_plan(flt)
    # and the page-partition list shrank to the filtered row count
    import math

    assert flt.rdd.getNumPartitions() == max(1, math.ceil(n_match / 200))


def test_filter_pushdown_partial_acceptance(spark):
    """A client that only evaluates some predicate shapes gets those, and
    the declined conjuncts stay in the Spark plan — results identical."""
    rows = _rows(200)
    client = MemoryClient(rows)
    client.supported_ops = frozenset({">", ">="})
    df = read_paged(spark, client, page_size=50, policy=FAST_RETRY)
    flt = df.filter((F.col("id") >= 150) & F.col("name").contains("row-15"))
    got = sorted(r["id"] for r in flt.collect())
    # id 154 is NULL-named (every 7th row) -> excluded by contains()
    assert got == [150, 151, 152, 153, 155, 156, 157, 158, 159]
    assert "Filter (" in _physical_plan(flt)  # contains() stayed Spark-side
    # pushed `id >= 150` shrank the page list: 50 remaining rows / 50 = 1
    assert flt.rdd.getNumPartitions() == 1


def test_filter_pushdown_declined_entirely(spark):
    """supported_ops=frozenset() declines pushdown: full scan, Spark
    filters — the default-correctness contract for dumb backends."""
    rows = _rows(100)
    client = MemoryClient(rows)
    client.supported_ops = frozenset()
    df = read_paged(spark, client, page_size=20, policy=FAST_RETRY)
    flt = df.filter(F.col("id") < 10)
    assert sorted(r["id"] for r in flt.collect()) == list(range(10))
    assert "Filter (" in _physical_plan(flt)
    assert flt.rdd.getNumPartitions() == 5  # all 100 rows still paged


def test_filter_pushdown_null_semantics(spark):
    """Pushed comparisons must drop NULLs exactly like Spark's would
    (name is NULL every 7th row in the fixture)."""
    rows = _rows(50)
    pushed = read_paged(spark, MemoryClient(rows), page_size=25, policy=FAST_RETRY)
    plain = read_paged(
        spark,
        MemoryClient(rows, supported_ops=frozenset()),
        page_size=25,
        policy=FAST_RETRY,
    )
    for cond in (
        F.col("name") == "row-8",
        F.col("name") != "row-8",
        F.col("name").isNull(),
        F.col("name").isNotNull(),
        F.col("rank").isin(0, 2),
    ):
        a = sorted(r["id"] for r in pushed.filter(cond).collect())
        b = sorted(r["id"] for r in plain.filter(cond).collect())
        assert a == b, str(cond)


def test_projection_pushdown_and_fallback(spark):
    """columns= goes through client.project when supported (schema shrinks
    at the source); a project-less client falls back to a Spark select."""

    rows = _rows(30)
    via_client = read_paged(
        spark, MemoryClient(rows), page_size=10, policy=FAST_RETRY,
        columns=["id", "rank"],
    )
    assert via_client.schema.fieldNames() == ["id", "rank"]
    fallback = read_paged(
        spark,
        _NoProj(rows, SCHEMA),
        page_size=10,
        policy=FAST_RETRY,
        columns=["id", "rank"],
    )
    assert fallback.schema.fieldNames() == ["id", "rank"]
    assert sorted(map(tuple, via_client.collect())) == sorted(
        map(tuple, fallback.collect())
    )


def test_projection_unknown_column_fails_fast(spark, sf_dir):
    client = ParquetPagedClient(f"{sf_dir}/orders.parquet")
    with pytest.raises(ValueError, match="unknown columns"):
        read_paged(spark, client, columns=["o_orderkey", "nope"])


def test_parquet_pushdown_then_project_compose(spark, sf_dir):
    """pushdown() and project() compose on the parquet client and agree
    with the direct Spark scan."""
    client = ParquetPagedClient(f"{sf_dir}/customer.parquet")
    df = read_paged(
        spark, client, page_size=300, policy=FAST_RETRY,
        columns=["c_custkey", "c_mktsegment", "c_acctbal"],
    )
    flt = df.filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 0.0))
    direct = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 0.0))
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    assert sorted(map(tuple, flt.collect())) == sorted(map(tuple, direct.collect()))


def test_write_paged_post_write_failure_no_duplicates(spark, tmp_path):
    """Mid-batch ack loss (upload lands, then the call fails): the retry
    replays the same batch_id, the sink overwrites, content stays
    exactly-once — the at-least-once + idempotent-batch_id contract."""
    from agol_pandas_spark.sources.paged_mock import DirectoryJsonSink
    from agol_pandas_spark.sources.paged import write_paged

    df = spark.range(0, 40, 1, 2).withColumn("v", F.col("id") * 3)
    sink = DirectoryJsonSink(str(tmp_path), fail_after_write=1)
    write_paged(df, sink, page_size=7, policy=FAST_RETRY)
    rows = sorted(r for b in _read_sink(tmp_path) for r in b)
    assert rows == [(i, i * 3) for i in range(40)]  # no dupes, no drops


def test_paged_stream_tail_exactly_once_across_restarts(spark, sf_dir, tmp_path):
    """Checkpointed availableNow drains resume from the committed service
    offset: every row lands exactly once across query restarts, and a
    fresh tail sees new rows appended after the first drain."""
    import pyarrow.parquet as pq

    from agol_pandas_spark.sources.paged import (
        ParquetPagedClient,
        RetryPolicy,
        read_paged_stream,
    )

    src = str(tmp_path / "svc.parquet")
    table = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id", "event_type"])
    pq.write_table(table.slice(0, 700), src)

    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    policy = RetryPolicy(max_attempts=2, max_backoff=0.01)

    def drain():
        runs = 0
        while True:
            stream = read_paged_stream(
                spark, ParquetPagedClient(src), page_size=300, policy=policy
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            runs += 1
            if not q.lastProgress or q.lastProgress["numInputRows"] == 0:
                return runs

    assert drain() >= 3  # 700 rows / 300-page => multiple restarts
    got = spark.read.parquet(out)
    assert got.count() == 700
    assert got.select("event_id").distinct().count() == 700  # exactly-once

    # service grows (append-only contract); the next drain picks up ONLY
    # the new rows, from the committed offset
    pq.write_table(table, src)  # now 1000 rows, first 700 unchanged
    drain()
    got = spark.read.parquet(out)
    assert got.count() == table.num_rows
    assert got.select("event_id").distinct().count() == table.num_rows

def test_paged_stream_pages_per_batch_drains_backlog_in_one_run(
    spark, sf_dir, tmp_path
):
    """``pages_per_batch`` is pure admission control: a catch-up drain
    with a large value lands the identical row set as the one-page
    default, in far fewer micro-batch commits, and a checkpoint written
    at one setting resumes correctly at another (offsets are row
    offsets, independent of batching). Replay after an offset is
    committed must chunk by page_size (the service transfer cap is per
    request), which ParquetPagedClient's offset/limit contract checks
    implicitly via exactly-once accounting."""
    import pyarrow.parquet as pq

    from agol_pandas_spark.sources.paged import (
        ParquetPagedClient,
        RetryPolicy,
        read_paged_stream,
    )

    src = str(tmp_path / "svc.parquet")
    table = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_id", "event_type"]
    )
    pq.write_table(table.slice(0, 900), src)

    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    policy = RetryPolicy(max_attempts=2, max_backoff=0.01)

    def run(ppb):
        stream = read_paged_stream(
            spark, ParquetPagedClient(src), page_size=100,
            policy=policy, pages_per_batch=ppb,
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.lastProgress["numInputRows"] if q.lastProgress else 0

    # one single-page run commits a mid-stream offset...
    assert run(1) == 100
    # ...then one catch-up run at pages_per_batch=64 drains the rest of
    # the 900-row backlog in a single micro-batch from that offset
    assert run(64) == 800
    assert run(64) == 0  # caught up
    got = spark.read.parquet(out)
    assert got.count() == 900
    assert got.select("event_id").distinct().count() == 900  # exactly-once


def _land_file(spark, rows, landing, name):
    """Write one flat parquet FILE into the landing dir (the file stream
    source lists plain files, not nested dataset dirs)."""
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="land_")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    shutil.copy(part, f"{landing}/{name}.parquet")
    shutil.rmtree(tmp, ignore_errors=True)


def _drain_to_sink(spark, landing, schema, sink, ckpt):
    from agol_pandas_spark.streaming.sinks import stream_to_paged_sink
    from agol_pandas_spark.streaming.windows import stream_from_directory

    q = stream_to_paged_sink(
        stream_from_directory(spark, landing, schema).select("id", "name"),
        sink,
        checkpoint_dir=ckpt,
        page_size=3,
        policy=FAST_RETRY,
    )
    q.awaitTermination()


def _sink_rows(root):
    import glob
    import json

    out = {}
    for f in sorted(glob.glob(f"{root}/batch_*.jsonl")):
        with open(f) as fh:
            out[f.rsplit("/", 1)[-1]] = [tuple(json.loads(l)) for l in fh]
    return out


def test_stream_sink_micro_batches_never_collide(spark, tmp_path):
    """Two micro-batches upload under distinct batch-id namespaces: the
    second must not overwrite the first's pages in an idempotent sink
    (regression: pre-namespace ids were '<partition>-<index>' only, so
    every micro-batch collided with the previous one)."""
    from agol_pandas_spark.sources.paged_mock import DirectoryJsonSink

    landing = tmp_path / "landing"
    landing.mkdir()
    svc = tmp_path / "svc"
    svc.mkdir()
    _land_file(spark, _rows(5), str(landing), "f1")
    _land_file(spark, _rows(10)[5:], str(landing), "f2")
    # maxFilesPerTrigger=1 -> two micro-batches through one drain
    _drain_to_sink(spark, str(landing), SCHEMA, DirectoryJsonSink(str(svc)),
                   str(tmp_path / "ckpt"))
    pages = _sink_rows(str(svc))
    got = sorted(r for rows in pages.values() for r in rows)
    assert got == sorted((i, None if i % 7 == 0 else f"row-{i}") for i in range(10))
    # ids are namespaced per micro-batch
    assert any(name.startswith("batch_0-") for name in pages)
    assert any(name.startswith("batch_1-") for name in pages)


def test_stream_sink_restart_recovery_no_duplicates(spark, tmp_path):
    """Restarting from the same checkpoint skips committed micro-batches
    (no re-upload of old pages) and uploads only new arrivals; the
    combined sink contents reassemble the full input exactly once."""
    import os

    from agol_pandas_spark.sources.paged_mock import DirectoryJsonSink

    landing = tmp_path / "landing"
    landing.mkdir()
    svc = tmp_path / "svc"
    svc.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _land_file(spark, _rows(5), str(landing), "f1")
    _drain_to_sink(spark, str(landing), SCHEMA, DirectoryJsonSink(str(svc)), ckpt)
    first = _sink_rows(str(svc))
    mtimes = {f: os.path.getmtime(str(svc / f)) for f in first}

    # new data arrives; the restarted query reuses the checkpoint
    _land_file(spark, _rows(10)[5:], str(landing), "f2")
    _drain_to_sink(spark, str(landing), SCHEMA, DirectoryJsonSink(str(svc)), ckpt)
    combined = _sink_rows(str(svc))
    # committed pages were not re-uploaded (same files, untouched)...
    for f in first:
        assert os.path.getmtime(str(svc / f)) == mtimes[f], f
    # ...and the union is the exact input, no duplicates
    got = sorted(r for rows in combined.values() for r in rows)
    assert got == sorted((i, None if i % 7 == 0 else f"row-{i}") for i in range(10))


# --- HTTP transport against an in-process fake service (r5) -----------


_HTTP_FIELDS = [
    {"name": "id", "type": "esriFieldTypeOID"},
    {"name": "val", "type": "esriFieldTypeDouble"},
    {"name": "label", "type": "esriFieldTypeString"},
]
_HTTP_ROWS = [
    {"id": i, "val": float(i) / 2, "label": f"r{i}"} for i in range(1, 51)
]




def test_http_client_paged_read_roundtrip(spark):
    from agol_pandas_spark.sources.http_client import HttpPagedClient
    from agol_pandas_spark.sources.paged import read_paged

    srv, seen = _fake_arcgis_server(_HTTP_ROWS, _HTTP_FIELDS)
    try:
        client = HttpPagedClient(f"http://127.0.0.1:{srv.server_address[1]}")
        df = read_paged(spark, client, page_size=7)
        got = {(r["id"], r["val"], r["label"]) for r in df.collect()}
        assert got == {(r["id"], r["val"], r["label"]) for r in _HTTP_ROWS}
        # 50 rows / 7-row pages = 8 page partitions, each its own request
        pages = [q for q in seen if "resultOffset" in q]
        assert len(pages) >= 8
    finally:
        srv.shutdown()


def test_http_client_pushdown_reaches_the_wire(spark):
    from agol_pandas_spark.sources.http_client import HttpPagedClient
    from agol_pandas_spark.sources.paged import read_paged

    srv, seen = _fake_arcgis_server(_HTTP_ROWS, _HTTP_FIELDS)
    try:
        client = HttpPagedClient(f"http://127.0.0.1:{srv.server_address[1]}")
        df = read_paged(spark, client, page_size=100).filter(
            (F.col("id") > 10) & (F.col("id") <= 40)
        )
        assert df.count() == 30
        # the compiled conjunction was sent as the service's where param
        wheres = {q.get("where") for q in seen}
        assert any("id > 10" in w and "id <= 40" in w for w in wheres if w)
        # count request saw the filtered view -> fewer page partitions
        counts = [q for q in seen if q.get("returnCountOnly") == "true"]
        assert any("id > 10" in q.get("where", "") for q in counts)
    finally:
        srv.shutdown()


def test_http_client_projection_uses_outfields(spark):
    from agol_pandas_spark.sources.http_client import HttpPagedClient
    from agol_pandas_spark.sources.paged import read_paged

    srv, seen = _fake_arcgis_server(_HTTP_ROWS, _HTTP_FIELDS)
    try:
        client = HttpPagedClient(f"http://127.0.0.1:{srv.server_address[1]}")
        df = read_paged(spark, client, page_size=25, columns=["id", "label"])
        assert df.columns == ["id", "label"]
        assert df.count() == 50
        page_reqs = [q for q in seen if "resultOffset" in q]
        assert page_reqs and all(
            q.get("outFields") == "id,label" for q in page_reqs
        )
    finally:
        srv.shutdown()


def test_http_where_compilation_dialect():
    from agol_pandas_spark.sources.http_client import compile_where
    from agol_pandas_spark.sources.paged import PushedFilter as PF

    where, applied = compile_where(
        [
            PF("a", "=", 5),
            PF("b", "<>", "x'y"),
            PF("c", "in", (1, 2)),
            PF("d", "isnull"),
            PF("e", "startswith", "ab"),
            PF("f", "bogus-op", 1),
        ]
    )
    assert where == (
        "a = 5 AND b <> 'x''y' AND c IN (1, 2) AND d IS NULL "
        "AND e LIKE 'ab%'"
    )
    assert len(applied) == 5  # bogus-op declined, stays in the plan


def test_http_where_declines_like_metacharacters():
    """A % or _ in a startswith/endswith/contains value would act as a
    server-side wildcard with no Spark recheck (applied filters leave the
    plan) — such filters must be DECLINED, not escaped-by-hope."""
    from agol_pandas_spark.sources.http_client import compile_where
    from agol_pandas_spark.sources.paged import PushedFilter as PF

    where, applied = compile_where(
        [
            PF("a", "startswith", "100%"),
            PF("b", "endswith", "_tmp"),
            PF("c", "contains", "a_b"),
            PF("d", "contains", "clean"),
        ]
    )
    assert where == "d LIKE '%clean%'"
    assert [f.column for f in applied] == ["d"]


def test_http_transfer_limited_read_is_exact(spark):
    """A live service caps every page at maxRecordCount and flags
    exceededTransferLimit — a client that trusts one wire call per
    planned window silently drops the capped remainder. The window loop
    must reassemble the table exactly once."""
    from agol_pandas_spark.sources.http_client import HttpPagedClient
    from agol_pandas_spark.sources.paged import read_paged

    srv, seen = _fake_arcgis_server(_HTTP_ROWS, _HTTP_FIELDS, max_record_count=7)
    try:
        client = HttpPagedClient(f"http://127.0.0.1:{srv.server_address[1]}")
        df = read_paged(spark, client, page_size=20)
        got = sorted(r["id"] for r in df.collect())
        assert got == list(range(1, 51))  # exactly once, nothing dropped
        # 3 planned windows of 20 each needed ceil(20/7)=3 wire calls
        # 3 planned windows (20/20/10) need 3+3+2 capped wire calls —
        # more than the 3 a cap-oblivious client would issue
        pages = [q for q in seen if "resultOffset" in q]
        assert len(pages) >= 8
    finally:
        srv.shutdown()


def test_http_transfer_limit_fetch_window_exact(spark):
    """fetch_page(offset, limit) must return the FULL logical window even
    when the service serves it in capped slices."""
    from agol_pandas_spark.sources.http_client import HttpPagedClient

    srv, seen = _fake_arcgis_server(_HTTP_ROWS, _HTTP_FIELDS, max_record_count=7)
    try:
        client = HttpPagedClient(f"http://127.0.0.1:{srv.server_address[1]}")
        rows = client.fetch_page(5, 20)
        assert [r[0] for r in rows] == list(range(6, 26))
        # tail window past the end: short final slice, no flag -> stop
        tail = client.fetch_page(45, 20)
        assert [r[0] for r in tail] == list(range(46, 51))
    finally:
        srv.shutdown()


def test_http_transfer_limit_degraded_sequential(spark):
    """Unknown-total sequential paging composes with the cap: the reader
    treats a short window as end-of-stream, so fetch_page's loop is what
    keeps a capped service from truncating the tail."""
    from agol_pandas_spark.sources.paged import read_paged
    from agol_pandas_spark.sources.paged_mock import NoCountHttpClient

    srv, _seen = _fake_arcgis_server(_HTTP_ROWS, _HTTP_FIELDS, max_record_count=7)
    try:
        client = NoCountHttpClient(f"http://127.0.0.1:{srv.server_address[1]}")
        df = read_paged(spark, client, page_size=20)
        assert sorted(r["id"] for r in df.collect()) == list(range(1, 51))
    finally:
        srv.shutdown()


def test_http_transfer_limit_zero_progress_raises():
    """exceededTransferLimit with zero rows served can't make progress —
    fail loudly rather than spin or return a truncated window."""
    import http.server
    import json as _json
    import threading

    import pytest

    from agol_pandas_spark.sources.http_client import HttpPagedClient

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            body = _json.dumps(
                {
                    "fields": _HTTP_FIELDS,
                    "features": [],
                    "exceededTransferLimit": True,
                }
            ).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        client = HttpPagedClient(f"http://127.0.0.1:{srv.server_address[1]}")
        with pytest.raises(RuntimeError, match="exceededTransferLimit"):
            client.fetch_page(0, 10)
    finally:
        srv.shutdown()


_EDIT_FIELDS = [
    {"name": "objectid", "type": "esriFieldTypeOID"},
    {"name": "name", "type": "esriFieldTypeString"},
    {"name": "score", "type": "esriFieldTypeDouble"},
]


def _edit_seed():
    return [
        {"objectid": i, "name": f"k{i}", "score": float(i)} for i in range(1, 6)
    ]


class TestHttpEditsSink:
    """applyEdits write transport (sources/http_client.HttpEditsSink) —
    the reference's edit wire path (src/agol_pandas.py:445-455) with its
    rollback quirk contract-tested instead of swallowed."""

    def test_add_only_batch_lands_with_assigned_oids(self):
        from agol_pandas_spark.sources.http_client import HttpEditsSink

        store = _edit_seed()
        srv, seen = _fake_arcgis_server(store, _EDIT_FIELDS)
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}"
            sink = HttpEditsSink(url, ["name", "score"])
            sink.upload_batch([("new1", 1.5), ("new2", 2.5)], "b0")
            assert len(store) == 7
            added = {r["name"]: r for r in store if r["name"].startswith("new")}
            assert added["new1"]["score"] == 1.5
            assert {added["new1"]["objectid"], added["new2"]["objectid"]} == {6, 7}
            posts = [q for q in seen if q.get("op") == "applyEdits"]
            assert len(posts) == 1 and "updates" not in posts[0]
        finally:
            srv.shutdown()

    def test_upsert_splits_updates_from_adds(self):
        import json as _json

        from agol_pandas_spark.sources.http_client import HttpEditsSink

        store = _edit_seed()
        srv, seen = _fake_arcgis_server(store, _EDIT_FIELDS)
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}"
            sink = HttpEditsSink(url, ["name", "score"], key_field="name")
            sink.upload_batch([("k2", 20.0), ("k4", 40.0), ("fresh", 9.0)], "b0")
            by_name = {r["name"]: r for r in store}
            assert len(store) == 6
            assert by_name["k2"]["score"] == 20.0  # updated in place
            assert by_name["k4"]["score"] == 40.0
            assert by_name["k2"]["objectid"] == 2  # same row, not re-added
            assert by_name["fresh"]["objectid"] == 6
            post = next(q for q in seen if q.get("op") == "applyEdits")
            ups = _json.loads(post["updates"])
            assert sorted(u["attributes"]["objectid"] for u in ups) == [2, 4]
            assert len(_json.loads(post["adds"])) == 1
        finally:
            srv.shutdown()

    def test_upsert_replay_is_idempotent(self):
        from agol_pandas_spark.sources.http_client import HttpEditsSink

        store = _edit_seed()
        srv, _ = _fake_arcgis_server(store, _EDIT_FIELDS)
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}"
            sink = HttpEditsSink(url, ["name", "score"], key_field="name")
            batch = [("k1", 11.0), ("fresh", 9.0)]
            sink.upload_batch(batch, "b0")
            snapshot = sorted((r["name"], r["score"]) for r in store)
            sink.upload_batch(batch, "b0")  # at-least-once redelivery
            assert sorted((r["name"], r["score"]) for r in store) == snapshot
            assert len(store) == 6  # 'fresh' was not duplicated
        finally:
            srv.shutdown()

    def test_upsert_addresses_oid_zero(self):
        """0 is a legal OID — a truthiness test in the key lookup turned
        it into a 'missing update' (found via supplier keys starting at
        0 in the corpus). Must update in place, not fail or duplicate."""
        from agol_pandas_spark.sources.http_client import HttpEditsSink

        store = [{"objectid": 0, "name": "k0", "score": 0.0}]
        srv, _ = _fake_arcgis_server(store, _EDIT_FIELDS)
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}"
            sink = HttpEditsSink(url, ["name", "score"], key_field="name")
            sink.upload_batch([("k0", 5.0)], "b0")
            assert store == [{"objectid": 0, "name": "k0", "score": 5.0}]
        finally:
            srv.shutdown()

    def test_rollback_failure_raises_and_store_unchanged(self):
        from agol_pandas_spark.sources.http_client import (
            EditsError,
            HttpEditsSink,
        )

        store = _edit_seed()
        srv, _ = _fake_arcgis_server(
            store, _EDIT_FIELDS, poison=lambda a: a.get("name") == "bad"
        )
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}"
            sink = HttpEditsSink(url, ["name", "score"])
            before = [dict(r) for r in store]
            with pytest.raises(EditsError, match="applyEdits failed") as ei:
                sink.upload_batch([("good", 1.0), ("bad", 2.0)], "b0")
            assert store == before  # rolled back: the good add didn't land
            # the live quirk: EVERY edit reports failed under rollback
            assert all(not r["success"] for r in ei.value.results)
        finally:
            srv.shutdown()

    def test_write_paged_distributes_edit_batches(self, spark):
        from agol_pandas_spark.sources.http_client import HttpEditsSink
        from agol_pandas_spark.sources.paged import write_paged

        store = _edit_seed()
        srv, seen = _fake_arcgis_server(store, _EDIT_FIELDS)
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}"
            sink = HttpEditsSink(url, ["name", "score"], key_field="name")
            df = spark.range(23).select(
                F.concat(F.lit("row"), F.col("id")).alias("name"),
                (F.col("id") * 0.5).alias("score"),
            )
            write_paged(df, sink, page_size=5, policy=RetryPolicy(max_attempts=2))
            names = [r["name"] for r in store]
            assert len(store) == 28 and len(set(names)) == 28
            posts = [q for q in seen if q.get("op") == "applyEdits"]
            assert len(posts) >= 5  # ceil(23/5) batches, parallel tasks
        finally:
            srv.shutdown()

    def test_datetimes_cross_the_wire_as_epoch_millis(self):
        import datetime as _dt

        from agol_pandas_spark.sources.http_client import _edit_value

        assert _edit_value(
            _dt.datetime(2024, 5, 1, 12, 0, 0, tzinfo=_dt.timezone.utc)
        ) == 1714564800000
        # naive datetimes are the engine's catalog invariant: already UTC
        assert _edit_value(_dt.datetime(2024, 5, 1, 12, 0, 0)) == 1714564800000
        assert _edit_value(_dt.date(2024, 5, 1)) == 1714521600000
        assert _edit_value("s") == "s" and _edit_value(3) == 3


class TestCsvQuarantine:
    """PERMISSIVE quarantine reader (sources/readers.read_csv_quarantine)."""

    def test_malformed_rows_quarantined_not_dropped(self, spark, tmp_path):
        from pyspark.sql import types as T

        from agol_pandas_spark.sources.readers import read_csv_quarantine

        p = tmp_path / "landing"
        p.mkdir()
        (p / "part.csv").write_text(
            "1,alpha,10.5\n"
            "2,beta,N/A\n"          # unparsable double
            "3,gamma,7.25\n"
            "4,delta,1.0,EXTRA\n"   # too many fields -> malformed
        )
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("price", T.DoubleType()),
            ]
        )
        raw = read_csv_quarantine(spark, str(p), schema).cache()
        rows = {r["id"]: r for r in raw.collect()}
        assert len(rows) == 4  # nothing dropped
        assert rows[1]["_corrupt_record"] is None
        assert rows[3]["_corrupt_record"] is None
        assert rows[2]["_corrupt_record"] == "2,beta,N/A"
        assert rows[2]["price"] is None  # typed column NULLed, raw kept
        assert rows[4]["_corrupt_record"] == "4,delta,1.0,EXTRA"
        raw.unpersist()

    def test_clean_file_all_null_corrupt(self, spark, tmp_path):
        from pyspark.sql import types as T

        from agol_pandas_spark.sources.readers import read_csv_quarantine

        p = tmp_path / "clean"
        p.mkdir()
        (p / "part.csv").write_text("1,a,1.0\n2,b,2.0\n")
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("price", T.DoubleType()),
            ]
        )
        raw = read_csv_quarantine(spark, str(p), schema).cache()
        assert raw.filter(F.col("_corrupt_record").isNotNull()).count() == 0
        raw.unpersist()


def test_limit_pushdown_bounds_pages_fetched(spark, sf_dir, tmp_path):
    """VERDICT r6 item 4: read_paged(limit=N) must fetch at most
    ceil(N/page_size) pages with the final page TRIMMED to the
    remainder — a limit(10) used to pull every page of the service."""
    import json
    import math
    import os

    log = str(tmp_path / "wire")
    os.makedirs(log)
    client = ParquetPagedClient(f"{sf_dir}/orders.parquet", log_dir=log)
    df = read_paged(spark, client, page_size=100, policy=FAST_RETRY, limit=250)
    rows = df.collect()
    assert len(rows) == 250
    # first 250 service rows, service order = file order
    direct = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(250)
    assert sorted(r["o_orderkey"] for r in rows) == sorted(
        r["o_orderkey"] for r in direct.collect()
    )
    fetches = [json.load(open(os.path.join(log, f))) for f in os.listdir(log)]
    assert len(fetches) == math.ceil(250 / 100) == 3
    assert sum(x["n_rows"] for x in fetches) == 250
    assert sorted(x["limit"] for x in fetches) == [50, 100, 100]  # trimmed tail
    assert df.rdd.getNumPartitions() == 3


def test_limit_pushdown_degraded_unknown_total(spark):
    """With total_count unknown (sequential fallback) the pushed limit
    still stops paging: the reader never issues the fetch after the one
    that satisfies the limit, and trims the final request."""
    rows = _rows(500)
    client = MemoryClient(rows, known_total=False)
    df = read_paged(spark, client, page_size=100, policy=FAST_RETRY, limit=250)
    got = df.collect()
    assert len(got) == 250
    assert sorted(r["id"] for r in got) == list(range(250))


def test_limit_larger_than_table_and_zero(spark):
    rows = _rows(40)
    df = read_paged(spark, MemoryClient(rows), page_size=25,
                    policy=FAST_RETRY, limit=1000)
    assert df.count() == 40
    empty = read_paged(spark, MemoryClient(rows), page_size=25,
                       policy=FAST_RETRY, limit=0)
    assert empty.count() == 0
    with pytest.raises(ValueError, match="limit"):
        read_paged(spark, MemoryClient(rows), limit=-1)


def test_limit_composes_with_server_side_where(spark, sf_dir, tmp_path):
    """The limit addresses the FILTERED row stream (ArcGIS
    resultRecordCount on a where-query): first N matching rows, not
    first N raw rows."""
    from agol_pandas_spark.sources.paged import PushedFilter

    client = ParquetPagedClient(f"{sf_dir}/orders.parquet")
    filtered, applied = client.pushdown(
        [PushedFilter("o_orderstatus", "=", "O")]
    )
    assert applied
    df = read_paged(spark, filtered, page_size=50, policy=FAST_RETRY, limit=120)
    rows = df.collect()
    assert len(rows) == 120
    assert all(r["o_orderstatus"] == "O" for r in rows)


def test_paged_count_fast_path_zero_fetches(spark, sf_dir, tmp_path):
    """paged_count answers COUNT(*) from total_count (returnCountOnly) —
    zero fetch_page calls, zero rows transferred; with a server-side
    where it counts the filtered view; unknown-total clients degrade to
    paging without materializing rows."""
    import os

    from agol_pandas_spark.sources.paged import PushedFilter, paged_count

    log = str(tmp_path / "wire")
    os.makedirs(log)
    client = ParquetPagedClient(f"{sf_dir}/customer.parquet", log_dir=log)
    n = paged_count(client, policy=FAST_RETRY)
    assert n == spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert os.listdir(log) == []  # not one page crossed the wire

    filtered, _ = client.pushdown([PushedFilter("c_mktsegment", "=", "BUILDING")])
    n_f = paged_count(filtered, policy=FAST_RETRY)
    expect = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == "BUILDING").count()
    )
    assert n_f == expect < n

    nototal = MemoryClient(_rows(333), known_total=False)
    assert paged_count(nototal, policy=FAST_RETRY) == 333


def test_degraded_limit_zero_issues_no_fetch(spark, sf_dir, tmp_path):
    """Code-review r7 regression: unknown-total + limit=0 used to issue
    one fetch_page(0, 0); ceil(0/page_size) = 0 wire calls allowed."""
    import os

    from agol_pandas_spark.sources.paged_mock import NoCountParquetClient

    log = str(tmp_path / "wire")
    os.makedirs(log)
    client = NoCountParquetClient(f"{sf_dir}/orders.parquet", log_dir=log)
    df = read_paged(spark, client, page_size=50, policy=FAST_RETRY, limit=0)
    assert df.count() == 0
    assert os.listdir(log) == [], "limit=0 crossed the wire"


# -- auth lifecycle (TokenProvider, VERDICT r7 item 5) ----------------------


def _auth_provider(srv, ttl=None, user="alice", pw="s3cret"):
    from agol_pandas_spark.sources.http_client import TokenProvider

    return TokenProvider(
        f"http://127.0.0.1:{srv.server_address[1]}/generateToken", user, pw
    )


def test_http_auth_token_acquired_lazily_and_reused(spark):
    from agol_pandas_spark.sources.http_client import HttpPagedClient
    from agol_pandas_spark.sources.paged import read_paged

    srv, seen = _fake_arcgis_server(
        list(_HTTP_ROWS), _HTTP_FIELDS,
        auth={"username": "alice", "password": "s3cret", "ttl_requests": 1000},
    )
    try:
        client = HttpPagedClient(
            f"http://127.0.0.1:{srv.server_address[1]}",
            token=_auth_provider(srv),
        )
        df = read_paged(spark, client, page_size=25)
        assert df.count() == 50
        mints = [q for q in seen if q.get("op") == "generateToken"]
        # driver + each executor task mints at most once; far fewer
        # mints than layer requests proves reuse, not per-request auth
        layer_reqs = [q for q in seen if "where" in q]
        assert 1 <= len(mints) < len(layer_reqs)
    finally:
        srv.shutdown()


def test_http_auth_bad_credentials_raise_typed(spark):
    from agol_pandas_spark.sources.http_client import AuthError, HttpPagedClient

    srv, seen = _fake_arcgis_server(
        list(_HTTP_ROWS), _HTTP_FIELDS,
        auth={"username": "alice", "password": "s3cret"},
    )
    try:
        client = HttpPagedClient(
            f"http://127.0.0.1:{srv.server_address[1]}",
            token=_auth_provider(srv, pw="wrong"),
        )
        with pytest.raises(AuthError, match="token acquisition failed"):
            client.total_count()
        # and a missing token is rejected by the service, not served
        bare = HttpPagedClient(f"http://127.0.0.1:{srv.server_address[1]}")
        with pytest.raises(AuthError, match="code 499"):
            bare.total_count()
    finally:
        srv.shutdown()


def test_http_auth_mid_pagination_expiry_refreshes(spark):
    """Tokens die every 3 layer requests; a full paged read needs many
    more — the transport must refresh mid-pagination and the result must
    be complete and exact (never a silently-truncated window)."""
    from agol_pandas_spark.sources.http_client import HttpPagedClient
    from agol_pandas_spark.sources.paged import read_paged

    srv, seen = _fake_arcgis_server(
        list(_HTTP_ROWS), _HTTP_FIELDS, max_record_count=4,
        auth={"username": "alice", "password": "s3cret", "ttl_requests": 3},
    )
    try:
        client = HttpPagedClient(
            f"http://127.0.0.1:{srv.server_address[1]}",
            token=_auth_provider(srv),
        )
        df = read_paged(spark, client, page_size=10)
        got = {(r["id"], r["val"], r["label"]) for r in df.collect()}
        assert got == {(r["id"], r["val"], r["label"]) for r in _HTTP_ROWS}
        mints = [q for q in seen if q.get("op") == "generateToken"]
        assert len(mints) >= 2  # at least one forced mid-read refresh
    finally:
        srv.shutdown()


def test_http_auth_mid_applyedits_refresh(spark):
    """Upsert batches do key-lookup GETs then the applyEdits POST; with
    a 2-request token TTL the token dies inside a batch — the sink must
    refresh and land every edit exactly once."""
    from agol_pandas_spark.sources.http_client import HttpEditsSink

    store = [{"id": 1, "val": 1.0, "label": "old"}]
    srv, seen = _fake_arcgis_server(
        store, _HTTP_FIELDS,
        auth={"username": "alice", "password": "s3cret", "ttl_requests": 2},
    )
    try:
        sink = HttpEditsSink(
            f"http://127.0.0.1:{srv.server_address[1]}",
            field_names=["id", "val", "label"],
            key_field="id",
            token=_auth_provider(srv),
            lookup_page_size=2,
        )
        sink.upload_batch(
            [(1, 9.0, "upd"), (2, 2.0, "new-a"), (3, 3.0, "new-b"),
             (4, 4.0, "new-c"), (5, 5.0, "new-d")],
            batch_id="b0",
        )
        assert {(r["id"], r["val"], r["label"]) for r in store} == {
            (1, 9.0, "upd"), (2, 2.0, "new-a"), (3, 3.0, "new-b"),
            (4, 4.0, "new-c"), (5, 5.0, "new-d"),
        }
        mints = [q for q in seen if q.get("op") == "generateToken"]
        assert len(mints) >= 2  # refreshed inside the batch
    finally:
        srv.shutdown()


def test_http_fetch_page_truncates_overserving_service():
    """ADVICE r7: a service that over-serves a window (more rows than
    resultRecordCount asked) must not leak rows owned by the next
    planned partition — fetch_page truncates defensively."""
    from agol_pandas_spark.sources.http_client import HttpPagedClient

    class OverServe(HttpPagedClient):
        def _get(self, **params):
            if "resultOffset" in params:
                n = int(params["resultRecordCount"])
                off = int(params["resultOffset"])
                return {
                    "features": [
                        {"attributes": {"id": off + i, "val": 0.0, "label": "x"}}
                        for i in range(n + 5)  # over-serve by 5
                    ]
                }
            return {"fields": _HTTP_FIELDS}

    c = OverServe("http://invalid.example")
    page = c.fetch_page(10, 7)
    assert [r[0] for r in page] == list(range(10, 17))


def test_http_projection_schema_order_matches_request():
    """ADVICE r7: services answer outFields in layer-definition order;
    the projected schema must equal the REQUESTED columns verbatim."""
    from agol_pandas_spark.sources.http_client import HttpPagedClient

    srv, seen = _fake_arcgis_server(list(_HTTP_ROWS), _HTTP_FIELDS)
    try:
        base = HttpPagedClient(f"http://127.0.0.1:{srv.server_address[1]}")
        proj = base.project(["label", "id"])  # reversed vs layer order
        assert [f.name for f in proj.schema().fields] == ["label", "id"]
        page = proj.fetch_page(0, 3)
        assert page == [("r1", 1), ("r2", 2), ("r3", 3)]
        missing = base.project(["label", "nope"])
        with pytest.raises(RuntimeError, match="nope"):
            missing.schema()
    finally:
        srv.shutdown()


def test_mock_where_parser_like_metachars_and_parens():
    """Code-review r8: (a) fnmatch metacharacters in a pushed LIKE
    literal must match LITERALLY (pushed filters are removed from the
    Spark plan — a lax mock match silently returns wrong rows); (b) the
    parenthesized combined where compile_where emits for a pre-existing
    base where must parse as one clause."""
    from agol_pandas_spark.sources.http_mock import _compile_where

    like = _compile_where("name LIKE '%a?b%'")
    assert not like({"name": "aXb"})      # '?' is literal in SQL LIKE
    assert like({"name": "xa?by"})
    cls = _compile_where("name LIKE '%a[xy]b%'")
    assert not cls({"name": "axb"})
    assert cls({"name": "a[xy]b"})
    p = _compile_where("(k > 5 AND g = 1) AND x = 2")
    assert p({"k": 6, "g": 1, "x": 2})
    assert not p({"k": 6, "g": 2, "x": 2})
    assert not p({"k": 4, "g": 1, "x": 2})
    with pytest.raises(ValueError, match="unsupported"):
        _compile_where("k BETWEEN 1 AND 2")({"k": 1})


def test_auth_error_is_engine_error_no_retry_replay():
    """Code-review r8: AuthError must surface through RetryPolicy
    immediately (EngineError exemption) — replaying bad credentials
    through ratcheting backoff would hammer a live token endpoint."""
    from agol_pandas_spark.errors import EngineError
    from agol_pandas_spark.sources.http_client import AuthError
    from agol_pandas_spark.sources.paged import RetryPolicy

    assert issubclass(AuthError, EngineError)
    calls = []

    def bad():
        calls.append(1)
        raise AuthError("credentials rejected")

    with pytest.raises(AuthError):
        RetryPolicy(max_attempts=5, max_backoff=0.01).run(bad)
    assert len(calls) == 1  # no replay


def test_http_auth_survives_streaming_restarts(spark, tmp_path):
    """Token lifecycle under the STREAMING paged source: tokens die
    every 4 layer requests while a checkpointed availableNow drain
    restarts the query several times — the provider (pickled into each
    restart's reader) must keep re-acquiring, and exactly-once landing
    must hold across both token deaths and query restarts."""
    import tempfile

    from agol_pandas_spark.sources.http_client import HttpPagedClient
    from agol_pandas_spark.sources.paged import RetryPolicy, read_paged_stream

    srv, seen = _fake_arcgis_server(
        list(_HTTP_ROWS), _HTTP_FIELDS, max_record_count=6,
        auth={"username": "alice", "password": "s3cret", "ttl_requests": 4},
    )
    try:
        client = HttpPagedClient(
            f"http://127.0.0.1:{srv.server_address[1]}",
            token=_auth_provider(srv),
        )
        ckpt = tempfile.mkdtemp(prefix="auth_tail_ckpt_")
        out = tempfile.mkdtemp(prefix="auth_tail_out_")
        for _ in range(16):
            stream = read_paged_stream(
                spark, client, page_size=15,
                policy=RetryPolicy(max_attempts=3, max_backoff=0.01),
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if not q.lastProgress or q.lastProgress["numInputRows"] == 0:
                break
        landed = spark.read.parquet(out)
        got = sorted(
            (r["id"], r["val"], r["label"]) for r in landed.collect()
        )
        assert got == sorted(
            (r["id"], r["val"], r["label"]) for r in _HTTP_ROWS
        )
        mints = [q_ for q_ in seen if q_.get("op") == "generateToken"]
        assert len(mints) >= 2  # token death forced refreshes mid-drain
    finally:
        srv.shutdown()


def test_http_stats_pushdown_zero_data_pages(spark):
    """VERDICT r9 item 7: a grouped count/sum/min/max through
    read_paged_aggregate must be answered by ONE outStatistics request —
    zero data pages on the wire — composed with the client's where, and
    must equal the Spark-side fallback exactly (integer measures)."""
    from agol_pandas_spark.sources.http_client import HttpPagedClient
    from agol_pandas_spark.sources.paged import read_paged_aggregate

    rows = [
        {"id": i, "grp": f"g{i % 3}", "v": i * 10} for i in range(1, 31)
    ]
    fields = [
        {"name": "id", "type": "esriFieldTypeOID"},
        {"name": "grp", "type": "esriFieldTypeString"},
        {"name": "v", "type": "esriFieldTypeInteger"},
    ]
    stats = [
        ("count", "id", "n"),
        ("sum", "v", "v_sum"),
        ("min", "v", "v_min"),
        ("max", "v", "v_max"),
    ]
    srv, seen = _fake_arcgis_server(rows, fields)
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        client = HttpPagedClient(url, where="id > 5")
        out = read_paged_aggregate(spark, client, ["grp"], stats)
        got = sorted(map(tuple, out.collect()))
        data_pages = [q for q in seen if "outStatistics" not in q]
        assert not data_pages, data_pages
        assert len(seen) == 1

        # Spark-side fallback (client declines) gives the same rows —
        # a decline costs transfer, never correctness
        class _Declining(HttpPagedClient):
            def aggregate(self, group_by, stats, having=None):
                return None

        fb = read_paged_aggregate(
            spark, _Declining(url, where="id > 5"), ["grp"], stats,
            page_size=7,
        )
        assert sorted(map(tuple, fb.collect())) == got
        assert [f.name for f in fb.schema.fields] == [
            f.name for f in out.schema.fields
        ]
        assert any("resultOffset" in q for q in seen)  # fallback paged
    finally:
        srv.shutdown()


def test_http_stats_unsupported_stat_declines_client_side(spark):
    """A stat type outside the outStatistics vocabulary must DECLINE
    (Spark-side fallback), not reach the wire — a service 400 for a
    whole batch of stats would be indistinguishable from a bad where."""
    from agol_pandas_spark.sources.http_client import HttpPagedClient
    from agol_pandas_spark.sources.paged import read_paged_aggregate

    rows = [{"id": i, "grp": f"g{i % 2}", "v": i} for i in range(1, 21)]
    fields = [
        {"name": "id", "type": "esriFieldTypeOID"},
        {"name": "grp", "type": "esriFieldTypeString"},
        {"name": "v", "type": "esriFieldTypeInteger"},
    ]
    srv, seen = _fake_arcgis_server(rows, fields)
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        client = HttpPagedClient(url)
        # median has no outStatistics rendering (stddev/var do since
        # r11) — it must decline without touching the wire
        assert client.aggregate(["grp"], [("median", "v", "m")]) is None
        out = read_paged_aggregate(
            spark, client, ["grp"],
            [("count", "id", "n"), ("avg", "v", "v_avg")],
        )
        got = {tuple(r) for r in out.collect()}
        # exact: averages of consecutive ints over .0/.5 fractions
        assert got == {("g0", 10, 11.0), ("g1", 10, 10.0)}
        fb = read_paged_aggregate(
            spark, client, ["grp"], [("count", "id", "n")], page_size=9
        )
        assert {tuple(r) for r in fb.collect()} == {("g0", 10), ("g1", 10)}
    finally:
        srv.shutdown()


def test_http_stats_stddev_var_pushdown_matches_fallback(spark):
    """VERDICT r10 item 7: stddev/var push through outStatistics (SAMPLE
    forms on both paths). Floats follow each engine's accumulation
    order, so the comparison is approximate — the documented caveat."""
    from agol_pandas_spark.sources.http_client import HttpPagedClient
    from agol_pandas_spark.sources.paged import read_paged_aggregate

    rows = [{"id": i, "grp": f"g{i % 2}", "v": i * 3} for i in range(1, 21)]
    fields = [
        {"name": "id", "type": "esriFieldTypeOID"},
        {"name": "grp", "type": "esriFieldTypeString"},
        {"name": "v", "type": "esriFieldTypeInteger"},
    ]
    stats = [("stddev", "v", "v_sd"), ("var", "v", "v_var")]
    srv, seen = _fake_arcgis_server(rows, fields)
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        out = read_paged_aggregate(
            spark, HttpPagedClient(url), ["grp"], stats
        )
        pushed = {r["grp"]: (r["v_sd"], r["v_var"]) for r in out.collect()}
        assert not [q for q in seen if "outStatistics" not in q]

        class _Declining(HttpPagedClient):
            def aggregate(self, group_by, stats, having=None):
                return None

        fb = read_paged_aggregate(
            spark, _Declining(url), ["grp"], stats, page_size=7
        )
        local = {r["grp"]: (r["v_sd"], r["v_var"]) for r in fb.collect()}
        assert set(pushed) == set(local) == {"g0", "g1"}
        for g in pushed:
            assert pushed[g][0] == pytest.approx(local[g][0], rel=1e-9)
            assert pushed[g][1] == pytest.approx(local[g][1], rel=1e-9)
    finally:
        srv.shutdown()


def test_http_stats_having_pushdown_and_groupless_decline(spark):
    """VERDICT r10 item 7: ``having`` rides the statistics request (the
    public parameter — groups filtered ON the service, zero data
    pages); the Spark fallback applies the identical post-aggregation
    predicate; a groupless having declines client-side (ArcGIS defines
    having only with groupByFieldsForStatistics)."""
    from agol_pandas_spark.sources.http_client import HttpPagedClient
    from agol_pandas_spark.sources.paged import read_paged_aggregate

    rows = [{"id": i, "grp": f"g{i % 3}", "v": i} for i in range(1, 31)]
    fields = [
        {"name": "id", "type": "esriFieldTypeOID"},
        {"name": "grp", "type": "esriFieldTypeString"},
        {"name": "v", "type": "esriFieldTypeInteger"},
    ]
    stats = [("count", "id", "n"), ("sum", "v", "v_sum")]
    srv, seen = _fake_arcgis_server(rows, fields)
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        client = HttpPagedClient(url)
        out = read_paged_aggregate(
            spark, client, ["grp"], stats, having="v_sum > 150"
        )
        got = sorted(map(tuple, out.collect()))
        # g0: 3+...+30 over %3==0 -> 165; g1 -> 145; g2 -> 155
        assert got == [("g0", 10, 165), ("g2", 10, 155)]
        assert not [q for q in seen if "outStatistics" not in q]
        assert any(q.get("having") == "v_sum > 150" for q in seen)

        class _Declining(HttpPagedClient):
            def aggregate(self, group_by, stats, having=None):
                return None

        fb = read_paged_aggregate(
            spark, _Declining(url), ["grp"], stats,
            having="v_sum > 150", page_size=9,
        )
        assert sorted(map(tuple, fb.collect())) == got

        # groupless having: decline before the wire, fallback computes
        n0 = len(seen)
        assert client.aggregate([], stats, having="v_sum > 1") is None
        assert len(seen) == n0
        glob = read_paged_aggregate(
            spark, client, [], [("sum", "v", "v_sum")],
            having="v_sum > 10",
        )
        assert [tuple(r) for r in glob.collect()] == [(465,)]
    finally:
        srv.shutdown()


def test_http_stats_transient_error_retries_capability_declines(spark):
    """ADVICE r10: a TRANSIENT failure of the single statistics request
    must reach RetryPolicy (retried, then raised) — never silently
    decline to a full transfer; only a genuine capability rejection
    (ArcGIS error 400) declines to the Spark fallback."""
    import pytest as _pytest

    from agol_pandas_spark.sources.http_client import (
        HttpPagedClient,
        ServiceError,
    )
    from agol_pandas_spark.sources.paged import (
        RetryPolicy,
        read_paged_aggregate,
    )

    rows = [{"id": i, "grp": "g", "v": i} for i in range(1, 11)]
    fields = [
        {"name": "id", "type": "esriFieldTypeOID"},
        {"name": "grp", "type": "esriFieldTypeString"},
        {"name": "v", "type": "esriFieldTypeInteger"},
    ]
    srv, seen = _fake_arcgis_server(rows, fields)
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"

        class _Flaky(HttpPagedClient):
            failures_left = 2
            attempts = 0

            def _get(self, **params):
                if "outStatistics" in params:
                    type(self).attempts += 1
                    if type(self).failures_left > 0:
                        type(self).failures_left -= 1
                        raise ServiceError("server choked", code=500)
                return super()._get(**params)

        fast = RetryPolicy(backoff_interval=0.0, max_backoff=0.0)
        out = read_paged_aggregate(
            spark, _Flaky(url), ["grp"], [("sum", "v", "v_sum")],
            policy=fast,
        )
        assert [tuple(r) for r in out.collect()] == [("g", 55)]
        assert _Flaky.attempts == 3  # two 500s retried, third answered
        assert not [q for q in seen if "outStatistics" not in q]

        class _Broken(HttpPagedClient):
            def _get(self, **params):
                if "outStatistics" in params:
                    raise ServiceError("server down", code=503)
                return super()._get(**params)

        with _pytest.raises(ServiceError):
            read_paged_aggregate(
                spark, _Broken(url), ["grp"], [("sum", "v", "v_sum")],
                policy=RetryPolicy(
                    max_attempts=2, backoff_interval=0.0, max_backoff=0.0
                ),
            )

        # capability rejection: the mock 400s an unsupported type when
        # it reaches the wire — force it past the client-side screen
        class _Pushy(HttpPagedClient):
            def aggregate(self, group_by, stats, having=None):
                import json as _json

                out_stats = [
                    {"statisticType": "median", "onStatisticField": c,
                     "outStatisticFieldName": a}
                    for _, c, a in stats
                ]
                try:
                    self._get(outStatistics=_json.dumps(out_stats))
                except ServiceError as ex:
                    assert ex.code == 400
                    return None
                raise AssertionError("mock accepted median")

        fb = read_paged_aggregate(
            spark, _Pushy(url), ["grp"], [("sum", "v", "v_sum")],
        )
        assert [tuple(r) for r in fb.collect()] == [("g", 55)]
    finally:
        srv.shutdown()


def test_http_stats_pushdown_respects_auth_lifecycle(spark):
    """outStatistics goes through the same authed transport: token
    required, minted via generateToken, and an auth failure raises
    AuthError (never silently declines to the fallback — the fallback
    would fail identically)."""
    import pytest as _pytest

    from agol_pandas_spark.sources.http_client import (
        AuthError,
        HttpPagedClient,
        TokenProvider,
    )
    from agol_pandas_spark.sources.paged import read_paged_aggregate

    rows = [{"id": i, "grp": "g", "v": i} for i in range(1, 11)]
    fields = [
        {"name": "id", "type": "esriFieldTypeOID"},
        {"name": "grp", "type": "esriFieldTypeString"},
        {"name": "v", "type": "esriFieldTypeInteger"},
    ]
    srv, seen = _fake_arcgis_server(
        rows, fields, auth={"username": "svc", "password": "pw",
                            "ttl_requests": 5},
    )
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        ok = HttpPagedClient(url, token=TokenProvider(
            f"{url}/generateToken", "svc", "pw"))
        out = read_paged_aggregate(
            spark, ok, ["grp"], [("sum", "v", "v_sum")]
        )
        assert [tuple(r) for r in out.collect()] == [("g", 55)]
        bad = HttpPagedClient(url, token=TokenProvider(
            f"{url}/generateToken", "svc", "WRONG"))
        with _pytest.raises(AuthError):
            read_paged_aggregate(spark, bad, ["grp"],
                                 [("sum", "v", "v_sum")])
    finally:
        srv.shutdown()
