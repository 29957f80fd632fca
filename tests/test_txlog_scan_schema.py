"""Every txlog scan declares the schema ``spark.read.parquet`` would
infer (``txlog._parquet_read_schema``: one footer read on the driver),
so table reads and DML build their DataFrames without a
schema-inference job. The declaration is pinned here against Spark's
own inference for every kind of part the engine scans, and each DML
op's job count is pinned so an inference job cannot creep back, as is
the number of scans a snapshot read plans."""

from __future__ import annotations

import functools
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_analyse_marche_emploi_spark import tables
from data_analyse_marche_emploi_spark.sources.txlog import (
    FileStore,
    InMemoryFileStore,
    PosixFileStore,
    PosixLogStore,
    TxLogBatchWriter,
    TxLogStreamWriter,
    TxTable,
    _parquet_read_schema,
    register_txlog_source,
)
from tests.conftest import SF_SMOKE, jobs_in_group

COLUMNS = (
    "k long, d date, ts timestamp, ntz timestamp_ntz, dec decimal(12,2), "
    "nested struct<a:int,tags:array<string>>, m map<string,int>"
)


def _rows(spark, keys):
    return spark.sql(
        "SELECT id AS k, date_add(date'2024-01-01', CAST(id AS INT)) AS d, "
        "timestamp'2024-01-01 00:00:00.123456' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts, "
        "timestamp_ntz'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, id) AS ntz, "
        "CAST(id / 4 AS decimal(12,2)) AS dec, "
        "named_struct('a', CAST(id AS INT), 'tags', array(CAST(id AS STRING))) AS nested, "
        f"map('v', CAST(id AS INT)) AS m FROM range({keys.start}, {keys.stop})"
    )


def _dv_parts(t):
    """The dv parts the latest commit wrote."""
    return [
        d if isinstance(d, str) else d[-1]
        for d in t._read_action(t.latest_version())["dv"].values()
    ]


@pytest.fixture(scope="module")
def parts(spark, tmp_path_factory):
    """One table holding every kind of part the engine scans, as
    ``{kind: [local paths]}``."""
    register_txlog_source(spark)
    p = str(tmp_path_factory.mktemp("kinds") / "t")
    t = TxTable.create(spark, p, _rows(spark, range(0, 40)).coalesce(2))
    t.delete_where("k % 7 = 0", mode="dv", max_matched_fraction=1.0)
    spark_dv = _dv_parts(t)
    # one file's positions split across staged files, then coalesced
    # by pyarrow into its single dv part
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        t.delete_where("k % 5 = 1", mode="dv", max_matched_fraction=1.0)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    coalesced = _dv_parts(t)
    # the DSv2 writer's parts
    _rows(spark, range(100, 110)).write.format("txlog").option(
        "path", p
    ).mode("append").save()
    dsv2 = t._read_action(t.latest_version())["adds"]
    t.merge_upsert(_rows(spark, range(30, 50)), key="k", mode="mor")
    merge = t._read_action(t.latest_version())
    kinds = {
        "data": t._read_action(0)["adds"] + merge["adds"],
        "delete": merge["delete_adds"],
        "dv": spark_dv,
        "dv_coalesced": coalesced,
        "dsv2": dsv2,
    }
    out = {k: [t._local_path(n) for n in names] for k, names in kinds.items()}
    writers = {
        k: {pq.ParquetFile(f).metadata.created_by.split()[0] for f in fs}
        for k, fs in out.items()
    }
    # the kinds really are what they are named for
    assert writers == {
        "data": {"parquet-mr"},
        "delete": {"parquet-mr"},
        "dv": {"parquet-mr"},
        "dv_coalesced": {"parquet-cpp-arrow"},
        "dsv2": {"parquet-cpp-arrow"},
    }
    assert all(out.values())
    return out


@pytest.mark.parametrize(
    "kind", ["data", "delete", "dv", "dv_coalesced", "dsv2"]
)
def test_declared_schema_equals_inferred(spark, parts, kind):
    for path in parts[kind]:
        assert _parquet_read_schema([path]) == spark.read.parquet(path).schema


def test_declared_schema_covers_the_column_types(spark, parts):
    want = spark.createDataFrame([], COLUMNS).schema
    for kind in ("data", "dsv2"):
        assert _parquet_read_schema(parts[kind]) == want


def test_multi_path_scan_reads_the_smallest_path(spark, parts):
    paths = [p for fs in parts.values() for p in fs]
    random.Random(7).shuffle(paths)
    assert _parquet_read_schema(paths) == spark.read.parquet(*paths).schema


def test_non_merge_scan_of_differing_files(spark, tmp_path):
    """Files whose schemas differ: Spark infers from the smallest path
    only, whatever order the paths come in."""
    small = str(tmp_path / "a.parquet")
    large = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"x": pa.array([1], pa.int64())}), small)
    spark.createDataFrame([(1, "s")], "y long, z string").coalesce(1).write.parquet(
        str(tmp_path / "stage")
    )
    (staged,) = [
        f for f in os.listdir(tmp_path / "stage") if f.endswith(".parquet")
    ]
    os.replace(tmp_path / "stage" / staged, large)
    for paths in ([small, large], [large, small]):
        declared = _parquet_read_schema(paths)
        assert declared == spark.read.parquet(*paths).schema
        assert declared.names == ["x"]


def test_declared_schema_keeps_field_metadata(spark, tmp_path):
    d = str(tmp_path / "m")
    spark.range(2).coalesce(1).select(
        F.col("id").alias("k", metadata={"comment": "key"})
    ).write.parquet(d)
    (name,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
    path = os.path.join(d, name)
    declared = _parquet_read_schema([path])
    assert declared == spark.read.parquet(path).schema
    assert declared["k"].metadata == {"comment": "key"}


def test_dsv2_append_to_a_timestamp_ntz_table(spark, tmp_path):
    """The format writer's schema check reads the table's
    ``timestamp_ntz`` column as ``timestamp_ntz``, so the append lands,
    and the format read equals ``TxTable.read()``."""

    def rows(lo, hi):
        return spark.sql(
            "SELECT id AS k, timestamp_ntz'2024-01-01 00:00:00' "
            f"+ make_interval(0, 0, 0, 0, id) AS ntz FROM range({lo}, {hi})"
        )

    register_txlog_source(spark)
    p = str(tmp_path / "t")
    t = TxTable.create(spark, p, rows(0, 10).coalesce(1))
    rows(10, 20).write.format("txlog").option("path", p).mode(
        "append"
    ).save()
    assert t.latest_version() == 1
    fmt = spark.read.format("txlog").option("path", p).load()
    want = t.read()
    assert fmt.schema == want.schema
    got = sorted(fmt.collect(), key=lambda r: r.k)
    exp = sorted(want.collect(), key=lambda r: r.k)
    assert got == exp
    assert [r.k for r in exp] == list(range(20))


def test_format_read_of_a_spark_timestamp_column(spark, tmp_path):
    """Spark writes ``timestamp`` as INT96, which pyarrow reads as
    tz-naive nanoseconds; the format reader hands it to the Python
    data source as UTC microseconds, so its read equals
    ``TxTable.read()``, nulls and sub-second digits included."""
    register_txlog_source(spark)
    p = str(tmp_path / "t")
    t = TxTable.create(spark, p, spark.sql(
        "SELECT id AS k, IF(id = 3, NULL, timestamp'1969-12-31 23:59:59' "
        "+ make_interval(0, 0, 0, id, 0, 0, id * 1.000001)) AS ts "
        "FROM range(8)"
    ).coalesce(1))
    (name,) = t.snapshot_files()
    footer = pq.ParquetFile(t._local_path(name)).schema
    assert footer.column(footer.names.index("ts")).physical_type == "INT96"
    fmt = spark.read.format("txlog").option("path", p).load()
    want = t.read()
    assert fmt.schema == want.schema
    assert sorted(fmt.collect()) == sorted(want.collect())
    # the change feed's Arrow tasks read through the same scan
    feed = spark.read.format("txlog").option("path", p).option(
        "readChangeFeed", "true"
    ).option("startingVersion", 0).load()
    assert sorted(feed.collect()) == sorted(t.read_changes("k", -1).collect())


def test_table_read_uses_the_declared_schema(spark, parts):
    """What TxTable scans equals Spark's inference over the same parts,
    merge_schema off and on."""
    t = TxTable(spark, os.path.dirname(parts["data"][0]))
    names = t.snapshot_files()
    paths = [t._local_path(n) for n in names]
    assert t._read_files(names).schema == spark.read.parquet(*paths).schema
    merged = spark.read.option("mergeSchema", "true").parquet(*paths).schema
    assert t._read_files(names, merge_schema=True).schema == merged


# -- job budget ----------------------------------------------------------------

KEY = "o_orderkey"
# build-phase Spark jobs per op, on a table with pending deletion
# vectors and equality deletes when it is read
JOB_BUDGET = {
    "append": 1,
    "merge_cow": 6,
    "delete_dv": 2,
    "update_dv": 5,
    "merge_mor": 3,
    "read": 0,
    "optimize": 4,
}


def _keys(orders, lo, hi, shift=0, price=0.0):
    df = orders.filter((F.col(KEY) >= lo) & (F.col(KEY) < hi))
    return df.withColumn(KEY, F.col(KEY) + shift).withColumn(
        "o_totalprice", F.col("o_totalprice") + price
    )


def _dml_cycle(t: TxTable, orders) -> dict:
    """The txlog benchmark workload's DML cycle on ``t``, op by op."""
    keys = functools.partial(_keys, orders)
    return {
        "append": lambda: t.append(keys(1000, 1100, shift=10**7)),
        "merge_cow": lambda: t.merge_upsert(
            keys(100, 300, price=1.0), key=KEY, mode="cow"
        ),
        "delete_dv": lambda: t.delete_where(f"{KEY} % 97 = 3", mode="dv"),
        "update_dv": lambda: t.update_where(
            f"{KEY} % 89 = 5", {"o_orderpriority": "'1-URGENT'"}, mode="dv"
        ),
        "merge_mor": lambda: t.merge_upsert(
            keys(500, 700, price=2.0), key=KEY, mode="mor"
        ),
        "read": t.read,
        "optimize": t.optimize,
    }


def _orders(spark):
    return tables.load_table(spark, SF_SMOKE, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )


def test_txlog_op_job_budget(spark, tmp_path):
    """One DML cycle of the txlog benchmark workload, on the orders
    fixture: each op launches exactly its budgeted jobs."""
    orders = _orders(spark)
    t = TxTable.create(spark, str(tmp_path / "t"), _keys(orders, 0, 1000))
    ops = _dml_cycle(t, orders)
    jobs = {name: jobs_in_group(spark, op) for name, op in ops.items()}
    assert jobs == JOB_BUDGET


def test_delete_mor_job_budget(spark, tmp_path):
    """An equality delete materialises its matched keys once, with
    their counts observed in the same pass (2 jobs: the aggregate's
    exchange and the checkpoint), then runs the over-delete guard as
    one semi-join count (3: the key broadcast, the snapshot scan and
    the count's final aggregate) and the one-file delete-key write
    (1). A budget may go down, never up."""
    t = TxTable.create(spark, str(tmp_path / "t"), spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).coalesce(1))
    jobs = jobs_in_group(
        spark, lambda: t.delete_where("k % 3 = 0", mode="mor", key="k")
    )
    assert jobs == 6
    assert sorted(r.k for r in t.read().collect()) == [
        k for k in range(20) if k % 3
    ]


def test_cow_dml_job_budget(spark, tmp_path):
    """Copy-on-write DML on a table with no pending deletes: one
    touched-file collect (2 jobs: the distinct's exchange and the
    collect) and the rewrite of the touched files (1), for a delete
    and an update alike. A budget may go down, never up."""
    t = TxTable.create(spark, str(tmp_path / "t"), spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).coalesce(1))
    jobs = {
        "delete": jobs_in_group(spark, lambda: t.delete_where("k % 3 = 0")),
        "update": jobs_in_group(
            spark, lambda: t.update_where("k % 5 = 1", {"v": "v + 1"})
        ),
    }
    assert jobs == {"delete": 3, "update": 3}
    assert sorted((r.k, r.v) for r in t.read().collect()) == [
        (k, k * 10 + (k % 5 == 1)) for k in range(20) if k % 3
    ]


# checkpoint records read per op, on a checkpointed table: each op
# replays the log once. A budget may go down, never up.
REPLAY_BUDGET = {op: 1 for op in (*JOB_BUDGET, "checkpoint", "vacuum")}
# log-dir listings per op on the same table (each a LIST request on an
# object store). A budget may go down, never up.
LIST_BUDGET = {
    "append": 2,
    "merge_cow": 2,
    "delete_dv": 2,
    "update_dv": 2,
    "merge_mor": 2,
    "read": 1,
    "optimize": 2,
    "checkpoint": 1,
    "vacuum": 2,
}


class _CheckpointReads(PosixLogStore):
    """Counts the checkpoint records the engine reads and its log-dir
    listings."""

    def __init__(self):
        self.reads = 0
        self.lists = 0

    def read_json(self, path: str) -> dict:
        self.reads += ".checkpoint." in os.path.basename(path)
        return super().read_json(path)

    def list_log(self, log_dir: str) -> list[str]:
        self.lists += 1
        return super().list_log(log_dir)


def test_txlog_op_replay_budget(spark, tmp_path):
    """The same cycle plus checkpoint and vacuum, on a table that was
    checkpointed first, through a fresh handle: every op reads the
    checkpoint record once, so its constraints, txns, schema and
    partition columns come from the one replay its snapshot runs, and
    lists the log dir no more often than its budget."""
    orders = _orders(spark)
    p = str(tmp_path / "t")
    TxTable.create(spark, p, _keys(orders, 0, 1000)).checkpoint()
    store = _CheckpointReads()
    t = TxTable(spark, p, log_store=store)
    ops = {
        **_dml_cycle(t, orders),
        "checkpoint": t.checkpoint,
        "vacuum": lambda: t.vacuum(keep_versions=2),
    }
    reads, lists = {}, {}
    for name, op in ops.items():
        before = store.reads, store.lists
        op()
        reads[name] = store.reads - before[0]
        lists[name] = store.lists - before[1]
    assert reads == REPLAY_BUDGET
    assert lists == LIST_BUDGET


# log-dir listings of the DSv2 writers (``df.write.format("txlog")``
# and the stream sink): one at plan time for the bound snapshot, two per
# commit — one listing serves the txn check and the create-vs-append
# test, and _commit's protocol guard takes the other. A budget may go
# down, never up.
WRITER_LIST_BUDGET = {"init": 1, "append": 2, "txn_append": 2,
                      "stream_commit": 2, "overwrite": 2}


def test_txlog_writer_list_budget(spark, tmp_path, monkeypatch):
    """The registered writers, driven in-process on a one-file table,
    list the log no more often than ``WRITER_LIST_BUDGET``, and every
    commit still lands."""
    p = str(tmp_path / "t")
    TxTable.create(spark, p, spark.range(3).select(F.col("id").alias("k")).coalesce(1))
    schema = spark.range(1).select(F.col("id").alias("k")).schema
    lists = []
    list_log = PosixLogStore.list_log

    def counting(self, log_dir):
        lists.append(log_dir)
        return list_log(self, log_dir)

    monkeypatch.setattr(PosixLogStore, "list_log", counting)

    def listed(fn):
        before = len(lists)
        out = fn()
        return out, len(lists) - before

    def commit(writer, k, *epoch):
        msg = writer.write(iter([pa.record_batch({"k": pa.array([k], pa.int64())})]))
        return listed(lambda: writer.commit([msg], *epoch))[1]

    w, n_init = listed(lambda: TxLogBatchWriter({"path": p}, False, schema))
    counts = {"init": n_init, "append": commit(w, 7)}
    counts["txn_append"] = commit(TxLogBatchWriter(
        {"path": p, "txnappid": "job", "txnversion": "1"}, False, schema), 8)
    counts["stream_commit"] = commit(
        TxLogStreamWriter({"path": p, "txnappid": "sink"}, schema), 9, 0)
    counts["overwrite"] = commit(TxLogBatchWriter({"path": p}, True, schema), 10)
    assert counts == WRITER_LIST_BUDGET
    t = TxTable(spark, p)
    assert t.txns() == {"job": 1, "sink": 0}
    assert [r.k for r in t.read().collect()] == [10]


def _parquet_relations(df) -> int:
    analyzed = df._jdf.queryExecution().analyzed().toString()
    return len(re.findall(r"Relation \[[^\]]*\] parquet", analyzed))


def test_read_plan_scans_each_file_class_once(spark, tmp_path):
    """``read()`` of a snapshot with pending deletion vectors and
    equality deletes plans at most four parquet scans — data files
    carrying vectors, clean data files, dv parts, delete keys —
    however many commit generations, stacked vectors or delete files
    it holds."""

    def rows(lo, hi, bump=0):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 10 + bump).alias("v")
        ).coalesce(1)

    t = TxTable.create(spark, str(tmp_path / "t"), rows(0, 12))
    for g in range(1, 4):
        t.append(rows(12 * g, 12 * g + 12))
    want = {k: k * 10 for k in range(48)}
    for m, r in ((7, 0), (5, 1)):
        t.delete_where(f"k % {m} = {r}", mode="dv")
        want = {k: v for k, v in want.items() if k % m != r}
    stacks = t._snapshot().dv
    assert sum(len(ps) == 2 for ps in stacks.values()) >= 2, stacks
    t.merge_upsert(rows(40, 52, bump=1), key="k", mode="mor")
    want.update({k: k * 10 + 1 for k in range(40, 52)})

    def check() -> int:
        df = t.read()
        assert {r.k: r.v for r in df.collect()} == want
        return _parquet_relations(df)

    first = check()
    assert first <= 4
    # two more generations and a second delete file
    t.append(rows(60, 70))
    t.merge_upsert(rows(45, 65, bump=2), key="k", mode="mor")
    want.update({k: k * 10 for k in range(60, 70)})
    want.update({k: k * 10 + 2 for k in range(45, 65)})
    assert len(t._snapshot().deletes) == 2
    assert check() == first


# -- FileStore capability flag -------------------------------------------------


def test_process_local_flag():
    assert not FileStore.process_local
    assert PosixFileStore.process_local
    assert InMemoryFileStore.process_local


def test_uri_read_path_fails_before_any_footer_read(spark, tmp_path, monkeypatch):
    class UriStore(PosixFileStore):
        process_local = False

        def read_path(self, table_path, name):
            return f"s3://bucket/{name}"

    p = str(tmp_path / "t")
    TxTable.create(spark, p, spark.range(3).withColumnRenamed("id", "k"))
    t = TxTable(spark, p, file_store=UriStore())

    def no_footer(*a, **k):
        raise AssertionError("footer read before the path check")

    monkeypatch.setattr(pq, "ParquetFile", no_footer)
    monkeypatch.setattr(pq, "read_table", no_footer)
    for op in (
        t.read,
        t.write_schema,
        lambda: t.append(spark.range(3, 5).withColumnRenamed("id", "k")),
    ):
        with pytest.raises(ValueError, match="UriStore.read_path returned 's3://"):
            op()
