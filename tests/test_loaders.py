"""Source/sink parity: CSV import (reference http/handler.rs:403-533),
snapshot export/restore (src/snapshot/format.rs gzip JSON-lines), the
nanos-timestamp parquet quirk handled by load_tables, and the footer
reader (read_parquet): Spark's schema and rows with no Spark job, and
the label counts it seeds."""

from __future__ import annotations

import datetime
import decimal
import glob
import os

import pytest
from pyspark.sql import functions as F

from samyama_graph_spark import lifecycle
from samyama_graph_spark.loaders import (
    ID_BASE,
    load_tables,
    read_csv_graph_table,
    read_parquet,
    read_snapshot,
    tpch_graph,
    write_snapshot,
)


def test_csv_import_header_typing(spark, tmp_path):
    p = str(tmp_path / "people.csv")
    with open(p, "w") as f:
        f.write("id|name|age|score\n1|Alice|30|0.5\n2|Bob|25|1.25\n")
    df = read_csv_graph_table(spark, p, sep="|")
    assert [f.name for f in df.schema.fields] == ["id", "name", "age", "score"]
    kinds = {f.name: f.dataType.typeName() for f in df.schema.fields}
    assert kinds["id"] in ("integer", "long") and kinds["score"] == "double"
    assert df.count() == 2


def test_snapshot_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "Alice", ["Person"]), (2, "Acme", ["Company"])],
        "id long, name string, labels array<string>",
    )
    path = str(tmp_path / "snap")
    write_snapshot(src, path)
    # gzip part files on disk, per the reference's .sgsnap format
    parts = [p for p in os.listdir(path) if p.endswith(".json.gz")]
    assert parts, f"expected gzip json parts, got {os.listdir(path)}"
    back = read_snapshot(spark, path)
    got = sorted(
        (r["id"], r["name"], list(r["labels"])) for r in back.collect()
    )
    assert got == [(1, "Alice", ["Person"]), (2, "Acme", ["Company"])]


def test_load_tables_nanos_timestamps(spark, sf_dir):
    events = load_tables(spark, sf_dir, ["events"])["events"]
    kinds = {f.name: f.dataType.typeName() for f in events.schema.fields}
    assert "timestamp" in str(kinds.get("ts", "")), kinds
    assert events.filter(F.col("ts").isNotNull()).count() > 0


def _last_job(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _same_as_spark(spark, path):
    """read_parquet gives spark.read.parquet's schema and rows; returns
    its footer row count."""
    want = spark.read.parquet(path)
    got, rows = read_parquet(spark, path)
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    return rows


@pytest.fixture
def nanos_as_long(spark):
    with lifecycle.scope(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}):
        yield


@pytest.fixture
def fresh(spark, sf_dir):
    """A new session on the shared context: nothing loaded or cached."""
    from pyspark.sql import session as pyspark_session

    other = spark.newSession()
    yield other
    lifecycle.release(other, ("workloads_ldbc.knows", sf_dir))
    # creating a session rebinds pyspark's RDD.toDF to it: bind it back
    pyspark_session._monkey_patch_RDD(spark)


def test_read_parquet_matches_spark_on_every_table(spark, sf_dir, nanos_as_long):
    paths = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    assert len(paths) == 10
    for path in paths:
        start = _last_job(spark)
        read_parquet(spark, path)
        assert _last_job(spark) == start, path
        assert _same_as_spark(spark, path) == spark.read.parquet(path).count()


def test_read_parquet_matches_spark_on_spark_written_parts(spark, tmp_path):
    ts = datetime.datetime(2021, 3, 4, 5, 6, 7, 891011)
    df = spark.createDataFrame(
        [
            (i, ts, ts, decimal.Decimal(f"{i}.25"), [f"t{i}", None], {"k": i})
            for i in range(40)
        ],
        "id long, ts timestamp, ntz timestamp_ntz, amount decimal(12,2), "
        "tags array<string>, attrs map<string,int>",
    )
    df = df.withColumn("id", F.col("id").alias("id", metadata={"comment": "key"}))
    path = str(tmp_path / "parts")
    df.repartition(3).write.parquet(path)
    assert len(glob.glob(os.path.join(path, "part-*"))) == 3
    assert _same_as_spark(spark, path) == 40
    got = read_parquet(spark, path)[0].schema["id"].metadata
    assert got == {"comment": "key"}


def test_read_parquet_matches_spark_on_arrow_types(spark, tmp_path, nanos_as_long):
    """Files without Spark's schema string: Spark's parquet type rules,
    including NTZ for non-UTC timestamps and long for nanos."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = datetime.datetime(2020, 1, 2, 3, 4, 5, 678901)
    table = pa.table({
        "b": pa.array([True, None], pa.bool_()),
        "i8": pa.array([1, -2], pa.int8()),
        "i16": pa.array([1, -2], pa.int16()),
        "f32": pa.array([1.5, None], pa.float32()),
        "s": pa.array(["x", None], pa.large_string()),
        "bin": pa.array([b"x", b""], pa.binary()),
        "day": pa.array([datetime.date(2020, 1, 1)] * 2, pa.date32()),
        "dec": pa.array([decimal.Decimal("1.25")] * 2, pa.decimal128(20, 2)),
        "ts_ms": pa.array([ts] * 2, pa.timestamp("ms")),
        "ts_us": pa.array([ts] * 2, pa.timestamp("us")),
        "ts_ns": pa.array([ts] * 2, pa.timestamp("ns")),
        "tz_us": pa.array([ts] * 2, pa.timestamp("us", "UTC")),
        "dict": pa.array(["a", "b"]).dictionary_encode(),
        "nested": pa.array(
            [[{"x": [1]}], []], pa.list_(pa.struct([("x", pa.list_(pa.int16()))]))
        ),
        "m": pa.array([[("a", 1)], None], pa.map_(pa.string(), pa.int64())),
    })
    path = str(tmp_path / "types.parquet")
    pq.write_table(table, path, row_group_size=1)
    start = _last_job(spark)
    read_parquet(spark, path)
    assert _last_job(spark) == start
    assert _same_as_spark(spark, path) == 2


def test_read_parquet_nanos_events(spark, sf_dir, tmp_path, nanos_as_long):
    """events with TIMESTAMP(NANOS) ts: a long under nanosAsLong, as
    Spark infers it, and load_tables truncates it to micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = events.column("ts").cast(pa.timestamp("ns"))
    nanos = tmp_path / "nanos"
    nanos.mkdir()
    pq.write_table(
        events.set_column(events.schema.get_field_index("ts"), "ts", ts),
        str(nanos / "events.parquet"),
    )
    path = str(nanos / "events.parquet")
    assert _same_as_spark(spark, path) == events.num_rows
    assert dict(read_parquet(spark, path)[0].dtypes)["ts"] == "bigint"
    micros = load_tables(spark, sf_dir, ["events"])["events"]
    truncated = load_tables(spark, str(nanos), ["events"])["events"]
    assert sorted(micros.collect()) == sorted(truncated.collect())


def test_read_parquet_falls_back_to_spark(spark, tmp_path):
    """Partitioned layouts, INT96 timestamps and unsigned integers are
    left to Spark's own inference: same frame, no footer count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = str(tmp_path / "partitioned")
    spark.range(6).withColumn("k", F.col("id") % 2).write.partitionBy("k").parquet(
        part
    )
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([datetime.datetime(2020, 1, 1)], pa.timestamp("ns"))}),
        int96,
        use_deprecated_int96_timestamps=True,
    )
    unsigned = str(tmp_path / "unsigned.parquet")
    pq.write_table(pa.table({"u": pa.array([1, 2], pa.uint32())}), unsigned)
    for path in (part, int96, unsigned):
        assert _same_as_spark(spark, path) is None
    assert "k" in read_parquet(spark, part)[0].columns


def test_graph_build_launches_no_job(fresh, sf_dir):
    from samyama_graph_spark.workloads_ldbc import ldbc_graph

    start = _last_job(fresh)
    tpch_graph(fresh, sf_dir)
    ldbc_graph(fresh, sf_dir)
    assert _last_job(fresh) == start


def test_seeded_label_counts(fresh, sf_dir):
    """The row-preserving labels start with their footer counts, and
    the LDBC graph carries them."""
    from samyama_graph_spark.workloads_ldbc import ldbc_graph

    g = tpch_graph(fresh, sf_dir)
    seeded = dict(g.__dict__["_count_cache"])
    assert set(seeded) == {"Region", "Nation", "Customer", "Supplier", "Part", "Order"}
    for label, n in seeded.items():
        assert n == g.nodes[label].count(), label
    assert ldbc_graph(fresh, sf_dir).__dict__["_count_cache"] == seeded


def test_ldbc_graph_recounts_all_types_total(fresh, sf_dir):
    """ldbc_graph carries the base graph's per-type edge counts but not
    its all-types total, which lacks KNOWS."""
    from samyama_graph_spark.workloads_ldbc import ldbc_graph

    base_total = tpch_graph(fresh, sf_dir).edge_count_est(None)
    g = ldbc_graph(fresh, sf_dir)
    assert g.edge_count_est(None) == base_total + g.edges["KNOWS"].count()


def test_planner_runs_no_count_job(fresh, sf_dir):
    """After a write, planning a Customer-PLACED-Order aggregate reads
    the seeded label counts instead of counting."""
    from samyama_graph_spark.cypher.engine import CypherEngine
    from samyama_graph_spark.workloads_ldbc import ldbc_graph

    eng = CypherEngine(ldbc_graph(fresh, sf_dir))
    eng.query(
        "MATCH (p:Customer) WHERE id(p) = $me SET p.acctbal = $bal",
        {"me": ID_BASE["Customer"] + 1, "bal": 1.0},
    ).collect()
    start = _last_job(fresh)
    df = eng.query(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE o.totalprice > $t "
        "RETURN c.name AS name, count(o) AS n_orders ORDER BY n_orders DESC, "
        "name LIMIT 3",
        {"t": 1000.0},
    )
    assert _last_job(fresh) == start
    assert len(df.collect()) == 3
