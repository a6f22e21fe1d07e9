"""Loaders: raw parquet tables and the TPC-H -> property-graph projection.

Mirrors the reference's bulk-load surface (CSV/JSON import,
reference: src/http/handler.rs:403-533; LDBC pipe-separated CSV
loaders, benches/ldbc_common/mod.rs:446-540) re-expressed as
``spark.read``, plus the F5 projection from FIXTURES.md that turns the
driver's TPC-H-ish star schema into node and edge tables.

Parquet goes through ``read_parquet``: the schema and row count come
from the file footers, read on the driver, and the frame is opened
with that schema, so no Spark job runs for schema inference (one per
``spark.read.parquet`` otherwise).  ``tpch_graph`` seeds the planner's
label counts from those footer counts, as the reference answers label
counts from its catalog (src/graph/catalog.rs:63-140).

Node ids are made globally unique by offsetting each table's key into
a disjoint billion-wide range — the Spark analogue of the reference's
single NodeId(u64) arena.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from samyama_graph_spark import lifecycle
from samyama_graph_spark.graph import EdgeMeta, PropertyGraph

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Disjoint global node-id ranges per label.
BASE = 1_000_000_000
ID_BASE = {
    "Region": 1 * BASE,
    "Nation": 2 * BASE,
    "Customer": 3 * BASE,
    "Supplier": 4 * BASE,
    "Part": 5 * BASE,
    "Order": 6 * BASE,
    "Document": 7 * BASE,
    "Event": 8 * BASE,
}


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _norm(sf_dir: str | None) -> str:
    """The memo key of ``sf_dir``: None means the default directory."""
    return os.path.normpath(sf_dir or default_sf_dir())


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Open the driver's parquet tables with ``read_parquet`` (no Spark
    job); returns {name: DataFrame}, cached per (session, sf_dir).

    events.ts is TIMESTAMP(NANOS) in the parquet, which Spark rejects
    by default; read it as long nanos (legacy conf) and truncate to a
    microsecond TimestampType — the same value DuckDB produces.  The
    division is integral: a double quotient loses the last microsecond
    of present-day nanosecond values.
    """
    return {n: df for n, (df, _) in _load(spark, sf_dir, names).items()}


def _load(
    spark: SparkSession, sf_dir: str | None, names: list[str] | None
) -> dict[str, tuple[DataFrame, int | None]]:
    """load_tables with each table's footer row count (None when the
    footers could not be read).  The frames are lazy plan handles:
    memoizing them skips repeated footer reads without pinning data."""
    sf_dir = _norm(sf_dir)
    wanted = names or TABLES
    cached = lifecycle.memo(spark, ("loaders.tables", sf_dir), dict)
    missing = [n for n in wanted if n not in cached]
    if missing:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        for name in missing:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                df, rows = read_parquet(spark, path)
                if name == "events" and dict(df.dtypes).get("ts") == "bigint":
                    df = df.withColumn(
                        "ts", F.timestamp_micros(F.expr("ts div 1000"))
                    )
                cached[name] = (df, rows)
    return {n: cached[n] for n in wanted if n in cached}


def read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, int | None]:
    """``spark.read.parquet(path)`` without its schema-inference job.

    ``path`` is one parquet file or a flat directory of part files.
    Their footers are read on the driver; the schema is the one Spark
    would infer from them (its own schema string when Spark wrote the
    file, else Spark's parquet type rules under the session's
    ``binaryAsString`` / ``inferTimestampNTZ`` / ``nanosAsLong``
    confs), and the frame is opened with it.  Returns the frame and
    the row count summed from the footers.  Anything the footer reader
    does not handle — a missing or non-local path, partition
    subdirectories, summary files, part files whose schemas differ, a
    type outside the rules below — falls back to ``spark.read.parquet``
    (count None), which infers or fails exactly as before."""
    from pyarrow import ArrowException

    try:
        schema, rows = _footer_schema(spark, path)
    except (ArrowException, OSError, ValueError, KeyError, TypeError, StopIteration):
        return spark.read.parquet(path), None
    return spark.read.schema(schema).parquet(path), rows


# Spark stores its own schema in the footer of every file it writes
# (ParquetReadSupport.SPARK_METADATA_KEY) and infers from it verbatim.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(spark: SparkSession, path: str) -> tuple[T.StructType, int]:
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        # the part files Spark's file index lists: hidden and "_" names
        # skipped; summary files (which Spark would prefer) and
        # subdirectories (partitions) are not handled here
        names = sorted(os.listdir(path))
        if any(n.startswith(("_metadata", "_common_metadata")) for n in names):
            raise ValueError("parquet summary files")
        files = [
            os.path.join(path, n)
            for n in names
            if not n.startswith(("_", ".")) and not n.endswith("._COPYING_")
        ]
        if not files or any(os.path.isdir(f) for f in files):
            raise ValueError("no flat part files")
    elif os.path.isfile(path):
        files = [path]
    else:
        raise FileNotFoundError(path)
    conf = {
        key: spark.conf.get(f"spark.sql.{key}", default).lower() == "true"
        for key, default in (
            ("parquet.binaryAsString", "false"),
            ("parquet.inferTimestampNTZ.enabled", "true"),
            ("legacy.parquet.nanosAsLong", "false"),
        )
    }
    schema, rows = None, 0
    for f in files:
        md = pq.read_metadata(f)
        rows += md.num_rows
        own = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
        if own is not None:
            part = T.StructType.fromJson(json.loads(own))
        else:
            leaves = (md.schema.column(i) for i in range(md.num_columns))
            arrow = md.schema.to_arrow_schema()
            part = T.StructType(
                [T.StructField(a.name, _spark_type(a.type, leaves, conf)) for a in arrow]
            )
            if next(leaves, None) is not None:
                raise ValueError("unmatched parquet leaf columns")
        if schema is not None and part != schema:
            # Spark would take one part's schema; which one is unspecified
            raise ValueError("part files disagree on the schema")
        schema = part
    return schema, rows


def _spark_type(atype, leaves, conf: dict[str, bool]) -> T.DataType:
    """The Spark type of one field: nesting from the arrow view of the
    footer, each primitive from its parquet leaf column (consumed in
    order), as Spark's ParquetToSparkSchemaConverter maps it."""
    import pyarrow as pa

    if pa.types.is_struct(atype):
        return T.StructType(
            [
                T.StructField(f.name, _spark_type(f.type, leaves, conf))
                for f in (atype.field(i) for i in range(atype.num_fields))
            ]
        )
    if pa.types.is_map(atype):
        return T.MapType(
            _spark_type(atype.key_type, leaves, conf),
            _spark_type(atype.item_type, leaves, conf),
        )
    if pa.types.is_list(atype) or pa.types.is_large_list(atype):
        return T.ArrayType(_spark_type(atype.value_type, leaves, conf))
    return _leaf_type(next(leaves), conf)


_PLAIN = {
    "BOOLEAN": T.BooleanType(),
    "INT32": T.IntegerType(),
    "INT64": T.LongType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
}
_SIGNED = {8: T.ByteType(), 16: T.ShortType(), 32: T.IntegerType(), 64: T.LongType()}


def _leaf_type(col, conf: dict[str, bool]) -> T.DataType:
    physical = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "None" and col.converted_type == "NONE":
        if physical == "BYTE_ARRAY":
            return T.StringType() if conf["parquet.binaryAsString"] else T.BinaryType()
        return _PLAIN[physical]  # INT96, FIXED_LEN_BYTE_ARRAY: KeyError
    if kind == "String" and physical == "BYTE_ARRAY":
        return T.StringType()
    if kind == "Date" and physical == "INT32":
        return T.DateType()
    if kind == "Int" and physical in ("INT32", "INT64") and logical["isSigned"]:
        return _SIGNED[logical["bitWidth"]]
    if kind == "Decimal" and logical["precision"] <= 38:
        return T.DecimalType(logical["precision"], logical["scale"])
    if kind == "Timestamp" and physical == "INT64":
        if logical["timeUnit"] == "nanoseconds":
            if conf["legacy.parquet.nanosAsLong"]:
                return T.LongType()
        elif logical["isAdjustedToUTC"] or not conf["parquet.inferTimestampNTZ.enabled"]:
            return T.TimestampType()
        else:
            return T.TimestampNTZType()
    raise ValueError(f"parquet type {physical} {kind} left to Spark")


def register_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Load + register each table as a temp view (name = table name)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def gid(label: str, key_col: str) -> F.Column:
    """Globalize a per-table key into the label's id range."""
    return (F.col(key_col).cast("long") + F.lit(ID_BASE[label])).alias("id")


_ROW_PRESERVING = {
    "Region": "region",
    "Nation": "nation",
    "Customer": "customer",
    "Supplier": "supplier",
    "Part": "part",
    "Order": "orders",
}


def tpch_graph(spark: SparkSession, sf_dir: str | None = None) -> PropertyGraph:
    """FIXTURES.md F5: the TPC-H star schema as a property graph.

    Nodes: Region, Nation, Customer, Supplier, Part, Order, Document.
    Edges: IN_REGION (nation->region), IN_NATION (customer->nation,
    supplier->nation), PLACED (customer->order), CONTAINS
    (order->part, one edge per lineitem with its measures),
    SUPPLIED_BY (part->supplier per lineitem).  Memoized per (session,
    sf_dir).
    """
    sf_dir = _norm(sf_dir)
    return lifecycle.memo(
        spark, ("loaders.graph", sf_dir), lambda: _tpch_graph(spark, sf_dir)
    )


def _tpch_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    loaded = _load(spark, sf_dir, None)
    t = {name: df for name, (df, _) in loaded.items()}

    nodes = {
        "Region": t["region"].select(
            gid("Region", "r_regionkey"), F.col("r_name").alias("name")
        ),
        "Nation": t["nation"].select(
            gid("Nation", "n_nationkey"), F.col("n_name").alias("name")
        ),
        "Customer": t["customer"].select(
            gid("Customer", "c_custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("mktsegment"),
        ),
        "Supplier": t["supplier"].select(
            gid("Supplier", "s_suppkey"),
            F.col("s_name").alias("name"),
            F.col("s_acctbal").alias("acctbal"),
        ),
        "Part": t["part"].select(
            gid("Part", "p_partkey"),
            F.col("p_name").alias("name"),
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        ),
        "Order": t["orders"].select(
            gid("Order", "o_orderkey"),
            F.col("o_orderstatus").alias("orderstatus"),
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        ),
    }
    if "documents" in t:
        doc = t["documents"].select(
            gid("Document", "doc_id"),
            F.col("text"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars"),
        )
        if "embeddings" in t:
            emb = t["embeddings"].select(
                gid("Document", "vec_id"), F.col("embedding")
            )
            doc = doc.join(emb, "id", "left")
        nodes["Document"] = doc

    li = t["lineitem"]
    edges = {
        "IN_REGION": t["nation"].select(
            gid("Nation", "n_nationkey").alias("src"),
            (F.col("n_regionkey").cast("long") + F.lit(ID_BASE["Region"])).alias("dst"),
        ),
        "IN_NATION": t["customer"]
        .select(
            gid("Customer", "c_custkey").alias("src"),
            (F.col("c_nationkey").cast("long") + F.lit(ID_BASE["Nation"])).alias("dst"),
        )
        .unionByName(
            t["supplier"].select(
                gid("Supplier", "s_suppkey").alias("src"),
                (F.col("s_nationkey").cast("long") + F.lit(ID_BASE["Nation"])).alias(
                    "dst"
                ),
            )
        ),
        "PLACED": t["orders"].select(
            (F.col("o_custkey").cast("long") + F.lit(ID_BASE["Customer"])).alias("src"),
            gid("Order", "o_orderkey").alias("dst"),
        ),
        "CONTAINS": li.select(
            (F.col("l_orderkey").cast("long") + F.lit(ID_BASE["Order"])).alias("src"),
            (F.col("l_partkey").cast("long") + F.lit(ID_BASE["Part"])).alias("dst"),
            F.col("l_linenumber").alias("linenumber"),
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("extendedprice"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
            F.col("l_shipdate").alias("shipdate"),
        ),
        "SUPPLIED_BY": li.select(
            (F.col("l_partkey").cast("long") + F.lit(ID_BASE["Part"])).alias("src"),
            (F.col("l_suppkey").cast("long") + F.lit(ID_BASE["Supplier"])).alias("dst"),
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_quantity").alias("quantity"),
        ),
    }
    meta = {
        "IN_REGION": EdgeMeta("Nation", "Region"),
        "IN_NATION": EdgeMeta(
            None, "Nation", pairs=(("Customer", "Nation"), ("Supplier", "Nation"))
        ),
        "PLACED": EdgeMeta("Customer", "Order"),
        "CONTAINS": EdgeMeta("Order", "Part"),
        "SUPPLIED_BY": EdgeMeta("Part", "Supplier"),
    }
    g = PropertyGraph(spark, nodes, edges, meta)
    # base parquet-backed graph: cardinality stats may be computed
    # lazily at compile time (cheap columnless scans, no union chains)
    g.__dict__["_stats_safe"] = True
    # labels that project one table row for row: the footer count is
    # the label count, so the planner never runs a count job for them
    g.__dict__["_count_cache"] = {
        label: loaded[table][1]
        for label, table in _ROW_PRESERVING.items()
        if loaded[table][1] is not None
    }
    return g


def read_csv_graph_table(
    spark: SparkSession, path: str, sep: str = ",", header: bool = True
) -> DataFrame:
    """CSV import with header typing (reference: http/handler.rs:403-533
    infers column types from headers; Spark's inferSchema does the same
    from data). LDBC files use ``sep='|'``."""
    return (
        spark.read.option("header", str(header).lower())
        .option("sep", sep)
        .option("inferSchema", "true")
        .csv(path)
    )


def read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot restore: the reference's .sgsnap is gzip JSON-lines
    (src/snapshot/format.rs:1-40); spark.read.json handles .gz
    transparently."""
    return spark.read.json(path)


def write_snapshot(df: DataFrame, path: str) -> None:
    """Snapshot export as gzip JSON-lines."""
    df.write.mode("overwrite").option("compression", "gzip").json(path)
