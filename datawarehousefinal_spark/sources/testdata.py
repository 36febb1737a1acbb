"""Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).

One parquet file per table under ``/root/testdata/sf{0.001,0.01,0.1}``.

Nine of the ten tables are read under a declared schema (``SCHEMAS``, the
counterpart of the reference's fixed ``CsvInput`` field list, SURVEY
§1.1), so building a DataFrame over them runs no Spark job: an undeclared
``spark.read.parquet`` runs a one-task footer-inference job at every call,
inside the plan construction of every face that loads a table. A declared
type also cannot drift with a global conf such as
``spark.sql.parquet.inferTimestampNTZ.enabled``.

``events`` is the one inferred table: its ``ts`` column has shipped in two
physical layouts (INT64 nanos, and micros without UTC adjustment), and no
single declared type reads both, so ``load_table`` probes the inferred type
and normalises it (below).

A declared schema that stops matching the files (a regenerated fixture)
fails loudly in ``tests/test_loaders.py``, which compares every declared
schema with the inferred one at every scale factor present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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
)

# Tables small enough to broadcast in a star join at ANY scale factor
# (region/nation are fixed-size; the others grow with sf but stay dim-sized
# relative to the facts orders/lineitem).
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")

# Spark DDL of every table but ``events``, equal to what footer inference
# gives for the fixtures.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name in SCHEMAS:
        # Declared: no inference job while the plan is built.
        return spark.read.schema(SCHEMAS[name]).parquet(path)
    # events.parquet's ts column has shipped in two physical layouts across
    # fixture generations: INT64 TIMESTAMP(NANOS) (which Spark only reads
    # with nanosAsLong set, surfacing long nanos) and TIMESTAMP(MICROS,
    # isAdjustedToUTC=false) (which surfaces as timestamp_ntz). No declared
    # type reads both, so infer and normalize both to a session-zone
    # TimestampType so every downstream operator and oracle sees one stable
    # type. The conf is runtime-settable and must be applied HERE (not only
    # in our session factory) because the harness may hand us a vanilla
    # SparkSession it built itself.
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The ntz branch below reinterprets naive micros via the SESSION
        # zone — on a vanilla harness-built session with a non-UTC zone the
        # ntz fixtures would decode to different instants than the nanos
        # fixtures (zone-independent epoch micros). Pin UTC here, not just
        # in our session factory, so both layouts agree on any session.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            # long nanos — truncate to micros with INTEGER division (a
            # float divide loses precision at 2026-epoch nanos: doubles
            # have 53-bit mantissas, ulp ≈ 0.25 µs), the same thing
            # DuckDB's TIMESTAMP_NS → TIMESTAMP cast does.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Naive micros: reinterpret the wall-clock value in the session
            # zone (UTC, session.py) — identical instants, LTZ type.
            df = df.withColumn("ts", F.to_timestamp("ts"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}
