"""pg_catalog emulation — static in-memory catalog tables as temp views.

Mirrors the reference's PostgreSQL catalog emulation
(``src/datafusion-extra/catalog/src/postgres/``): `pg_type` (28 rows, data
from ``src/common/utils/src/pg_type.rs:58-618``), `pg_namespace` (3 rows,
``pg_namespace.rs:50-69``), `pg_database` (1 row, ``pg_database.rs:58-66``),
`pg_class` (empty, ``pg_class.rs:85-88``), `pg_description` (empty,
``pg_description.rs:71-74``).  Each is registered twice — under the
``pg_catalog_``-prefixed name and the bare ``pg_*`` name — mirroring the
reference registering both ``pg_catalog.pg_type`` and ``public.pg_type``
aliases (``mod.rs:22-48``).

The tables are driver-local relations: ``local_relation`` hands Spark a
pyarrow Table, which it plans as a ``LocalRelation`` in the JVM, so a scan
runs no Python worker (``createDataFrame`` over a list of tuples would make
a Python RDD).  Registering all five takes ~0.2 s on a 4-core host, as the
Python-RDD build did; in a fresh process the first JVM Arrow conversion
adds ~0.2 s once, which the first Arrow UDF would otherwise pay.

The reference stores OIDs as Arrow UInt32; Spark has no unsigned types, so
OIDs are LongType here (documented narrowing, SURVEY.md §1.3).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# (oid, typname, typnamespace, typcategory, typrelid, typelem, typbasetype,
#  typtypmod) — the exposed pg_type view schema (pg_type.rs:103-114), values
# from the static table in common/utils/src/pg_type.rs.
PG_TYPE_ROWS = [
    (16, "bool", 11, "B", 0, 0, 0, -1),
    (17, "bytea", 11, "U", 0, 0, 0, -1),
    (18, "char", 11, "Z", 0, 0, 0, -1),
    (20, "int8", 11, "N", 0, 0, 0, -1),
    (21, "int2", 11, "N", 0, 0, 0, -1),
    (23, "int4", 11, "N", 0, 0, 0, -1),
    (700, "float4", 11, "N", 0, 0, 0, -1),
    (701, "float8", 11, "N", 0, 0, 0, -1),
    (1000, "_bool", 11, "A", 0, 16, 0, -1),
    (1001, "_bytea", 11, "A", 0, 17, 0, -1),
    (1002, "_char", 11, "A", 0, 18, 0, -1),
    (1005, "_int2", 11, "A", 0, 21, 0, -1),
    (1007, "_int4", 11, "A", 0, 23, 0, -1),
    (1015, "_varchar", 11, "A", 0, 1043, 0, -1),
    (1016, "_int8", 11, "A", 0, 20, 0, -1),
    (1021, "_float4", 11, "A", 0, 700, 0, -1),
    (1022, "_float8", 11, "A", 0, 701, 0, -1),
    (1043, "varchar", 11, "S", 0, 0, 0, -1),
    (1082, "date", 11, "D", 0, 0, 0, -1),
    (1083, "time", 11, "D", 0, 0, 0, -1),
    (1114, "timestamp", 11, "D", 0, 0, 0, -1),
    (1115, "_timestamp", 11, "A", 0, 1114, 0, -1),
    (1182, "_date", 11, "A", 0, 1082, 0, -1),
    (1183, "_time", 11, "A", 0, 1083, 0, -1),
    (1184, "timestamptz", 11, "D", 0, 0, 0, -1),
    (1185, "_timestamptz", 11, "A", 0, 1184, 0, -1),
    (1186, "interval", 11, "T", 0, 0, 0, -1),
    (1187, "_interval", 11, "A", 0, 1186, 0, -1),
]

PG_TYPE_SCHEMA = T.StructType(
    [
        T.StructField("oid", T.LongType(), False),
        T.StructField("typname", T.StringType(), False),
        T.StructField("typnamespace", T.LongType(), False),
        T.StructField("typcategory", T.StringType(), False),
        T.StructField("typrelid", T.LongType(), False),
        T.StructField("typelem", T.LongType(), False),
        T.StructField("typbasetype", T.LongType(), False),
        T.StructField("typtypmod", T.LongType(), False),
    ]
)

# pg_namespace.rs:50-69
PG_NAMESPACE_ROWS = [(11, "pg_catalog"), (2200, "public"), (13676, "information_schema")]
PG_NAMESPACE_SCHEMA = T.StructType(
    [
        T.StructField("oid", T.LongType(), False),
        T.StructField("nspname", T.StringType(), False),
    ]
)

# pg_database.rs:58-66; current database hardcoded "postgres" (mod.rs:20)
PG_DATABASE_ROWS = [(13757, "postgres", 13756)]
PG_DATABASE_SCHEMA = T.StructType(
    [
        T.StructField("oid", T.LongType(), False),
        T.StructField("datname", T.StringType(), False),
        T.StructField("datlastsysoid", T.LongType(), False),
    ]
)

# pg_class.rs:85-88 — empty table
PG_CLASS_SCHEMA = T.StructType(
    [
        T.StructField("oid", T.LongType(), False),
        T.StructField("relnamespace", T.LongType(), False),
        T.StructField("relkind", T.StringType(), False),
        T.StructField("relpartbound", T.StringType(), False),
    ]
)

# pg_description.rs:71-74 — empty table
PG_DESCRIPTION_SCHEMA = T.StructType(
    [
        T.StructField("objoid", T.LongType(), False),
        T.StructField("classoid", T.LongType(), False),
        T.StructField("objsubid", T.LongType(), False),
        T.StructField("description", T.StringType(), False),
    ]
)


PG_CATALOG_TABLE_NAMES = (
    "pg_type",
    "pg_namespace",
    "pg_database",
    "pg_class",
    "pg_description",
)


def local_relation(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """``rows`` as a DataFrame that Spark plans as a driver-local
    ``LocalRelation``."""
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def register_pg_catalog(spark: SparkSession) -> None:
    """Register the pg_catalog tables as temp views (both alias spellings)."""
    if getattr(spark, "_dataclod_pg_catalog_registered", False):
        return
    tables = [
        ("pg_type", PG_TYPE_ROWS, PG_TYPE_SCHEMA),
        ("pg_namespace", PG_NAMESPACE_ROWS, PG_NAMESPACE_SCHEMA),
        ("pg_database", PG_DATABASE_ROWS, PG_DATABASE_SCHEMA),
        ("pg_class", [], PG_CLASS_SCHEMA),
        ("pg_description", [], PG_DESCRIPTION_SCHEMA),
    ]
    for name, rows, schema in tables:
        df = local_relation(spark, rows, schema)
        df.createOrReplaceTempView(name)
        df.createOrReplaceTempView(f"pg_catalog_{name}")
    # flag AFTER success so a failed registration retries next session
    spark._dataclod_pg_catalog_registered = True
