"""information_schema and pg_catalog snapshots: their output and their cost.

``golden/information_schema.json`` pins the rows and schemas of
``information_schema.{tables,columns,schemata}`` over a fixture that covers
every column type the engine registers, a struct wider than
``spark.sql.debug.maxToStringFields``, a view whose dependency was dropped,
and a permanent table and view.  It was captured from the earlier
``spark.catalog.listColumns``-based build (commit 26abc9c) by running this
module as a script::

    python tests/test_catalog_relations.py --capture

Re-capturing from the current build would only pin the build to itself.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from pathlib import Path

import pytest
from conftest import SF_SMOKE

GOLDEN = Path(__file__).parent / "golden" / "information_schema.json"
FIXTURE_DB = "infoschema_fixture"
WIDE_FIELDS = 30  # > spark.sql.debug.maxToStringFields (25 by default)

_ALL_TYPES = """
CREATE OR REPLACE TEMP VIEW all_types AS SELECT
  true AS c_bool, CAST(1 AS TINYINT) AS c_tiny, CAST(1 AS SMALLINT) AS c_small,
  1 AS c_int, CAST(NULL AS BIGINT) AS c_big, CAST(1.5 AS FLOAT) AS c_float,
  2.5D AS c_double, CAST(1 AS DECIMAL(18,6)) AS c_dec, 'x' AS c_str,
  X'01' AS c_bin, DATE'2020-01-01' AS c_date,
  TIMESTAMP'2020-01-01 00:00:00' AS c_ts, TIMESTAMP_NTZ'2020-01-01 00:00:00' AS c_ntz,
  INTERVAL '1' DAY AS c_dti, INTERVAL '1' YEAR AS c_ymi, array(1, NULL) AS c_arr,
  map('a', 1) AS c_map, named_struct('a', 1, 'b', 'x') AS c_struct, NULL AS c_void,
  parse_json('{"a":1}') AS c_variant, 'x' COLLATE UTF8_LCASE AS c_coll,
  CAST('a' AS CHAR(3)) AS c_char, CAST('b' AS VARCHAR(5)) AS c_varchar,
  array(named_struct('k', 1, 'v', map('x', array(1.0D)))) AS c_nested,
  1 AS `Mixed Case`
"""


def build_fixture(spark, tmp: str):
    """A fresh session holding the fixture relations."""
    from dataclod_spark.session import EngineSession

    s = spark.newSession()
    engine = EngineSession(s, register_functions=False)  # pg_catalog views
    s.sql(f"CREATE DATABASE {FIXTURE_DB} LOCATION '{tmp}/db'")
    s.catalog.setCurrentDatabase(FIXTURE_DB)
    s.sql(
        "CREATE TABLE perm_table (a INT NOT NULL, c CHAR(3), s STRUCT<x: VARCHAR(2)>) "
        f"USING parquet LOCATION '{tmp}/perm_table'"
    )
    s.sql("CREATE VIEW perm_view AS SELECT 1 AS x, CAST('a' AS CHAR(2)) AS c")
    engine.load_tables(SF_SMOKE)
    s.sql(_ALL_TYPES)
    wide = ", ".join(f"'f{i}', {i}" for i in range(WIDE_FIELDS))
    s.sql(
        f"CREATE OR REPLACE TEMP VIEW wide_struct AS SELECT named_struct({wide}) AS w, "
        f"array(named_struct({wide})) AS aw, map(1, named_struct({wide})) AS mw"
    )
    s.sql("CREATE OR REPLACE TEMP VIEW dropped_dep AS SELECT 1 AS x")
    s.sql("CREATE OR REPLACE TEMP VIEW unresolvable AS SELECT x FROM dropped_dep")
    s.sql("DROP VIEW dropped_dep")
    return s


def snapshot(s) -> dict:
    """Rebuild information_schema, then read its three views back."""
    from dataclod_spark.catalog.information_schema import register_information_schema

    register_information_schema(s)
    out = {}
    for view in ("tables", "columns", "schemata"):
        df = s.table(f"information_schema_{view}")
        out[view] = {
            "schema": [[f.name, f.dataType.simpleString(), f.nullable] for f in df.schema],
            "rows": [list(r) for r in df.collect()],
        }
    return out


def drop_fixture(s) -> None:
    s.catalog.setCurrentDatabase("default")
    s.sql(f"DROP DATABASE IF EXISTS {FIXTURE_DB} CASCADE")


@pytest.fixture(scope="module")
def fixture_session(spark, tmp_path_factory):
    s = build_fixture(spark, str(tmp_path_factory.mktemp("catalog")))
    yield s
    drop_fixture(s)


def _rebuild_jobs(s) -> int:
    """Spark jobs run by one information_schema rebuild."""
    from dataclod_spark.catalog.information_schema import register_information_schema

    sc = s.sparkContext
    group = f"infoschema-rebuild-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "information_schema rebuild")
    try:
        register_information_schema(s)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_information_schema_matches_listcolumns_golden(fixture_session):
    golden = json.loads(GOLDEN.read_text())
    got = snapshot(fixture_session)
    for view in ("tables", "columns", "schemata"):
        assert got[view]["schema"] == golden[view]["schema"], view
        assert got[view]["rows"] == golden[view]["rows"], view


def test_rebuild_jobs_do_not_grow_with_views(fixture_session):
    s = fixture_session
    names = [f"extra_view_{i}" for i in range(30)]
    try:
        for n in names[:5]:
            s.sql(f"CREATE OR REPLACE TEMP VIEW {n} AS SELECT 1 AS a, 'b' AS b")
        few = _rebuild_jobs(s)
        for n in names[5:]:
            s.sql(f"CREATE OR REPLACE TEMP VIEW {n} AS SELECT 1 AS a, 'b' AS b")
        many = _rebuild_jobs(s)
    finally:
        for n in names:
            s.catalog.dropTempView(n)
    assert few == many, (few, many)


def test_catalog_views_are_local_relations(fixture_session):
    s = fixture_session
    snapshot(s)
    names = [
        r.tableName
        for r in s.sql("SHOW TABLES").collect()
        if r.tableName.startswith(("pg_", "information_schema_"))
    ]
    assert len(names) == 13  # 5 pg_catalog tables, two spellings each, plus 3
    for name in names:
        plan = s.table(name)._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", (name, plan.toString())
        assert "LogicalRDD" not in plan.toString(), name


if __name__ == "__main__":
    if sys.argv[1:] != ["--capture"]:
        sys.exit(f"usage: python {sys.argv[0]} --capture")
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from dataclod_spark.session import get_spark

    spark = get_spark(app_name="capture_information_schema", shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as tmp:
        s = build_fixture(spark, tmp)
        try:
            snap = snapshot(s)
        finally:
            drop_fixture(s)
    GOLDEN.parent.mkdir(exist_ok=True)
    GOLDEN.write_text(json.dumps(snap, indent=1) + "\n")
    print(f"wrote {GOLDEN}")
