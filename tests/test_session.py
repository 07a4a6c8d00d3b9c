"""``session.local_frame``: driver-held rows as a local relation.

The helper must give exactly the frame ``createDataFrame(list, schema)``
gives — schema with nullability, rows, and the same rejection of a null
in a non-nullable field — while planning as a ``LocalRelation`` whatever
the Arrow conf says. Unlike the list path it also rejects a value of the
wrong type instead of ``str()``-ing it into a string field."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

import perl_data_validate_sanctions_spark as pkg
from perl_data_validate_sanctions_spark.schema import (
    ENTRY_SCHEMA,
    PROBE_SCHEMA,
    VIOLATION_SCHEMA,
)
from perl_data_validate_sanctions_spark.session import local_frame

ARROW = "spark.sql.execution.arrow.pyspark.enabled"

_PROBES = [
    ("p1", "Zaki", "Ahmad", "1999-01-05") + (None,) * 7,
    ("p2", None, None, None, "Iran", "", "Germany", None, "123321",
     None, "asdffdsa"),
]
_ENTRIES = [
    (1, "EU-Sanctions", ["Zaki Izzat Zaki AHMAD", None], [-253411200, None],
     [1999], None, [], ["France"], None, None, None, None, ["x"]),
    (2, "OFAC-SDN", [], None, None, ["circa 1960"], None, None, None,
     None, ["123"], None, None),
]


@pytest.fixture(params=["true", "false"])
def arrow_conf(spark, request):
    before = spark.conf.get(ARROW)
    spark.conf.set(ARROW, request.param)
    yield request.param
    spark.conf.set(ARROW, before)


def _relation(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize(
    "rows, schema",
    [(_PROBES, PROBE_SCHEMA), (_ENTRIES, ENTRY_SCHEMA), ([], VIOLATION_SCHEMA)],
    ids=["probe", "entry", "empty_violation"],
)
def test_local_frame_equals_list_built_frame(spark, arrow_conf, rows, schema):
    local = local_frame(spark, rows, schema)
    listed = spark.createDataFrame(rows, schema)
    assert local.schema == listed.schema == schema
    assert [f.nullable for f in local.schema] == [f.nullable for f in schema]
    assert local.collect() == listed.collect()
    assert _relation(local) == "LocalRelation"


def test_local_frame_parses_a_ddl_schema(spark):
    local = local_frame(spark, [("a",), (None,)], "key string")
    listed = spark.createDataFrame([("a",), (None,)], "key string")
    assert local.schema == listed.schema
    assert local.collect() == listed.collect()


def test_local_frame_rejects_bad_rows(spark, arrow_conf):
    null_id = (None,) + _PROBES[0][1:]
    with pytest.raises(ValueError):
        spark.createDataFrame([null_id], PROBE_SCHEMA)
    with pytest.raises(ValueError, match="non-nullable"):
        local_frame(spark, [null_id], PROBE_SCHEMA)
    # stricter than the list path, which str()s any value into a string
    # field: a value of the wrong type raises
    with pytest.raises(TypeError):
        local_frame(spark, [(1, "EU")], "key string, source string")
    # a row wider than the schema is an error, never a silent truncation
    with pytest.raises(ValueError):
        local_frame(spark, [_PROBES[0] + ("extra",)], PROBE_SCHEMA)


def test_package_builds_driver_rows_only_through_local_frame():
    """``createDataFrame(list)`` plans a PythonRDD that starts Python
    workers on every scan; driver rows go through ``local_frame``."""
    root = Path(pkg.__file__).parent
    found = sorted(
        f"{path.relative_to(root)}:{n}"
        for path in root.rglob("*.py")
        if path != root / "session.py"
        for n, line in enumerate(path.read_text().splitlines(), start=1)
        if re.search(r"\bcreateDataFrame\(", line)
    )
    assert not found, found
    assert "createDataFrame(" in (root / "session.py").read_text(), (
        "the helper itself no longer calls createDataFrame; is the scan stale?"
    )
