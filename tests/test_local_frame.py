"""runtime.local_frame (Arrow-built driver tables) against the
``createDataFrame(list)`` path it replaces: same schema, same rows, and
the same refusal of values that do not fit their column."""

from __future__ import annotations

from pathlib import Path

import pytest

from harvesting_validator_spark.incremental import DELTA_SCHEMA
from harvesting_validator_spark.lineage import _LINEAGE_SCHEMA
from harvesting_validator_spark.runtime import local_frame
from harvesting_validator_spark.sparql import _QUAD_SCHEMA
from harvesting_validator_spark.streaming.canonical import (
    MAPPING_SCHEMA,
    MENTIONS_SCHEMA,
)

# every schema the package hands to local_frame
SCHEMAS = [
    _LINEAGE_SCHEMA,
    _QUAD_SCHEMA,
    DELTA_SCHEMA,
    MENTIONS_SCHEMA,
    MAPPING_SCHEMA,
    # shacl/compile.py spec tables
    "shape string, target_class string",
    "shape string, node string",
    "shape string, tpred string",
    "parent_shape string, path string, child_shape string",
    "i_shape string, i_path string, i_pred string",
    "s_shape string, s_path string",
    "m_shape string, m_pred string, m_max int, m_msg string, m_src string",
    "m_shape string, m_pred string, m_min int, m_msg string, m_src string",
    "h_shape string, h_pred string, h_val string, h_msg string, h_src string",
    "u_shape string, u_path string, u_msg string, u_src string",
    "p_shape string, p_path string, p_other string, p_comp string, "
    "p_msg string, p_src string",
    "c_shape string, c_pred string, c_class string, c_msg string, c_src string",
    "q_shape string, q_path string, q_sub string, q_min int, "
    "q_max int, q_msg string, q_src string",
    "b_src string, b_sub string",
    "n_shape string, n_sub string",
    "l_shape string, l_comp string, l_member string, l_n int",
    # empty placeholders keyed on the binary doc_id
    "doc_id binary, focus_node string, shape string",
    "doc_id binary, shape string, focus_node string, "
    "result_path string, value string, value_kind string, "
    "constraint_component string, severity string, message string, "
    "source_shape string",
    "doc_id binary, run_id string, processed_at double",
    "doc_id binary, batch_id string",
    # incremental watermarks, sparql VALUES / DESCRIBE, sinks, sources
    "run_id string, high_watermark double, committed_at double",
    "vv0 string, vk0 string, vd0 string, vl0 string",
    "node string",
    "subj string, pred string, obj_value string, "
    "obj_kind string, obj_datatype string, obj_lang string",
    "share_uri string, file_size bigint, file_name string, "
    "format string, extension string, created double, "
    "job_id string, container string",
    "repo string, path string, commit string, lang string, content string",
]

_SAMPLE = {
    "string": ["shape-é", ""],
    "int": [3, -(2 ** 31)],
    "bigint": [2 ** 40, 0],
    "double": [1.5, -0.0],
    "binary": [b"\x00\xff" * 16, b""],
    "array<string>": [["k1", None], []],
}


def _types(ddl: str) -> list[str]:
    return [c.split(" ", 1)[1] for c in ddl.split(", ")]


def _rows(ddl: str) -> list[tuple]:
    types = _types(ddl)
    return [
        tuple(_SAMPLE[t][0] for t in types),
        tuple(_SAMPLE[t][1] for t in types),
        tuple(None for _ in types),
    ]


@pytest.mark.parametrize("ddl", SCHEMAS)
@pytest.mark.parametrize("n_rows", [0, 3])
def test_matches_list_path(spark, ddl, n_rows):
    rows = _rows(ddl)[:n_rows]
    old = spark.createDataFrame(rows, ddl)
    new = local_frame(spark, rows, ddl)
    assert new.schema == old.schema
    assert new.collect() == old.collect()


def test_struct_schema_and_generator_rows(spark):
    ddl = "a int, b string"
    struct = spark.createDataFrame([], ddl).schema
    new = local_frame(spark, ((i, str(i)) for i in range(3)), struct)
    assert new.schema == struct
    assert new.collect() == spark.createDataFrame(
        [(i, str(i)) for i in range(3)], ddl
    ).collect()


@pytest.mark.parametrize(
    "ddl, row",
    [
        ("x int", (1.5,)),  # pyarrow alone would truncate to 1
        ("x int", ("1",)),
        ("x int", (2 ** 40,)),
        ("x int", (True,)),
        ("x double", ("1.0",)),
        ("x binary", ("not bytes",)),
        ("x string, y string", ("only one",)),
    ],
)
def test_misfit_value_raises(spark, ddl, row):
    with pytest.raises(Exception):
        spark.createDataFrame([row], ddl).collect()
    with pytest.raises(Exception):
        local_frame(spark, [row], ddl)


def test_non_string_into_string_column_raises(spark):
    # the list path's verifier lets any object into a string column and
    # stores its str(); the Arrow build refuses it
    assert spark.createDataFrame([(1,)], "x string").first().x == "1"
    with pytest.raises(Exception):
        local_frame(spark, [(1,)], "x string")


def test_package_builds_no_frame_from_a_list():
    """Only runtime.local_frame may call createDataFrame (with an Arrow
    table); any other call site would bring the Python-worker path back."""
    import harvesting_validator_spark

    pkg = Path(harvesting_validator_spark.__file__).parent
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "runtime.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert offenders == []
