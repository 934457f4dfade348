"""Per-combo Delta MERGE goldens (r5 verdict #7) — the jar-gated twin
of the ES wire goldens: the delta-spark jar can't run in this
container, so the complete SQL/option surface the adapter would hand
the engine is pinned per supported Spark/Delta combo. Any change to
the merge keys, null-safety, partition pruning predicate, DDL, or
artifact coordinates breaks a committed golden and must be reviewed.

Regenerate after an INTENDED change:
    CHILLASTIC_UPDATE_GOLDENS=1 python -m pytest tests/test_delta_goldens.py
"""
import json
import os

import pytest

from chillastic_spark.sources import delta as D

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "goldens")


def _surface(spark_line: str) -> dict:
    return {
        "spark_line": spark_line,
        "session_options": D.delta_session_options(spark_line),
        "create_table_sql": D.create_table_sql("warehouse.docs", n_buckets=64),
        "merge_upsert_sql": D.merge_upsert_sql("warehouse.docs"),
        "merge_purge_sql": D.merge_purge_sql("warehouse.docs"),
        "bucket_sql": D.bucket_sql(64),
        "merge_key": D.MERGE_KEY,
    }


@pytest.mark.parametrize("spark_line", sorted(D.DELTA_COMPAT))
def test_delta_merge_golden(spark_line):
    got = _surface(spark_line)
    path = os.path.join(GOLDEN_DIR, f"delta_merge_spark{spark_line}.json")
    if os.environ.get("CHILLASTIC_UPDATE_GOLDENS"):
        with open(path, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
    with open(path) as f:
        want = json.load(f)
    assert got == want


def test_default_line_tracks_running_pyspark():
    import pyspark

    line = ".".join(pyspark.__version__.split(".")[:2])
    want = D.delta_session_options(line)
    assert D.delta_session_options() == want


def test_upsert_key_is_null_safe_and_bucket_pruned():
    sql = D.merge_upsert_sql("t1")
    assert sql.count("<=>") == 3          # _index, _type, _id all null-safe
    assert "t.__bucket = s.__bucket" in sql   # plain = -> partition pruning
    assert "UPDATE SET *" in sql and "INSERT *" in sql


def test_purge_scopes_index_and_optional_type():
    sql = D.merge_purge_sql("t1")
    assert "t._index <=> s._index" in sql
    assert "(s._type IS NULL OR t._type = s._type)" in sql
    assert "WHEN MATCHED THEN DELETE" in sql


def test_unsupported_older_spark_line_raises():
    """Spark 3.3 has no compatible artifact in the matrix: a clear
    ValueError beats handing out the Scala-2.13 Delta-4.0 jar and
    failing with classloading errors at runtime. Future lines newer
    than the matrix still fall forward to the newest combo."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="3.3"):
        D.delta_session_options("3.3")
    assert "delta-spark_2.13:4.0.0" in D.delta_session_options("4.9")[
        "spark.jars.packages"
    ]
