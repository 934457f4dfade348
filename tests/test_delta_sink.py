"""Delta MERGE sink adapter: pure SQL/option translation tests (the
jar is absent in this container, exactly like es-hadoop — execution is
gated behind a classpath probe with a clear remediation error)."""
import pytest

from chillastic_spark.sources import delta as DL
from chillastic_spark.sources import open_store


def test_merge_upsert_sql_golden():
    sql = DL.merge_upsert_sql("docs")
    assert sql == (
        "MERGE INTO docs t\n"
        "USING __batch s\n"
        "ON t._index <=> s._index AND t._type <=> s._type AND t._id <=> s._id"
        " AND t.__bucket = s.__bucket\n"
        "WHEN MATCHED THEN UPDATE SET *\n"
        "WHEN NOT MATCHED THEN INSERT *"
    )


def test_merge_key_is_null_safe_on_every_part():
    # a null-keyed envelope must MATCH its previous delivery — plain
    # equality would never-match on NULL and duplicate the doc on
    # every at-least-once redelivery (the parquet twin is eqNullSafe
    # on all three key parts)
    for part in ("_index", "_type", "_id"):
        assert f"t.{part} <=> s.{part}" in DL.MERGE_KEY


def test_merge_purge_sql_scopes_index_and_binds_type_via_view():
    sql = DL.merge_purge_sql("docs")
    assert "WHEN MATCHED THEN DELETE" in sql
    # one table holds ALL indices: without the index equality a purge
    # of (index_a, doc1) would also delete (index_b, doc1). Null-safe
    # <=> mirrors MERGE_KEY: a NULL-keyed doc that upsert can write
    # must be deletable, and purge()'s pre-count uses eqNullSafe — a
    # plain = here counted NULL-keyed victims it never deleted.
    assert "t._index <=> s._index" in sql
    assert "t._id <=> s._id" in sql and "t.__bucket = s.__bucket" in sql
    # the type restriction is a VIEW COLUMN (NULL = unrestricted) —
    # never interpolated SQL, so a crafted doc_type can't widen it
    assert "(s._type IS NULL OR t._type = s._type)" in sql
    assert "'" not in sql.split("USING")[1]  # no literal interpolation


def test_create_table_partitions_by_bucket():
    ddl = DL.create_table_sql("docs", n_buckets=64)
    assert "USING delta PARTITIONED BY (__bucket)" in ddl
    assert "_source STRING" in ddl and "_size BIGINT" in ddl


def test_bucket_sql_matches_bucket_expr(spark):
    """The SQL-side bucket hash must equal sources.bucket_expr row for
    row — a mismatch silently breaks MERGE partition pruning."""
    from pyspark.sql import functions as F

    from chillastic_spark.sources import bucket_expr

    df = spark.createDataFrame([(f"id{i}",) for i in range(100)], "_id string")
    got = df.select(
        bucket_expr(32).alias("a"),
        F.expr(DL.bucket_sql(32)).alias("b"),
    ).filter(F.col("a") != F.col("b"))
    assert got.count() == 0


def test_session_options_name_extension_and_catalog():
    opts = DL.delta_session_options()
    assert opts["spark.sql.extensions"] == "io.delta.sql.DeltaSparkSessionExtension"
    assert "DeltaCatalog" in opts["spark.sql.catalog.spark_catalog"]


def test_open_store_routes_delta_urls():
    store = open_store("delta:analytics.docs")
    assert isinstance(store, DL.DeltaStore)
    assert store.table == "analytics.docs"
    assert store.index_path("ix").startswith("delta:analytics.docs")


def test_execution_is_jar_gated(spark):
    """Without the delta-spark jar every executing entry point fails
    fast with the deployment recipe — never a confusing AnalysisException
    mid-merge. The parquet path is untouched by any of this."""
    assert not DL.delta_available(spark)
    store = DL.DeltaStore("docs")
    df = spark.createDataFrame(
        [("ix", "t", "1", "{}", None)],
        "_index string, _type string, _id string, _source string, _size long",
    )
    with pytest.raises(RuntimeError, match="delta-spark jar"):
        store.deliver(spark, df)
    with pytest.raises(RuntimeError, match="delta-spark jar"):
        store.purge(spark, "ix", ["1"])
    assert store.reachable() is False  # admission refuses before running


def test_deliver_dedups_batch_and_uses_per_call_views(spark, monkeypatch):
    """Without the jar, intercept spark.sql to verify the deliver
    pipeline end-to-end: the registered source view is within-batch
    deduped with the parquet sink's tie-break (Delta MERGE throws on
    duplicate source keys), carries __bucket, and lives under a unique
    per-call name that is dropped afterwards."""
    import pyspark.sql.functions as F

    store = DL.DeltaStore("docs", n_buckets=8)
    monkeypatch.setattr(DL, "_require_delta", lambda s: None)
    captured = []
    real_sql = spark.sql

    def fake_sql(stmt, *a, **k):
        captured.append(stmt)
        if stmt.startswith("MERGE INTO"):
            view = stmt.split("USING ")[1].split(" ")[0].strip()
            # evaluate the source view NOW (it must exist at MERGE time)
            rows = spark.table(view).collect()
            fake_sql.view_rows = rows
            fake_sql.view_name = view

            class _R:  # spark.sql returns a DataFrame; nobody reads it
                def collect(self):
                    return []

            return _R()
        return real_sql(stmt, *a, **k)

    monkeypatch.setattr(spark, "sql", fake_sql)
    monkeypatch.setattr(
        DL.DeltaStore, "ensure_table", lambda self, s: None
    )
    dup_rows = [
        ("ix", "t", "k1", '{"v": 1}', 8),
        ("ix", "t", "k1", '{"v": 2}', 8),  # same key, different payload
        ("ix", "t", "k2", '{"v": 3}', 8),
    ]
    df = spark.createDataFrame(
        dup_rows,
        "_index string, _type string, _id string, _source string, _size long",
    )
    n = store.deliver(spark, df)
    assert n == 2  # duplicate key collapsed before the MERGE
    rows = fake_sql.view_rows
    assert len(rows) == 2
    assert all(r["__bucket"] is not None for r in rows)
    k1 = [r for r in rows if r["_id"] == "k1"]
    assert len(k1) == 1  # exactly one winner per key
    # deterministic tie-break: highest md5(_source) wins (parquet parity)
    import hashlib

    win = max(
        ['{"v": 1}', '{"v": 2}'],
        key=lambda s: hashlib.md5(s.encode()).hexdigest(),
    )
    assert k1[0]["_source"] == win
    assert fake_sql.view_name.startswith("__batch_")
    # the per-call view was dropped after the MERGE
    assert fake_sql.view_name not in [
        t.name for t in spark.catalog.listTables()
    ]


def test_deliver_releases_pin_even_when_merge_fails(spark, monkeypatch):
    """A failed deliver (MERGE error, transient cluster fault) must not
    leak the per-batch materialized source: a Transfer thread retries
    deliver per batch, so a leaked pin per failure accumulates blocks
    in sc.persistentRdds for the session lifetime."""
    store = DL.DeltaStore("docs_fail", n_buckets=8)
    monkeypatch.setattr(DL, "_require_delta", lambda s: None)
    monkeypatch.setattr(DL.DeltaStore, "ensure_table", lambda self, s: None)

    real_sql = spark.sql

    def fail_merge(stmt, *a, **k):
        if stmt.startswith("MERGE INTO"):
            raise RuntimeError("simulated MERGE failure")
        return real_sql(stmt, *a, **k)

    monkeypatch.setattr(spark, "sql", fail_merge)
    df = spark.createDataFrame(
        [("ix", "t", "k1", '{"v": 1}', 8)],
        "_index string, _type string, _id string, _source string, _size long",
    )
    n_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="simulated MERGE failure"):
        store.deliver(spark, df)
    n_after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert n_after <= n_before, (n_before, n_after)
