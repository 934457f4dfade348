"""Regression tests for the round-7 streaming/pipelines review sweep:

1. the events-stream ts footer probe checks EVERY file present at
   start (the old [:4] cap let a mistyped 5th file misparse 1000x);
2. mixture sampling reports every zeroed source — including sources
   absent from the mixture dict and NULL-source rows — instead of
   silently dropping them with no report trace;
3. curate/assemble no longer leak operator-internal materialize pins
   (signature tables, CC round state) for the session lifetime.
"""
import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _stage_typed_stream(tmp_path, n_ok: int, nanos_at: int):
    """n_ok+1 stream files; file index ``nanos_at`` carries a
    TIMESTAMP-typed (non-int64) ts column violating the contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "events_stream"
    d.mkdir()
    names = []
    for i in range(n_ok + 1):
        if i == nanos_at:
            tbl = pa.table(
                {
                    "event_id": pa.array([100 + i], pa.int64()),
                    "ts": pa.array([1_600_000_000_000_000], pa.timestamp("ns")),
                    "user_id": pa.array([1], pa.int64()),
                    "event_type": pa.array(["view"]),
                    "value": pa.array([1.0], pa.float64()),
                    "props": pa.array(["{}"]),
                }
            )
        else:
            tbl = pa.table(
                {
                    "event_id": pa.array([i], pa.int64()),
                    "ts": pa.array([1_600_000_000_000_000 + i], pa.int64()),
                    "user_id": pa.array([1], pa.int64()),
                    "event_type": pa.array(["view"]),
                    "value": pa.array([1.0], pa.float64()),
                    "props": pa.array(["{}"]),
                }
            )
        # zero-padded names pin glob order so the bad file's position
        # is exactly what the test says it is
        pq.write_table(tbl, str(d / f"part-{i:03d}.parquet"))
        names.append(f"part-{i:03d}.parquet")
    return str(d)


def test_ts_probe_rejects_mistyped_file_beyond_the_first_four(spark, tmp_path):
    """The old probe checked glob()[:4]: a timestamp-typed 7th file
    passed the probe and silently misparsed 1000x under the session's
    nanosAsLong flag. Every file present at start must be probed."""
    from chillastic_spark.streaming import read_events_stream

    path = _stage_typed_stream(tmp_path, n_ok=8, nanos_at=6)
    with pytest.raises(ValueError, match="int64 epoch-micros"):
        read_events_stream(spark, path)


def test_ts_probe_accepts_all_int64_files(spark, tmp_path):
    from chillastic_spark.streaming import read_events_stream

    path = _stage_typed_stream(tmp_path, n_ok=8, nanos_at=99)  # none bad
    df = read_events_stream(spark, path)  # builds without raising
    assert "ts" in df.columns


def test_mixture_reports_missing_and_null_sources(spark):
    """A live source absent from the mixture dict (key mismatch) and
    NULL-source rows must show up in mixture_zeroed_sources — their
    docs drop entirely, and the aggregate count alone makes that
    invisible."""
    from chillastic_spark.pipelines import CurationConfig, curate

    rows = []
    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()
    for i in range(40):
        src = ["kept", "Mismatch", None][i % 3]
        # unique, non-repetitive text so no dedup/quality gate collapses
        # the corpus before the mixture stage
        text = " ".join(
            words[(i * 7 + j * 3) % 10] + f"tok{i}x{j}" for j in range(60)
        )
        rows.append((i, text, "en", src))
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    cfg = CurationConfig(
        min_quality=0.0,
        min_tokens=1,
        max_dup_bigram_frac=1.0,
        max_top_tok_frac=1.0,
        near_dup_threshold=0.99,
        mixture_budget=10_000,
    )
    # the dict's key 'mismatch' (lowercase) never matches source
    # 'Mismatch'; NULL sources match nothing
    _, report = curate(d, cfg, mixture={"kept": 1, "mismatch": 1})
    assert report.mixture_zeroed_sources is not None
    assert "Mismatch" in report.mixture_zeroed_sources
    assert "<null>" in report.mixture_zeroed_sources
    assert "kept" not in report.mixture_zeroed_sources
    assert report.after_mixture_sampling > 0  # the matched source kept docs


def test_curate_and_assemble_leave_no_orphan_pins(spark):
    """The operator-internal materialize pins (minhash signature
    tables, connected-components round state) must not outlive the
    curate()/assemble() calls: only the documented survivors — the
    returned pair list, the final pool, and the pinned manifest — may
    remain registered on the context."""
    from chillastic_spark.pipelines import CurationConfig, assemble, curate
    from chillastic_spark.persist import release
    from chillastic_spark.tables import load

    sc = spark.sparkContext

    def all_pins():
        s = sc._jsc.sc().getPersistentRDDs().keySet().toString()
        return {x.strip(",()") for x in s.removeprefix("Set(").split() if x.strip(",()")}

    # pins left behind by earlier tests in this session are not ours
    baseline = all_pins()

    def live_pins(at_most=None):
        """Pin ids beyond the baseline. release() unpersists
        NON-blocking, so when an upper bound is given poll a few
        seconds for the async unpersists to land before reporting."""
        import time

        for _ in range(20):
            ids = all_pins() - baseline
            if at_most is None or len(ids) <= at_most:
                return ids
            time.sleep(0.25)
        return ids

    d = load(spark, SF, "documents").limit(120)
    cfg = CurationConfig(near_dup_threshold=0.5)
    chunks, report = curate(d, cfg)
    n_after_curate = len(live_pins(at_most=3))
    manifest, summary = assemble(
        d.select("doc_id", "text", "source"), pairs=report.near_dup_pairs
    )
    summary.count()
    n_after_assemble = len(live_pins(at_most=n_after_curate + 2))
    # survivors: pairs + near (curate) and manifest (assemble) — the
    # internal signature/CC pins must be gone. Allow a small constant,
    # never the per-call accumulation the leak produced.
    assert n_after_curate <= 3, n_after_curate
    assert n_after_assemble <= n_after_curate + 2, n_after_assemble
    # and a SECOND round must not grow the pin set (the leak signature)
    chunks2, report2 = curate(d, cfg)
    manifest2, summary2 = assemble(
        d.select("doc_id", "text", "source"), pairs=report2.near_dup_pairs
    )
    summary2.count()
    assert len(live_pins(at_most=n_after_assemble + 3)) <= n_after_assemble + 3
    for f in (report.near_dup_pairs, manifest, report2.near_dup_pairs, manifest2):
        release(f)


# -------------------------------------------------- storage-layer sweep


def _envelopes(spark, rows):
    from chillastic_spark.sources import ENVELOPE_SCHEMA

    return spark.createDataFrame(rows, ENVELOPE_SCHEMA)


def test_upsert_rejects_null_id_rows(spark, tmp_path):
    """NULL _id crashed the touched-bucket sort (TypeError on NULL) or
    corrupted the migration rename loop mid-way; it must fail admission
    up front like NULL _index, leaving the index untouched."""
    import json as _json

    from chillastic_spark.sinks import upsert
    from chillastic_spark.sources import DocumentStore

    store = DocumentStore(str(tmp_path / "s"))
    good = _envelopes(
        spark, [("ix", "t", f"d{i}", _json.dumps({"v": i}), 10) for i in range(6)]
    )
    assert upsert(spark, store, good) == {0: 6}
    bad = _envelopes(
        spark,
        [("ix", "t", None, _json.dumps({"v": 99}), 10),
         ("ix", "t", "d0", _json.dumps({"v": 100}), 10)],
    )
    with pytest.raises(ValueError, match="NULL _id"):
        upsert(spark, store, bad)
    # nothing from the failed batch landed
    got = {r["_id"]: r for r in store.read(spark, "ix").collect()}
    assert set(got) == {f"d{i}" for i in range(6)}
    import json as _j
    assert _j.loads(got["d0"]["_source"]) == {"v": 0}


def test_purge_ignores_null_victim_ids(spark, tmp_path):
    """A NULL id in the victims frame must match nothing (the es_purge
    convention) — the old path crashed sorting a NULL bucket hash."""
    import json as _json

    from chillastic_spark.sinks import purge, upsert
    from chillastic_spark.sources import DocumentStore

    store = DocumentStore(str(tmp_path / "s"))
    upsert(spark, store, _envelopes(
        spark, [("ix", "t", f"d{i}", _json.dumps({"v": i}), 10) for i in range(6)]
    ))
    victims = spark.createDataFrame([("d1",), (None,), ("d4",)], "_id string")
    assert purge(spark, store, "ix", victims) == 2
    left = {r["_id"] for r in store.read(spark, "ix").collect()}
    assert left == {"d0", "d2", "d3", "d5"}


def test_upsert_preserves_type_partitioned_layout(spark, tmp_path):
    """First merge into a Hive _type= partitioned index must keep that
    layout (the per-type partition pruning its docstring recommends at
    scale) — the old migration silently rewrote it bucketed."""
    import json as _json

    from chillastic_spark.sinks import upsert
    from chillastic_spark.sources import BUCKET_MARKER, DocumentStore

    store = DocumentStore(str(tmp_path / "s"))
    base = _envelopes(
        spark,
        [("ix", ["ta", "tb"][i % 2], f"d{i}", _json.dumps({"v": i}), 10)
         for i in range(8)],
    )
    store.write_documents(base, "ix", partition_by=["_type"])
    path = store.index_path("ix")
    assert any(d.startswith("_type=") for d in os.listdir(path))

    batch = _envelopes(
        spark,
        [("ix", "ta", "d0", _json.dumps({"v": 100}), 10),   # mutate
         ("ix", "tb", "d99", _json.dumps({"v": 99}), 10)],  # insert
    )
    assert upsert(spark, store, batch) == {0: 2}
    # layout preserved: still _type= dirs, never a bucket marker
    assert any(d.startswith("_type=") for d in os.listdir(path))
    assert not os.path.exists(os.path.join(path, BUCKET_MARKER))
    got = {r["_id"]: _json.loads(r["_source"]) for r in store.read(spark, "ix").collect()}
    assert got["d0"] == {"v": 100} and got["d99"] == {"v": 99}
    assert len(got) == 9
    # idempotent re-merge still works on the preserved layout
    assert upsert(spark, store, batch) == {0: 2}
    assert store.count(spark, "ix") == 9


def test_update_inverted_index_raises_on_torn_index(spark, tmp_path):
    """A populated index whose postings dir is GONE (torn artifacts)
    must raise, not silently treat the index as empty — the old bare
    except swallowed ANY read failure and the swap then destroyed
    every existing posting."""
    import shutil

    from chillastic_spark.sources.search_index import (
        build_inverted_index,
        update_inverted_index,
    )
    from chillastic_spark.tables import load

    d = load(spark, SF, "documents").limit(30)
    idx = str(tmp_path / "inv")
    build_inverted_index(spark, d.filter(F.col("doc_id") < 20), idx)
    shutil.rmtree(os.path.join(idx, "postings"))
    with pytest.raises(RuntimeError, match="torn"):
        update_inverted_index(
            spark, d.filter(F.col("doc_id") >= 20), idx, on_existing="skip"
        )


def test_build_inverted_index_rejects_conflicting_duplicate_ids(spark, tmp_path):
    """build now enforces the same input hygiene as update: exact
    copies collapse, same-id-different-text raises (doubled tf and a
    df that no longer equals the distinct-doc count otherwise)."""
    from chillastic_spark.sources.search_index import (
        bm25_search_index,
        build_inverted_index,
    )

    rows = [(1, "alpha beta gamma"), (2, "beta gamma delta"),
            (2, "beta gamma delta"),  # exact copy: collapses
            (3, "gamma delta alpha")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "inv")
    stats = build_inverted_index(spark, d, idx)
    assert stats["n_docs"] == 3  # the exact copy collapsed
    hits = bm25_search_index(spark, idx, ["beta"]).collect()
    assert {r["doc_id"] for r in hits} == {1, 2}

    clash = spark.createDataFrame(
        [(7, "one two"), (7, "three four")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="resolve upstream"):
        build_inverted_index(spark, clash, str(tmp_path / "inv2"))
