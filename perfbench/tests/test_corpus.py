"""The seeded inputs and the independent reference (no Spark)."""
import json

import corpus as C

SPEC = C.CorpusSpec(docs_per_slice=300, days=2, types=("access", "app"))


def test_same_seed_gives_byte_identical_inputs():
    a, b = C.generate(SPEC, 7), C.generate(SPEC, 7)
    assert C.input_digest(a) == C.input_digest(b)
    assert C.input_digest(C.generate_delta(a, 0.02, 7)) == C.input_digest(
        C.generate_delta(b, 0.02, 7)
    )


def test_two_seeds_differ_but_do_the_same_amount_of_work():
    a, b = C.generate(SPEC, 1), C.generate(SPEC, 2)
    assert C.input_digest(a) != C.input_digest(b)
    assert C.input_digest(C.generate_delta(a, 0.02, 1)) != C.input_digest(
        C.generate_delta(b, 0.02, 2)
    )
    for corpus in (a, b):
        assert sorted(corpus) == SPEC.indices()
        assert sum(len(rows) for rows in corpus.values()) == SPEC.n_docs
        ids = [r[2] for rows in corpus.values() for r in rows]
        assert len(set(ids)) == len(ids)


def test_documents_are_about_0_8_kb():
    rows = [r for rows in C.generate(SPEC, 3).values() for r in rows]
    mean = sum(r[4] for r in rows) / len(rows)
    assert 650 < mean < 950
    assert all(r[4] == len(r[3].encode()) for r in rows)


def test_delta_rewrites_two_percent_of_every_slice_under_the_same_keys():
    src = C.generate(SPEC, 4)
    delta = C.generate_delta(src, 0.02, 4)
    keys = {r[:3] for rows in src.values() for r in rows}
    changed = [r for rows in delta.values() for r in rows]
    assert len(changed) == round(0.02 * SPEC.docs_per_slice) * SPEC.days * len(SPEC.types)
    assert all(r[:3] in keys for r in changed)
    assert all(json.loads(r[3])["rev"] == 2 for r in changed)


def test_reference_reroutes_drops_and_adds_a_field():
    keep = C.envelope("logs_2024-01-05", "app", "x", {"score": 0.5})
    drop = C.envelope("logs_2024-01-05", "app", "y", {"score": 0.01})
    other = C.envelope("archive", "app", "z", {"score": 0.01})
    out = C.mutate_reference(keep)
    assert out[:3] == ("logs_2024-01", "app", "x")
    assert json.loads(out[3]) == {"score": 0.5, "rollup_day": "05"}
    assert C.mutate_reference(drop) is None
    assert C.mutate_reference(other) == other


def test_expected_destination_merges_later_deliveries_over_earlier():
    src = C.generate(SPEC, 5)
    delta = C.generate_delta(src, 0.02, 5)
    base = C.expected_destination(src)
    both = C.expected_destination(src, delta)
    kept = [r for r in map(C.mutate_reference, src["logs_2024-01-01"]) if r]
    assert 0.9 < len(base) / SPEC.n_docs < 0.99  # ~5% dropped
    assert all(base[r[:3]] == r for r in kept)
    for rows in delta.values():
        for r in rows:
            out = C.mutate_reference(r)
            if out is not None:
                assert both[out[:3]] == out


def test_fingerprint_ignores_order_and_sees_any_byte():
    rows = list(C.expected_destination(C.generate(SPEC, 6)).values())
    assert C.fingerprint(rows) == C.fingerprint(list(reversed(rows)))
    changed = rows[:-1] + [rows[-1][:3] + (rows[-1][3] + " ",) + rows[-1][4:]]
    assert C.fingerprint(changed) != C.fingerprint(rows)


def test_registered_mutator_matches_the_reference():
    """The source the engine compiles and the pure-Python twin agree."""
    from chillastic_spark.operators.mutate import apply_chain
    from chillastic_spark.registry import Mutator, compile_source

    m = Mutator(compile_source(C.MUTATOR_SOURCE)).with_arguments(C.MUTATOR_ARGS)
    for rows in C.generate(SPEC, 8).values():
        for index, type_, id_, s, size in rows[:200]:
            doc = {"_index": index, "_type": type_, "_id": id_,
                   "_source": json.loads(s), "_size": size}
            got = apply_chain(doc, [m])
            want = C.mutate_reference((index, type_, id_, s, size))
            if want is None:
                assert got is None
            else:
                assert (got["_index"], got["_type"], got["_id"],
                        json.dumps(got["_source"], sort_keys=True)) == want[:4]


def test_every_seed_gives_the_same_size_split():
    """The engine plans subtasks by cutting the size range at 60% and
    90%; uniform message lengths between hard edges give every seed
    about the same share of documents above the last cut."""
    spec = C.CorpusSpec(docs_per_slice=5_000, days=1, types=("access",))
    for seed in (1, 2, 3):
        sizes = [r[4] for rows in C.generate(spec, seed).values() for r in rows]
        lo, hi = min(sizes), max(sizes)
        top = sum(s >= lo + 0.9 * (hi - lo) for s in sizes) / len(sizes)
        assert 0.07 < top < 0.13
