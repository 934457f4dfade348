"""Unit tests for the training-data operators: dedup family, similarity
search, text analysis, multimodal plumbing — planted-duplicate corpora
with known answers."""
import math

import pytest

from pyspark.sql import functions as F

from chillastic_spark.operators import dedup as D
from chillastic_spark.operators import multimodal as M
from chillastic_spark.operators import similarity as S
from chillastic_spark.operators import text as T

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun and the birds sing in the tall green trees near the river"
)
NEAR = BASE.replace("lazy dog", "lazy cow")  # 1-word edit → high jaccard
OTHER = "completely different content about spark clusters and parquet files and shuffles"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),          # exact dup of 1
        (3, NEAR),          # near dup of 1
        (4, OTHER),
        (5, "tiny"),        # shorter than one 3-gram
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_exact_dedup(spark, docs):
    groups = D.exact_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2 and groups[0]["keeper"] == 1
    kept = {r["doc_id"] for r in D.exact_dedup(docs).collect()}
    assert kept == {1, 3, 4, 5}  # doc 2 collapsed into 1


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0          # exact dup
    assert 0.7 <= pairs[(1, 3)] < 1.0    # near dup
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_hot_gram_cap_preserves_pair_recall(spark):
    """max_doc_frac drops boilerplate grams (the worst skew buckets in
    the gram self-join) WITHOUT losing true near-dup pairs: on a corpus
    where every doc shares a boilerplate footer, the capped run at 50%
    finds exactly the same pairs as the uncapped run."""
    footer = "subscribe to our newsletter for updates terms of service apply"
    uniq = [
        f"document number {i} discusses topic {i * 7} in depth with words "
        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i} eta{i}"
        for i in range(20)
    ]
    rows = [(i, f"{uniq[i]} {footer}") for i in range(20)]
    rows.append((20, f"{uniq[3]} {footer}"))   # exact dup of 3
    rows.append((21, f"{uniq[5].replace('in depth', 'in detail')} {footer}"))
    df = spark.createDataFrame(rows, "doc_id: long, text: string")

    def pairset(**kw):
        return {(r["id_a"], r["id_b"])
                for r in D.ngram_jaccard_pairs(df, threshold=0.3, **kw).collect()}

    uncapped = pairset()
    capped = pairset(max_doc_frac=0.5)
    assert (3, 20) in uncapped and (5, 21) in uncapped
    assert capped == uncapped  # recall unchanged with the cap at 50%
    # and the cap genuinely removed the boilerplate grams: a footer
    # gram present in every doc survives only the uncapped index
    from chillastic_spark import functions as CF
    g = D.shingles(df, "doc_id", "text", 3).withColumn("gh", CF.hash60("gram"))
    hot = g.groupBy("gh").count().filter(F.col("count") > 11).count()
    assert hot > 0  # the skew buckets exist ...
    kept = D.cap_hot_grams(g, df, 0.5)
    assert kept.groupBy("gh").count().filter(F.col("count") > 11).count() == 0


def test_containment_supports_hot_gram_cap(spark, docs):
    pairs = {(r["id_a"], r["id_b"])
             for r in D.ngram_containment_pairs(
                 docs, threshold=0.9, max_doc_frac=0.9).collect()}
    assert (1, 2) in pairs  # exact dup survives the cap


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in D.minhash_lsh_pairs(docs, threshold=0.25).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.5
    assert all(4 not in p for p in pairs)


def test_simhash_hamming_properties(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert sh[1] == sh[2]  # identical text → identical simhash
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sh[1], sh[3]) <= 10          # near dup → close
    assert ham(sh[1], sh[4]) > ham(sh[1], sh[3])  # unrelated → farther
    # chunks must satisfy the pigeonhole bound: max_hamming 10 needs
    # ≥11 chunks dividing 60 → 12 five-bit chunks
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.simhash_pairs(docs, max_hamming=10, chunks=12).collect()}
    assert (1, 2) in pairs


def test_word_ngrams_short_doc(spark):
    # guard: sequence(1,k) descends for k<1 — must yield empty, not junk
    from chillastic_spark import functions as CF
    df = spark.createDataFrame([("one two",), ("a b c",)], "text: string")
    got = df.select(F.size(CF.word_ngrams("text", 3)).alias("n")).collect()
    assert sorted(r["n"] for r in got) == [0, 1]


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        v = rng.randn(8)
        rows.append((i, 0 if i < 20 else 1, [float(x) for x in v]))
    # planted near-dup of vec 0 in the same label group
    base = rows[0][2]
    rows.append((99, 0, [x + 0.001 for x in base]))
    return spark.createDataFrame(rows, "vec_id: long, label: int, embedding: array<double>")


def test_embedding_dup_pairs(spark, vectors):
    pairs = {(r["id_a"], r["id_b"]): r["cos"]
             for r in D.embedding_dup_pairs(vectors, threshold=0.95).collect()}
    assert (0, 99) in pairs and pairs[(0, 99)] > 0.999


def test_block_pair_replicate_covers_every_pair_exactly_once(spark):
    """THE invariant every grid scorer relies on: for ANY two rows of
    the same group, exactly one (ci, cj) task holds both — the left
    one as role 0 and the right one as role 1 (both role 0 on the
    diagonal) — and each row is replicated exactly nb times."""
    from chillastic_spark.operators.similarity import block_pair_replicate

    rows = [(i, i % 3, [float(i)]) for i in range(40)] + [(99, None, [9.9])]
    df = spark.createDataFrame(
        rows, "vid long, grp int, vec array<double>"
    )
    rep = block_pair_replicate(df, ["grp"], "vid", block_size=4).collect()

    from collections import defaultdict

    per_row = defaultdict(list)
    for r in rep:
        per_row[(r["grp"], r["vid"])].append((r["ci"], r["cj"], r["role"]))
    group_sizes = defaultdict(int)
    for _, g, _ in rows:
        group_sizes[g] += 1
    import math

    blk_of = {}
    for (g, vid), tasks in per_row.items():
        nb = math.ceil(group_sizes[g] / 4)
        assert len(tasks) == nb, (g, vid, tasks)
        # the row's own block: the diagonal task it must sit on
        diags = [(ci, cj) for ci, cj, _ in tasks if ci == cj]
        assert len(diags) == 1
        blk_of[(g, vid)] = diags[0][0]
    # every same-group row pair shares EXACTLY one task, with the
    # correct sides
    ids_by_grp = defaultdict(list)
    for (g, vid) in per_row:
        ids_by_grp[g].append(vid)
    for g, ids in ids_by_grp.items():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ba, bb = blk_of[(g, a)], blk_of[(g, b)]
                ta = {(ci, cj) for ci, cj, _ in per_row[(g, a)]}
                tb = {(ci, cj) for ci, cj, _ in per_row[(g, b)]}
                shared = ta & tb
                assert (min(ba, bb), max(ba, bb)) in shared
                # the pair is SCOREABLE (opposite sides, or both side 0
                # on a diagonal) on exactly ONE shared task — same-side
                # co-occurrences elsewhere are never scored, so no
                # double counting
                scoreable = 0
                for t in shared:
                    ra = [r for ci, cj, r in per_row[(g, a)] if (ci, cj) == t][0]
                    rb = [r for ci, cj, r in per_row[(g, b)] if (ci, cj) == t][0]
                    if t[0] == t[1]:
                        assert ra == 0 and rb == 0  # diagonals are all side 0
                        scoreable += 1
                    elif ra != rb:
                        scoreable += 1
                    else:
                        # same side off-diagonal: only possible when the
                        # rows share a block (their pairing happens on
                        # the diagonal instead)
                        assert ba == bb
                assert scoreable == 1, (g, a, b, shared)
    # the NULL-group row exists and got exactly one (diagonal) task
    assert per_row[(None, 99)] == [(0, 0, 0)]


def test_embedding_dup_pairs_torture_frame_matches_reference(spark):
    """Every dirty-data rule of the former join form, on one frame,
    against an in-test pure-Python reference: duplicate ids never pair
    with each other but pair (with multiplicity) against others;
    zero vectors score cos 0.0; NULL labels block together; mixed
    dimensions never pair; NULL ids and NULL-element vectors drop.
    Checked at block_size large (single block) AND 2 (grid path)."""
    import math

    rows = [
        (1, [1.0, 0.0], "a"),      # \
        (2, [1.0, 0.0], "a"),      #  exact dups, cos 1.0
        (2, [0.0, 1.0], "a"),      # duplicate id, different vector
        (3, [0.0, 0.0], "a"),      # zero vector: cos 0.0 to everything
        (4, [1.0, 0.0], None),     # NULL label group...
        (5, [1.0, 0.0], None),     # ...pairs with 4
        (6, [1.0, 0.0, 0.0], "a"), # 3-dim: never pairs with 2-dim
        (None, [1.0, 0.0], "a"),   # NULL id: drops
        (7, None, "a"),            # NULL vector: drops
        (8, [1.0, None], "a"),     # NULL element: drops
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )

    def ref_pairs(threshold):
        clean = [
            (i, v, lab) for i, v, lab in rows
            if i is not None and v is not None and all(x is not None for x in v)
        ]
        out = []
        for x, (ia, va, la) in enumerate(clean):
            for ib, vb, lb in clean[x + 1:]:
                if ia == ib or la != lb or len(va) != len(vb):
                    continue
                na = math.sqrt(sum(q * q for q in va))
                nb = math.sqrt(sum(q * q for q in vb))
                dot = sum(p * q for p, q in zip(va, vb))
                cos = 0.0 if na * nb == 0 else dot / (na * nb)
                cos = math.floor(cos * 10000.0 + 0.5) / 10000.0
                if cos >= threshold:
                    out.append((min(ia, ib), max(ia, ib), cos))
        return sorted(out)

    for thr in (0.0, 0.9):
        want = ref_pairs(thr)
        for bs in (2048, 2):
            got = sorted(
                (r["id_a"], r["id_b"], r["cos"])
                for r in D.embedding_dup_pairs(
                    df, threshold=thr, block_size=bs
                ).collect()
            )
            assert got == want, (thr, bs, got, want)


def test_embedding_dup_pairs_null_id_rows_never_pair(spark):
    """Join-form semantics: a NULL id fails vid < vid' (NULL), so such
    rows pair with nothing — the block-grid path must drop them before
    numpy, where None/NaN id comparisons would misbehave instead."""
    e = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (None, [1.0, 0.0], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    got = {(r["id_a"], r["id_b"]) for r in
           D.embedding_dup_pairs(e, threshold=0.9).collect()}
    assert got == {(1, 2)}


def test_embedding_dup_pairs_block_grid_exact(spark, vectors):
    """The multi-block grid (forced by a tiny block_size, so every
    group spans several hash blocks and cross-block tasks run) must
    emit EXACTLY the single-block pair set — same pairs, same rounded
    cosines, each unordered pair once."""
    lo = D.embedding_dup_pairs(vectors, threshold=0.2).collect()
    hi = D.embedding_dup_pairs(vectors, threshold=0.2, block_size=4).collect()
    as_map = lambda rows: {(r["id_a"], r["id_b"]): r["cos"] for r in rows}  # noqa: E731
    assert len(hi) == len(lo)  # no duplicated cross-block emissions
    assert as_map(hi) == as_map(lo)
    assert all(r["id_a"] < r["id_b"] for r in hi)


def test_brute_force_topk_exact(spark, vectors):
    import numpy as np

    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = S.brute_force_topk(vectors, q, k=3).collect()
    assert [r["neighbor_id"] for r in got][0] == 99  # planted nearest first
    # cross-check cosine against numpy
    data = {r["vec_id"]: np.array(r["embedding"]) for r in vectors.collect()}
    base = data[0]
    for r in got:
        v = data[r["neighbor_id"]]
        expect = float(v @ base / (np.linalg.norm(v) * np.linalg.norm(base)))
        assert math.isclose(r["cos"], round(expect, 6), abs_tol=2e-6)


def test_lsh_topk_recall(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = S.lsh_topk(vectors, q, k=3, planes=4).collect()
    # identical-direction vectors always share the bucket → planted dup found
    assert got and got[0]["neighbor_id"] == 99


def test_centroids(spark, vectors):
    cents = S.centroids(vectors, group_col="label").collect()
    dims = {r["dim"] for r in cents}
    assert dims == set(range(1, 9))
    assert len(cents) == 16  # 2 labels × 8 dims


def test_text_features(spark, docs):
    feats = {r["doc_id"]: r for r in T.with_text_features(docs).collect()}
    assert feats[1]["n_tokens"] == len(BASE.split())
    assert feats[1]["pred_lang"] == "en"
    assert feats[5]["pred_lang"] == "und"
    assert 0.0 <= feats[1]["quality"] <= 1.0
    assert feats[1]["fingerprint"] == feats[2]["fingerprint"]
    assert feats[1]["fingerprint"] != feats[3]["fingerprint"]


def test_multimodal_decode(spark, docs):
    payloads = M.with_binary_payload(docs)
    meta = {r["doc_id"]: r for r in M.decode_media(payloads, fake=True).collect()}
    assert meta[1]["n_bytes"] == len(BASE.encode())
    assert meta[1]["format"] == "fake"
    assert 0 <= meta[1]["width"] < 1280 and 0 <= meta[1]["height"] < 720
    # real decode path is stubbed: must raise, not silently fake
    with pytest.raises(Exception):
        M.decode_media(payloads, fake=False).collect()


def test_frame_sampling_fans_out(spark, docs):
    payloads = M.with_binary_payload(docs)
    frames = M.sample_frames(payloads, every_n_bytes=16, max_frames=4).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # every doc with ≥16 payload bytes fans out; frame idx contiguous
    sizes = {r["doc_id"]: r["n_bytes"]
             for r in M.decode_media(payloads, fake=True).collect()}
    for doc_id, n in sizes.items():
        expect = min(4, n // 16)
        got = by_doc.get(doc_id, [])
        assert len(got) == expect
        assert sorted(f["frame_idx"] for f in got) == list(range(expect))
        assert all(f["frame_bytes"] == len(f["frame"]) == 16 for f in got)


def test_resize_images_contract(spark, docs):
    payloads = M.with_binary_payload(docs)
    out = M.resize_images(payloads, width=64, height=64, fake=True).collect()
    assert len(out) == docs.count()
    for r in out:
        assert len(r["payload"]) == 64 * 64 // 64
        assert (r["width"], r["height"]) == (64, 64)
    with pytest.raises(Exception):
        M.resize_images(payloads, fake=False).collect()


def test_mutate_chain_semantics(spark):
    # transfer.js:271-284 fold: non-matching passes through; null drops;
    # later mutators see earlier rewrites
    from chillastic_spark.operators.mutate import mutate_objects

    class Mut:
        def __init__(self, pred, mut):
            self.predicate, self.mutate, self.arguments = pred, mut, None

    double = Mut(lambda d, a: d["v"] % 2 == 0, lambda d, a: {**d, "v": d["v"] * 10})
    dropbig = Mut(lambda d, a: d["v"] >= 100, lambda d, a: None)
    objs = [{"v": 1}, {"v": 2}, {"v": 10}, {"v": 3}]
    out = mutate_objects(objs, [double, dropbig])
    # 1→unmutated, 2→20, 10→100→dropped, 3→unmutated
    assert out == [{"v": 1}, {"v": 20}, {"v": 3}]


def test_scrub_text(spark):
    from chillastic_spark.operators.scrub import with_scrubbed_text

    rows = [
        (1, "contact me at alice@example.com or +1 (555) 123-4567 ok"),
        (2, "see https://example.com/path?q=1 for details"),
        (3, "account 123456789012 is plain text"),
        (4, "nothing sensitive here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in with_scrubbed_text(df).collect()}
    assert "<EMAIL>" in got[1]["scrubbed"] and "<PHONE>" in got[1]["scrubbed"]
    assert "alice" not in got[1]["scrubbed"]
    assert got[2]["scrubbed"] == "see <URL> for details"
    assert "<NUM>" in got[3]["scrubbed"]
    assert got[4]["scrubbed"] == got[4]["text"]
    assert got[1]["hit_email"] and got[1]["hit_phone"]
    assert not got[4]["hit_url"] and not got[4]["hit_email"]


def test_brute_force_fast_matches_fold(spark, vectors):
    from chillastic_spark.operators.similarity import brute_force_topk_fast

    q = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    slow = {(r["query_id"], r["neighbor_id"], r["cos"])
            for r in S.brute_force_topk(vectors, q, k=5).collect()}
    fast = {(r["query_id"], r["neighbor_id"], r["cos"])
            for r in brute_force_topk_fast(vectors, q, k=5).collect()}
    assert slow == fast


def test_connected_components_chain_clique_pair(spark):
    """Chain needs multi-hop label propagation; clique and pair converge
    in one round; isolated components stay separate."""
    from chillastic_spark.operators.components import (
        connected_components,
        duplicate_clusters,
    )

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5, clique {10,11,12}, pair {20,21}
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "id_a long, id_b long",
    )
    comps = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                     10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    clusters = duplicate_clusters(edges).collect()
    canon = {r["doc_id"] for r in clusters if r["is_canonical"]}
    assert canon == {1, 10, 20}
    assert len(clusters) == 10


def test_connected_components_log_rounds_on_both_id_regimes(spark):
    """The r10 loop pairs a label-class merge with a pointer jump
    because each is a no-op on the other's bad shape: ordered-id
    chains keep label classes singleton (merge-only needed >25 rounds
    on a 51-node ordered path — non-convergent in the cap), while
    random-id graphs make almost every label a self-labelled local
    minimum (jump-only measured ~diameter rounds on the sf0.1 pair
    graph). Pin ~log-round convergence AND exactness on both regimes
    with a round budget far under the diameter."""
    import random

    import chillastic_spark.operators.components as C

    calls = {"n": 0}
    orig = C.materialize

    def counting(df, *a, **k):
        calls["n"] += 1
        return orig(df, *a, **k)

    n = 40  # path diameter 39; log2 ≈ 5.3
    ordered = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    perm = list(range(n))
    random.Random(7).shuffle(perm)
    shuffled = spark.createDataFrame(
        [(perm[i], perm[i + 1]) for i in range(n - 1)], "id_a long, id_b long"
    )
    import os

    C.materialize = counting
    # cap=0 disables the small-graph union-find fast path so this test
    # exercises (and pins) the DISTRIBUTED loop's round budget
    os.environ["CHILLASTIC_CC_LOCAL_CAP"] = "0"
    try:
        for edges in (ordered, shuffled):
            calls["n"] = 0
            comps = C.connected_components(edges).collect()
            rounds = calls["n"] - 1  # one materialize pins sym
            assert len(comps) == n
            assert all(r["component"] == 0 for r in comps)
            # per-hop propagation would need ~39 rounds; ~log is <= 10
            assert rounds <= 10, f"{rounds} rounds — lost the log-round shape"
    finally:
        C.materialize = orig
        del os.environ["CHILLASTIC_CC_LOCAL_CAP"]


def test_connected_components_local_fast_path_matches_loop(spark):
    """The r11 small-graph union-find fast path must produce labels
    BIT-IDENTICAL to the distributed loop on adversarial shapes (the
    two id regimes, cliques, isolated pairs, string ids), and the cap
    must gate it: above the cap the loop runs."""
    import os
    import random

    import chillastic_spark.operators.components as C

    n = 40
    perm = list(range(n))
    random.Random(11).shuffle(perm)
    shapes = [
        ("ordered_path", [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"),
        ("shuffled_path", [(perm[i], perm[i + 1]) for i in range(n - 1)],
         "id_a long, id_b long"),
        ("clique_pairs", [(10, 11), (11, 12), (10, 12), (20, 21), (1, 2)],
         "id_a long, id_b long"),
        ("string_ids", [("b", "a"), ("c", "b"), ("x", "y"), ("m", "m2")],
         "id_a string, id_b string"),
    ]
    for name, rows, schema in shapes:
        edges = spark.createDataFrame(rows, schema)
        fast = {(r["node"], r["component"])
                for r in C.connected_components(edges).collect()}
        os.environ["CHILLASTIC_CC_LOCAL_CAP"] = "0"
        try:
            slow = {(r["node"], r["component"])
                    for r in C.connected_components(edges).collect()}
        finally:
            del os.environ["CHILLASTIC_CC_LOCAL_CAP"]
        assert fast == slow, f"{name}: fast path diverged from the loop"

    # cap gating: a graph larger than the cap takes the loop (counted
    # via the per-round materialize calls: loop ⇒ >1 materialize)
    calls = {"n": 0}
    orig = C.materialize

    def counting(df, *a, **k):
        calls["n"] += 1
        return orig(df, *a, **k)

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    C.materialize = counting
    os.environ["CHILLASTIC_CC_LOCAL_CAP"] = "5"  # 18 sym rows > 5
    try:
        C.connected_components(edges).collect()
    finally:
        C.materialize = orig
        del os.environ["CHILLASTIC_CC_LOCAL_CAP"]
    assert calls["n"] > 1, "cap did not send the big graph to the loop"


@pytest.mark.parametrize("value", ["lots", "1e5", ""])
def test_connected_components_malformed_local_cap_falls_back(
    spark, monkeypatch, capsys, value
):
    """A CHILLASTIC_CC_LOCAL_CAP that is not an integer warns on stderr
    and takes the default cap instead of raising ValueError inside
    every connected-components consumer."""
    import chillastic_spark.operators.components as C
    from chillastic_spark import knobs

    monkeypatch.setenv("CHILLASTIC_CC_LOCAL_CAP", value)
    assert knobs.local_cap() == knobs.LOCAL_CAP_DEFAULT
    err = capsys.readouterr().err
    assert "CHILLASTIC_CC_LOCAL_CAP" in err and repr(value) in err
    edges = spark.createDataFrame([(1, 2), (3, 2), (7, 8)], "id_a long, id_b long")
    got = {(r["node"], r["component"]) for r in C.connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    assert "CHILLASTIC_CC_LOCAL_CAP" in capsys.readouterr().err


@pytest.mark.parametrize(
    "name,value",
    [
        ("CHILLASTIC_HOT_GRAM_WARN_FRAC", "lots"),
        ("CHILLASTIC_HOT_GRAM_WARN_FRAC", "nan"),
        ("CHILLASTIC_HOT_GRAM_WARN_FRAC", "-0.1"),
        ("CHILLASTIC_HOT_GRAM_WARN_FRAC", "1.5"),
        ("CHILLASTIC_HOT_GRAM_PREFLIGHT", "yes"),
        ("CHILLASTIC_HOT_GRAM_PREFLIGHT", ""),
    ],
)
def test_malformed_hot_gram_knob_falls_back_with_a_warning(monkeypatch, capsys, name, value):
    """A malformed hot-gram knob warns on stderr and takes its default
    (warn at 0.2, preflight on) instead of raising inside dedup."""
    import chillastic_spark.operators.dedup as D

    monkeypatch.setenv(name, value)
    assert D._hot_gram_warn_frac() == 0.2
    assert D._preflight_enabled() is True
    err = capsys.readouterr().err
    assert name in err and repr(value) in err


def test_valid_hot_gram_knobs_are_used_silently(monkeypatch, capsys):
    import chillastic_spark.operators.dedup as D

    monkeypatch.setenv("CHILLASTIC_HOT_GRAM_WARN_FRAC", "0.05")
    monkeypatch.setenv("CHILLASTIC_HOT_GRAM_PREFLIGHT", "0")
    assert D._hot_gram_warn_frac() == 0.05
    assert D._preflight_enabled() is False
    monkeypatch.setenv("CHILLASTIC_HOT_GRAM_PREFLIGHT", "1")
    assert D._preflight_enabled() is True
    assert "CHILLASTIC_HOT_GRAM" not in capsys.readouterr().err


def test_dedup_runs_its_preflight_under_a_malformed_warn_frac(spark, monkeypatch, capsys):
    import chillastic_spark.operators.dedup as D

    monkeypatch.setenv("CHILLASTIC_HOT_GRAM_WARN_FRAC", "twenty percent")
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w v")], "doc_id long, text string"
    )
    pairs = {(r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(docs, n=2).collect()}
    assert pairs == {(1, 2)}
    assert D.PREFLIGHT_VERDICTS[-1]["warn_frac"] == 0.2
    assert "CHILLASTIC_HOT_GRAM_WARN_FRAC" in capsys.readouterr().err


def test_substring_dup_stats_planted_span(spark):
    """ExactSubstr coverage: a 6-token span shared verbatim by two docs
    is found; a doc repeating a span internally counts both instances;
    unique docs don't appear."""
    span = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"intro words here {span} trailing tail words"),
        (2, f"{span} completely different ending text now"),
        (3, "entirely unrelated content with no repeated spans at all ok"),
        (4, f"{span} middle filler {span}"),  # internal repeat ×2
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in
           __import__("chillastic_spark.operators.dedup", fromlist=["d"])
           .substring_dup_stats(df, window=6).collect()}
    assert set(out) == {1, 2, 4}  # doc 3 has no duplicated window
    # doc 2: 11 tokens -> 6 windows, only the leading span window dups
    assert out[2]["total_windows"] == 6 and out[2]["dup_windows"] == 1
    assert out[2]["dup_frac"] == 0.1667
    # doc 4 contains the span twice -> both instances count
    assert out[4]["dup_windows"] >= 2
    # doc 1 embeds the span mid-text -> exactly one duplicated window
    assert out[1]["dup_windows"] == 1


def test_bpe_pattern_cross_engine_parity(spark):
    """BPE_PATTERN must tokenize identically under Java regex (Spark)
    and RE2 (DuckDB) — the property the bpe_token_stats oracle rests on."""
    import duckdb
    from pyspark.sql import functions as F

    from chillastic_spark.operators.text import BPE_PATTERN

    tests = [
        "I don't think it's 100% obvious...",
        "hello,   world!! x2",
        "they'll we've i'm you'd o'clock",
        "tab\tsep and line\nbreak 3.14",
        "",
        "   ",
        "CamelCase under_scores kebab-case a1b2c3",
    ]
    con = duckdb.connect()
    duck = [
        con.execute("SELECT regexp_extract_all(?, ?)", [t, BPE_PATTERN]).fetchone()[0]
        for t in tests
    ]
    df = spark.createDataFrame([(t,) for t in tests], "t string")
    got = {
        r["t"]: r["x"]
        for r in df.select(
            "t", F.regexp_extract_all("t", F.lit(BPE_PATTERN), F.lit(0)).alias("x")
        ).collect()
    }
    spark_toks = [got[t] for t in tests]
    assert spark_toks == duck


def test_knn_graph_finds_planted_neighbor(spark, vectors):
    """vec 99 is a +0.001 perturbation of vec 0: identical LSH bucket
    (hyperplane signs can't flip on a tiny perturbation of a generic
    vector), so each must be the other's top neighbor with cos≈1."""
    from chillastic_spark.operators.similarity import knn_graph

    edges = knn_graph(vectors, k=3, planes=3)
    by_src = {}
    for r in edges.collect():
        by_src.setdefault(r["src"], []).append((r["dst"], r["cos"]))
    top0 = max(by_src[0], key=lambda t: t[1])
    assert top0[0] == 99 and top0[1] > 0.999
    top99 = max(by_src[99], key=lambda t: t[1])
    assert top99[0] == 0
    # k bound respected for every node
    assert all(len(v) <= 3 for v in by_src.values())


def test_knn_graph_plan_is_bucket_join_group_limit(spark, vectors):
    """No cartesian/nested-loop pair generation, and the per-node top-k
    compiles to WindowGroupLimit (map-side k per node before shuffle)."""
    from chillastic_spark.operators.similarity import knn_graph

    plan = knn_graph(vectors, k=3, planes=3)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_winnowing_guarantee_and_compression(spark):
    """Winnowing invariants (Schleimer et al. 2003): (1) any shared
    token run of >= window+k-1 tokens yields >= 1 shared fingerprint;
    (2) the fingerprint set is smaller than the gram set; (3) disjoint
    docs share nothing."""
    from chillastic_spark.operators.dedup import winnow_fingerprints, winnow_pairs

    shared = "one two three four five six seven eight"  # 8 tokens >= win+k-1
    rows = [
        (1, f"aa bb cc {shared} dd ee"),
        (2, f"{shared} xx yy zz qq rr"),
        (3, "totally different words without any overlap here at all now"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    fps = winnow_fingerprints(df, k=5, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # compression: fingerprints < grams (doc 1: 10 grams of k=5)
    assert len(by_doc[1]) < 10
    pairs = {(r["id_a"], r["id_b"]) for r in winnow_pairs(df, min_shared=1).collect()}
    assert pairs == {(1, 2)}


def _ffmpeg():
    import shutil

    return shutil.which("ffmpeg")


@pytest.mark.skipif(_ffmpeg() is None, reason="ffmpeg not installed")
def test_sample_frames_real_video(spark, tmp_path):
    """The REAL decode path on a real container (mirrors the WAV
    stdlib-decode test): synthesize a 1s test video with ffmpeg, then
    sample_frames(fake=False) must return PNG frames with contiguous
    indices and the stride/cap honoured."""
    import subprocess

    vid = tmp_path / "t.mp4"
    subprocess.run(
        [_ffmpeg(), "-v", "error", "-f", "lavfi",
         "-i", "testsrc=duration=1:size=64x64:rate=8", str(vid)],
        check=True,
    )
    payload = vid.read_bytes()
    df = spark.createDataFrame([(1, payload)], "doc_id: long, payload: binary")
    rows = sorted(
        M.sample_frames(
            df, every_n_bytes=2, max_frames=3, fake=False
        ).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert 1 <= len(rows) <= 3
    assert [r["frame_idx"] for r in rows] == list(range(len(rows)))
    for r in rows:
        assert bytes(r["frame"])[:8] == b"\x89PNG\r\n\x1a\n"
        assert r["frame_bytes"] == len(r["frame"])


def test_sample_frames_real_raises_without_ffmpeg(spark, docs, monkeypatch):
    """fake=False without ffmpeg must raise, not silently byte-slice."""
    if _ffmpeg() is not None:
        pytest.skip("ffmpeg present; the raising path is not reachable")
    payloads = M.with_binary_payload(docs)
    with pytest.raises(Exception):
        M.sample_frames(payloads, fake=False).collect()


def test_exact_dedup_keeps_one_null_text_doc(spark):
    """NULL text is one dedup group: a plain equi-join on the NULL
    fingerprint matched nothing and silently DELETED every null-text
    row instead of keeping the min-id one."""
    from chillastic_spark.operators.dedup import exact_dedup, exact_groups

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, None), (4, None), (5, "x")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept == [1, 3, 5]
    groups = {r["keeper"]: r["n_dups"] for r in exact_groups(df).collect()}
    assert groups == {1: 2, 3: 2}  # operators agree on the NULL group


def test_minhash_incremental_supports_string_ids(spark):
    """The best-match tie-break negated match_id, which crashed for
    string ids under ANSI — only the score may be negated."""
    from chillastic_spark.operators.dedup import minhash_lsh_incremental

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [("a1", text, False), ("b2", text, False), ("c3", text + " x", True)],
        "doc_id string, text string, inc boolean",
    )
    rows = minhash_lsh_incremental(
        df, F.col("inc"), num_perm=16, bands=4, threshold=0.3
    ).collect()
    assert len(rows) == 1
    # ties on est resolve to the SMALLEST existing id
    assert rows[0]["doc_id"] == "c3" and rows[0]["match_id"] == "a1"


def test_scrub_flags_report_rules_that_actually_fired(spark):
    """Flags are evaluated against the progressively-scrubbed text: an
    email/phone swallowed by the earlier URL rule did NOT fire."""
    from chillastic_spark.operators.scrub import with_scrubbed_text

    df = spark.createDataFrame(
        [
            (1, "docs at https://ex.com/a@b.com and https://t.co/555-123-4567x"),
            (2, "mail me a@b.com or call +1 (555) 123-4567 now"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in with_scrubbed_text(df).collect()}
    assert got[1]["hit_url"] and not got[1]["hit_email"] and not got[1]["hit_phone"]
    assert not got[2]["hit_url"] and got[2]["hit_email"] and got[2]["hit_phone"]


def test_hamming_banding_rejects_guarantee_breaking_config(spark, docs):
    """max_hamming beyond chunks-1 silently loses recall (a pair can
    differ in every chunk yet sit under the threshold) — it must raise,
    like minhash bands that don't divide num_perm."""
    from chillastic_spark.operators.dedup import simhash_pairs
    from chillastic_spark.operators.multimodal import phash_pairs

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, max_hamming=5, chunks=4)
    ph = docs.limit(1).selectExpr("doc_id", "cast(doc_id as long) as phash")
    with pytest.raises(ValueError, match="pigeonhole"):
        phash_pairs(ph, max_hamming=8, chunks=8)
    with pytest.raises(ValueError, match="divide"):
        simhash_pairs(docs, max_hamming=2, chunks=7)  # 7 does not divide 60


def test_asof_join_rejects_reserved_columns(spark):
    from chillastic_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 1, 0)], "k long, ts long, __vals long")
    right = spark.createDataFrame([(1, 1, 2.0)], "k long, ts long, v double")
    with pytest.raises(ValueError, match="reserves"):
        asof_join(left, right, key="k", ts="ts", value_cols=["v"])


def test_write_bucketed_qualified_table_roundtrip(spark, tmp_path):
    """A db-qualified managed table lives under <warehouse>/db.db/t —
    the leftover-dir cleanup must target that path, or the second
    write fails on the stale location."""
    from chillastic_spark.operators.bucketing import bucketed_join, write_bucketed

    spark.sql("CREATE DATABASE IF NOT EXISTS tdb")
    df = spark.range(20).selectExpr("id as k", "id * 2 as v")
    write_bucketed(df, "tdb.bt1", "k", num_buckets=4)
    write_bucketed(df, "tdb.bt1", "k", num_buckets=4)  # exercises cleanup
    assert spark.table("tdb.bt1").count() == 20


def test_text_features_empty_text_scores_floor_not_above_prose(spark):
    """Review finding: split(trim('')) = [''] gave empty/whitespace-only
    docs n_tokens=1 and quality ~0.60 — ABOVE genuine English prose —
    so a quality >= 0.55 gate kept empty docs while dropping real text.
    Empty docs now count 0 tokens and score the 0.0 floor."""
    from chillastic_spark.operators.text import with_text_features

    df = spark.createDataFrame(
        [(1, ""), (2, "   \t "), (3, None), (4, "the cat sat on the mat")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_text_features(df).collect()}
    assert rows[1]["n_tokens"] == 0 and rows[1]["quality"] == 0.0
    assert rows[2]["n_tokens"] == 0 and rows[2]["quality"] == 0.0
    assert rows[3]["n_tokens"] is None and rows[3]["quality"] == 0.0
    assert rows[4]["quality"] > 0.0


def test_lang_id_matches_title_case_and_all_caps_stopwords(spark):
    """Review finding: stopword matching was case-sensitive, so a
    title-case all-stopword string identified as 'und' and ALL-CAPS
    spam never tripped the stopword-excess quality penalty."""
    from chillastic_spark.operators.text import lang_id, quality_score

    from chillastic_spark import functions as CF

    df = spark.createDataFrame(
        [
            (1, "The Cat Sat On The Mat And It Is For A"),
            (2, "BUY THE BEST OF THE BEST OF THE THE THE"),
            (3, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["lang"], r["q"])
        for r in df.select(
            "doc_id",
            lang_id("text").alias("lang"),
            CF.round_det(quality_score("text"), 4).alias("q"),
        ).collect()
    }
    assert out[1][0] == "en"
    assert out[2][0] == "en"
    assert out[3][0] == "und"
    # the >50%-stopword penalty fires on the ALL-CAPS stopword spam
    assert out[2][1] < 0.5
