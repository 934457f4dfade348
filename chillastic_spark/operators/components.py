"""Connected components over a pair/edge list — the step that turns
near-duplicate PAIRS into duplicate CLUSTERS (pick one canonical doc per
component, drop the rest).

Spark-first shape: iterative min-label propagation expressed as
DataFrame joins, with a LABEL-CLASS MERGE (every node of a label class
wholesale adopts the best label any member found — the star-contraction
move of Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) plus a POINTER JUMP (comp ← label(comp)) per round, so
convergence is ~log n rounds instead of O(diameter) on BOTH id
regimes (see the loop comments). Each round cuts lineage via the
shared ``persist.materialize`` (iterative=True — the cluster mode is a
reliable checkpoint). Near-dup graphs are overwhelmingly tiny
star/clique components, so rounds ≈ 2-3 in practice at any corpus
size; every round is an edge-table equi-join plus three label-table
aggregations/joins shuffled on node/label id (AQE-coalesced), never a
driver-side collect of the graph.

Round-count evidence (r10): sf0.1 embedding pair graph (1536 nodes,
chain-shaped components, random ids): r9 shape (per-hop propagation +
pointer jump) 16 rounds; merge-only 8; merge+jump 4 — labels
bit-identical in all variants. 200-node path with shuffled ids:
merge+jump 6 rounds. 51-node ORDERED path: jump-only 6 rounds,
merge-only >25 (non-convergent in the cap). A second merge level per
round saved fewer rounds than its two extra label-table shuffles cost.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chillastic_spark.knobs import env_knob
from chillastic_spark.persist import materialize, release

# Small-graph fast path (r11): below this many SYMMETRIC edge rows
# (= 2× undirected edges), the component labels are computed with one
# driver-side union-find over the already-pinned edge table instead of
# the distributed fixpoint loop. Near-dup pair graphs are tiny relative
# to their corpus (sf0.1: 256 jaccard pairs over 5000 docs, 1450
# embedding pairs over 1536 vectors — and each loop ROUND is ~5 chained
# shuffles plus a convergence-probe job, ~1.5s of pure per-job overhead
# for a graph that fits in L2). The gate is a measured row count, not a
# scale-factor constant: a 100 TB corpus whose pair graph exceeds the
# cap takes the loop unchanged. 200k rows ≈ a few MB collected — the
# same order as a broadcast-join build side. 0 disables (tests use it
# to pin the loop's round budget).
_LOCAL_CAP_ENV = "CHILLASTIC_CC_LOCAL_CAP"
_LOCAL_CAP_DEFAULT = 200_000


def _local_cap() -> int:
    """``CHILLASTIC_CC_LOCAL_CAP``, read per call (tests flip it); a
    value that is not an integer falls back to the default."""
    return env_knob(_LOCAL_CAP_ENV, _LOCAL_CAP_DEFAULT, int, "an integer")


def _local_components(rows) -> "dict | None":
    """Exact min-label components via union-find over collected
    symmetric edge rows. Returns {node: component} — component is the
    smallest member id, the same fixpoint the distributed loop reaches
    — or None when an edge has a NULL endpoint (ill-formed input: let
    the distributed loop define the semantics rather than invent one
    here)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in rows:
        if a is None or b is None:
            return None
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    return {n: comp_min[find(n)] for n in parent}


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """(node, component) for every node in ``edges`` (undirected);
    ``component`` is the smallest node id in the node's component.

    Raises if not converged within ``max_iters`` rounds (a round =
    neighbor-min propagation + one label-class merge).
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = materialize(sym.distinct(), iterative=True)
    # small-graph fast path: one bounded collect over the just-pinned
    # blocks (limit cap+1 — the row count and the rows in a single
    # job), and if the graph is tiny (the overwhelmingly common
    # near-dup case), union-find it on the driver — identical labels,
    # zero loop rounds (each round is ~5 chained shuffles + a probe
    # job). Guide §1.2: the cheapest shuffle is the one the algorithm
    # no longer needs. Isolated A/B at sf0.1: 0.77 vs 1.59s on the
    # 256-edge jaccard graph, 0.69 vs 3.33s on the 1450-edge embedding
    # graph (7 interleaved reps, labels identical).
    cap = _local_cap()
    head = sym.limit(cap + 1).collect() if cap > 0 else None
    if head is not None and len(head) <= cap:
        comp = _local_components((r[0], r[1]) for r in head)
        if comp is not None:
            spark = edges.sparkSession
            node_t = sym.schema["a"].dataType
            from pyspark.sql.types import StructField, StructType

            out = spark.createDataFrame(
                list(comp.items()),
                StructType(
                    [
                        StructField("node", node_t),
                        StructField("component", node_t),
                    ]
                ),
            )
            release(sym)
            return out
    # seed comp ← min(node, min neighbor): one aggregation replaces the
    # r9 code's separate nodes-distinct pass AND its first full
    # join-round of work — the fixpoint (comp = component min, verified
    # by a no-change round) is unchanged, rounds-to-converge drops by
    # one. sym is symmetric, so every node appears as `a`.
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("_mb"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("_mb")).alias("comp"),
        )
    )
    prev_pinned = None
    for _round in range(max_iters):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("comp").alias("_nbr"))
        )
        prop = (
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("_nbr"), F.col("comp"))).alias(
                    "comp"
                ),
                F.col("comp").alias("_old"),
            )
        )
        # LABEL-CLASS MERGE: group this round's candidates by the OLD
        # label; every member of the class adopts the class-wide min.
        # Whole label classes (partial components discovered in earlier
        # rounds) merge in one step instead of leaking the better label
        # one graph-hop per round. Correctness: _cmin is a min over
        # in-component candidate labels, so comp only ever decreases to
        # another in-component node id; the fixpoint (comp = component
        # min everywhere, confirmed by a no-change round) is unchanged.
        cls = prop.groupBy("_old").agg(F.min("comp").alias("_cmin"))
        merged = prop.join(cls, "_old").select(
            "node",
            F.least(F.col("comp"), F.col("_cmin")).alias("comp"),
            "_old",
        )
        # POINTER JUMP: comp ← label(comp). Complementary to the class
        # merge — the merge collapses label CLASSES (many nodes sharing
        # a label; the random-id regime of real near-dup graphs, where
        # this jump is a measured no-op) while the jump shortcuts label
        # CHAINS (comp points at a node whose own comp is smaller; the
        # ordered-id chain regime, where classes stay singletons and
        # the merge alone is a no-op — a 51-node ordered path failed to
        # converge in 25 merge-only rounds). Either alone is ~diameter
        # on its bad shape; together rounds are ~log on both.
        ptr = merged.select(F.col("node").alias("_pn"), F.col("comp").alias("_pc"))
        merged = merged.join(ptr, merged["comp"] == ptr["_pn"], "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce(F.col("_pc"), F.col("comp"))).alias(
                "comp"
            ),
            "_old",
        )
        # LAZY per-round pin: the convergence probe below is the
        # round's materializing action (limit(1).count() runs the
        # round; LocalRDDCheckpointData's end-of-job fill-in then
        # persists any partitions the limit short-circuited, so the
        # checkpoint is complete and lineage truncated before the next
        # round builds on it). An earlier r10 session saw eager=False
        # wedge here for minutes — that was the checkpoint-stats
        # compounding bomb, fixed in persist._reset_stats; with flat
        # stats the lazy pin measured consistently faster than eager
        # pin + probe (2.42/2.46 → 2.35/2.26s per convergence on the
        # sf0.1 pair graph), labels identical.
        merged = materialize(merged, iterative=True, eager=False)
        changed = merged.filter(F.col("comp") != F.col("_old")).limit(1).count()
        # release the PREVIOUS round's pin now that this round is fully
        # computed — unreleased, a k-round convergence holds k
        # graph-sized checkpoints live until scope exit
        if prev_pinned is not None:
            release(prev_pinned)
        prev_pinned = merged
        labels = merged.select("node", "comp")
        if changed == 0:
            release(sym)
            return labels.select("node", F.col("comp").alias("component"))
    raise RuntimeError(f"connected_components did not converge in {max_iters} rounds")


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster assignment from a near-dup pair list: (doc_id,
    cluster_id, is_canonical). Canonical = the smallest doc id of the
    cluster — the row a curation pipeline keeps."""
    comps = connected_components(pairs, src=id_a, dst=id_b)
    return comps.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )
