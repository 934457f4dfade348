"""The benchmark's workloads: inputs, timed repetitions, checks, traces.

Each workload object is built on a live Spark session and offers
``prepare()`` (one-time, untimed: generate inputs, fill, warm up) and
``measure(seconds, trace)``, which returns the metrics, the operation
counts and, when traced, the spans.
"""
from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import pandas as pd

from chillastic_spark.engine import Engine, TaskState, Transfer
from chillastic_spark.model import ActionRef, Task, TransferSpec
from chillastic_spark.sinks import upsert
from chillastic_spark.sources import ENVELOPE_SCHEMA, DocumentStore

import corpus as C
from tracer import (
    STAGE_FIELDS,
    Patches,
    Tracer,
    job_table,
    python_node_metrics,
    stage_table,
    union_length,
)

STATE_OPS = ("pop", "update_progress", "complete", "save")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def bucket_files(store_root: str) -> dict:
    """{(index, bucket dir): {parquet file: bytes}} of a document store."""
    out = {}
    data = os.path.join(store_root, "data")
    if not os.path.isdir(data):
        return out
    for index in os.listdir(data):
        ip = os.path.join(data, index)
        if not os.path.isdir(ip):
            continue
        for b in os.listdir(ip):
            if b.startswith("bucket-") and b[len("bucket-"):].isdigit():
                bp = os.path.join(ip, b)
                out[(index, b)] = {
                    f: os.path.getsize(os.path.join(bp, f))
                    for f in os.listdir(bp)
                    if f.endswith(".parquet")
                }
    return out


def spark_layer(spark, tracer: Tracer, roots: list) -> tuple:
    """(spark.* metrics, job ids) over every job run under ``roots``."""
    sc = spark.sparkContext
    tracer.harvest_jobs()
    by_id = {s.sid: s for s in tracer.spans}
    jobs_by_root = {
        r.sid: [j for sid in tracer.subtree(r.sid) for j in by_id[sid].jobs]
        for r in roots
    }
    all_jobs = sorted({j for js in jobs_by_root.values() for j in js})
    jobs = job_table(sc, all_jobs)
    stages = stage_table(sc, sorted({s for _, _, ss in jobs.values() for s in ss}))
    m = {"spark.jobs": (len(all_jobs), "count"), "spark.stages": (len(stages), "count")}
    for f in STAGE_FIELDS:
        unit = "count" if f == "tasks" else ("s" if f.endswith("_s") else "bytes")
        m[f"spark.{f}"] = (sum(st[f] for st in stages.values()), unit)
    driver = 0.0
    for r in roots:
        intervals = [
            (jobs[j][0], jobs[j][1]) for j in jobs_by_root[r.sid]
            if jobs[j][0] is not None and jobs[j][1] is not None
        ]
        driver += r.wall - union_length(intervals, r.start, r.end)
    m["spark.driver_s"] = (driver, "s")
    return m, set(all_jobs)


# ---------------------------------------------------------------- reindex
class ReindexWorkload:
    """Shared loop of the two reindex workloads. Subclasses say what
    the source and the destination hold."""

    spec = C.CorpusSpec(docs_per_slice=5_000, days=1, types=("access",))

    def __init__(self, spark, work: str, args, cpus: int):
        self.spark, self.work, self.seed, self.cpus = spark, work, args.seed, cpus
        self.attempted = self.failed = 0
        self._rep = 0

    # -- inputs
    def _frame(self, rows: list):
        pdf = pd.DataFrame(rows, columns=ENVELOPE_SCHEMA.fieldNames())
        return self.spark.createDataFrame(pdf, ENVELOPE_SCHEMA)

    def _frames(self, corpus: dict) -> dict:
        """{index: Spark frame}, built once so set-ups only write them."""
        return {index: self._frame(rows) for index, rows in corpus.items()}

    def _write_store(self, root: str, frames: dict) -> None:
        store = DocumentStore(root)
        for index, df in frames.items():
            store.write_documents(df, index)
        store.put_indices([
            {
                "name": index,
                "settings": {"index": {"number_of_shards": 1}},
                "mappings": {t: {"properties": {}} for t in self.spec.types},
                "aliases": {},
            }
            for index in frames
        ])

    def _engine(self, state_root: str):
        eng = Engine(self.spark, state_root, plan_concurrency=self.cpus)
        eng.mutators.add("monthBucket", C.MUTATOR_SOURCE)
        return eng

    def _task(self, src: str, dst: str):
        return Task(
            source=src,
            destination=dst,
            transfer=TransferSpec(from_indices="logs_*"),
            mutators=[ActionRef(id="monthBucket", arguments=C.MUTATOR_ARGS)],
        )

    ADMITS_PER_REP = 9

    def _reindex(self, eng, src: str, dst: str, tracer=None, admits=ADMITS_PER_REP) -> dict:
        """add_task + run_task, timed; spans recorded when ``tracer``.
        The task is also admitted (and removed again) ``admits - 1``
        times untraced, half before the run and half after it:
        ``admit_s`` is the median admission, a short figure that one
        sample, or samples taken within one second, would leave noisy."""
        admit_s = []

        def admit_and_remove():
            t0 = time.perf_counter()
            eng.add_task("bench", self._task(src, dst))
            admit_s.append(time.perf_counter() - t0)
            eng.remove_task("bench")

        for _ in range((admits - 1) // 2):
            admit_and_remove()
        patches = self._patch(tracer) if tracer else None
        try:
            t0 = time.perf_counter()
            state = eng.add_task("bench", self._task(src, dst))
            t1 = time.perf_counter()
            status = eng.run_task("bench", parallelism=1)
            t2 = time.perf_counter()
        finally:
            if patches:
                patches.restore()
        admit_s.append(t1 - t0)
        eng.remove_task("bench")
        for _ in range(admits - 1 - (admits - 1) // 2):
            admit_and_remove()
        return {
            "admit_s": _median(admit_s), "drain_s": t2 - t1,
            "wall_s": t2 - t0, "subtasks": len(state.data["backlog"]),
            "status": status,
        }

    def _holds(self, dst: str, expected: tuple) -> bool:
        """Untimed: the store at ``dst`` holds exactly the rows whose
        ``corpus.fingerprint`` is ``expected``."""
        from pyspark.sql import functions as F

        store = DocumentStore(dst)
        frames = [store.read(self.spark, ix) for ix in store.list_data_indices()]
        got = (0, 0, 0)
        if frames:
            df = frames[0]
            for f in frames[1:]:
                df = df.unionByName(f)
            h = F.md5(F.concat_ws("\x1f", "_index", "_type", "_id", "_source"))
            row = df.agg(
                F.count("*").alias("n"),
                F.sum(F.conv(F.substring(h, 1, 8), 16, 10).cast("long")).alias("hi"),
                F.sum(F.conv(F.substring(h, 9, 8), 16, 10).cast("long")).alias("lo"),
            ).collect()[0]
            got = (row["n"], row["hi"] or 0, row["lo"] or 0)
        return got == expected

    def _check(self, dst: str, run: dict, expected: tuple) -> None:
        """Untimed: the task drained without errors and the destination
        holds exactly the reference rows."""
        status = run["status"]
        self.attempted += run["subtasks"] + 1
        self.failed += status["errors"]
        if (
            not self._holds(dst, expected)
            or status["backlog"] != 0
            or status["completed"] != status["total"]
        ):
            self.failed += 1

    # -- tracing
    def _patch(self, tracer: Tracer) -> Patches:
        import chillastic_spark.operators.mutate as mutate
        import chillastic_spark.plans as plans
        import chillastic_spark.sinks as sinks

        p = Patches(tracer)
        p.method(Engine, "add_task", "Engine.add_task")
        p.method(Engine, "run_task", "Engine.run_task")
        p.method(
            Transfer, "transfer_data", "Transfer.transfer_data",
            after=lambda s, _c, a, _k, r: s.attrs.update(rows_in=a[1].count, delivered=r),
        )
        for op in STATE_OPS:
            p.method(TaskState, op, f"TaskState.{op}")
        for op in ("count", "read", "read_sizes"):
            p.method(DocumentStore, op, f"DocumentStore.{op}")
        p.function(
            plans, "plan_bounds", "plans.plan_bounds",
            after=lambda s, _c, _a, _k, r: s.attrs.update(bounds=len(r)),
        )
        p.function(mutate, "apply_data_mutators", "operators.mutate.apply_data_mutators")

        def before_upsert(a, _k):
            return bucket_files(a[1].root)

        def after_upsert(s, before, a, _k, _r):
            after = bucket_files(a[1].root)
            changed = [k for k, files in after.items() if before.get(k) != files]
            s.attrs.update(
                buckets_rewritten=len(changed),
                bytes_rewritten=sum(sum(after[k].values()) for k in changed),
            )

        p.function(sinks, "upsert", "sinks.upsert", before=before_upsert, after=after_upsert)
        return p

    def _layers(self, tracer: Tracer) -> dict:
        selfs = tracer.self_times()
        named = tracer.named
        add, run = named("Engine.add_task"), named("Engine.run_task")
        xfer = named("Transfer.transfer_data")
        walls = [s.wall for s in xfer]
        state_names = {f"TaskState.{op}" for op in STATE_OPS}
        pb, ups = named("plans.plan_bounds"), named("sinks.upsert")
        m = {
            "engine.add_task_self_s": (sum(selfs[s.sid] for s in add), "s"),
            "engine.subtasks": (len(xfer), "count"),
            "engine.subtask_p50_s": (_median(walls), "s"),
            "engine.subtask_max_s": (max(walls, default=0.0), "s"),
            "engine.state_ops": (sum(s.name in state_names for s in tracer.spans), "count"),
            "engine.state_s": (sum(s.wall for s in tracer.outermost(state_names)), "s"),
            "plans.plan_bounds_calls": (len(pb), "count"),
            "plans.plan_bounds_s": (sum(s.wall for s in pb), "s"),
            "plans.bounds_out": (sum(s.attrs["bounds"] for s in pb), "count"),
            "sources.count_calls": (len(named("DocumentStore.count")), "count"),
            "sources.count_s": (sum(s.wall for s in named("DocumentStore.count")), "s"),
            "sources.read_calls": (len(named("DocumentStore.read")), "count"),
            "sources.read_sizes_calls": (len(named("DocumentStore.read_sizes")), "count"),
            "sinks.upsert_calls": (len(ups), "count"),
            "sinks.upsert_s": (sum(s.wall for s in ups), "s"),
            "sinks.buckets_rewritten": (sum(s.attrs["buckets_rewritten"] for s in ups), "count"),
            "sinks.bytes_rewritten": (sum(s.attrs["bytes_rewritten"] for s in ups), "bytes"),
        }
        m["sinks.rewrite_amplification"] = (
            m["sinks.bytes_rewritten"][0] / self.delivered_bytes, "ratio"
        )
        spark_m, jobs = spark_layer(self.spark, tracer, add + run)
        m.update(spark_m)
        by_id = {s.sid: s for s in tracer.spans}
        m["sinks.upsert_jobs"] = (
            sum(len(by_id[i].jobs) for s in ups for i in tracer.subtree(s.sid)), "count"
        )
        py = python_node_metrics(self.spark, jobs)
        m["operators.mutate.python_s"] = (py.get("time to run Python workers", 0.0), "s")
        # the share of drain_s that a child span of Engine.run_task
        # covers; the rest is run_task's own self time, i.e. untraced
        run_wall = sum(s.wall for s in run)
        run_self = sum(selfs[s.sid] for s in run)
        m["trace.run_task_covered"] = (1 - run_self / run_wall if run_wall else 0.0, "ratio")
        # fixed by the inputs and the mutator: reported in the context
        # line, not as metrics an optimisation should move
        rows_in = sum(s.attrs["rows_in"] for s in xfer)
        rows_out = py.get("number of output rows", 0.0)
        fixed = {
            "operators.mutate.rows_in": (rows_in, "count"),
            "operators.mutate.rows_out": (rows_out, "count"),
            "operators.mutate.kept_ratio": (rows_out / rows_in if rows_in else 0.0, "ratio"),
        }
        return m, fixed

    # -- the loop
    def _rep_dirs(self) -> str:
        self._rep += 1
        d = os.path.join(self.work, f"rep{self._rep}")
        os.makedirs(d)
        return d

    def _setup(self, setups: list) -> dict:
        """Set up one repetition. The destination is staged untimed
        (``stage_destination``); the set-up time appended to ``setups``
        covers only engine calls: the source store written through
        ``DocumentStore.write_documents`` and ``put_indices`` from frames
        built once, the ``Engine`` built, the mutator registered."""
        d = self._rep_dirs()
        ctx = {"dir": d, "src": os.path.join(d, "src"), "dst": os.path.join(d, "dst")}
        self.stage_destination(ctx["dst"])
        t = time.perf_counter()
        self._write_store(ctx["src"], self.source_frames)
        ctx["engine"] = self._engine(os.path.join(d, "state"))
        setups.append(time.perf_counter() - t)
        return ctx

    SETUPS_PER_REP = 5

    def _repetition(self, setups: list, tracer=None) -> dict:
        """Set up ``SETUPS_PER_REP`` times (so ``setup_s`` is a median;
        the last set-up is used), reindex, check."""
        for k in range(self.SETUPS_PER_REP):
            if k:
                shutil.rmtree(ctx["dir"])
            ctx = self._setup(setups)
        run = self._reindex(ctx["engine"], ctx["src"], ctx["dst"], tracer)
        self._check(ctx["dst"], run, self.expected)
        shutil.rmtree(ctx["dir"])
        print(
            f"# rep traced={tracer is not None} setup={setups[-1]:.3f}"
            f" admit={run['admit_s']:.3f} drain={run['drain_s']:.3f}",
            file=sys.stderr,
        )
        return run

    def _warm_up(self) -> None:
        """One untimed, checked repetition of the timed work (one set-up,
        one admission) whose figures are dropped: JIT, Python workers and
        codegen warm up on the same work that is then timed.

        A small reindex runs its ``mapInPandas`` on few partitions, so
        each repetition would start Python workers on slots that had
        none yet; a job over four partitions per core starts one worker
        per slot first."""

        def identity(batches):
            yield from batches

        for _ in range(3):
            self.spark.range(0, 1000 * self.cpus, 1, 4 * self.cpus).mapInPandas(
                identity, "id long"
            ).count()
        ctx = self._setup([])
        run = self._reindex(ctx["engine"], ctx["src"], ctx["dst"], admits=1)
        self._check(ctx["dst"], run, self.expected)
        shutil.rmtree(ctx["dir"])

    def measure(self, seconds: float, trace: bool) -> dict:
        """As many untraced repetitions as fit ``seconds`` at
        ``NOMINAL_REP_S`` each (at least one): a count fixed by the
        arguments, so timing noise never changes how many repetitions a
        median is taken over. Traced runs time a traced and an untraced
        repetition."""
        reps, traced, spans, layers, fixed, setups = [], [], [], [], {}, []
        while len(reps) < max(1, int(seconds // self.NOMINAL_REP_S)):
            for tracer_on in ((True, False) if trace else (False,)):
                tracer = Tracer(self.spark.sparkContext) if tracer_on else None
                run = self._repetition(setups, tracer)
                (traced if tracer_on else reps).append(run)
                if tracer_on:
                    m, fixed = self._layers(tracer)
                    layers.append(m)
                    spans.append(tracer.dump())
        e2e = {
            "setup_s": (_median(setups), "s"),
            "wall_s": (_median([r["wall_s"] for r in reps]), "s"),
            "admit_s": (_median([r["admit_s"] for r in reps]), "s"),
            "drain_s": (_median([r["drain_s"] for r in reps]), "s"),
            "docs_per_s": (_median([self.n_docs / r["wall_s"] for r in reps]), "docs/s"),
            "failed_ops_share": (self.failed / max(1, self.attempted), "ratio"),
        }
        out = {
            "repetitions": len(reps) + len(traced),
            "attempted": self.attempted,
            "failed": self.failed,
            "spans": spans,
            "all": dict(e2e),
        }
        if trace:
            metrics = {
                k: (_median([lay[k][0] for lay in layers]), layers[0][k][1])
                for k in layers[0]
            }
            metrics["trace.overhead_s"] = (
                _median([r["wall_s"] for r in traced]) - e2e["wall_s"][0], "s"
            )
            out["all"].update(metrics)
            out["all"].update(fixed)
            out["metrics"] = metrics
        else:
            out["metrics"] = {k: v for k, v in e2e.items() if k != "failed_ops_share"}
        return out


class ReindexRollup(ReindexWorkload):
    """A daily index rolled up into its month; empty destination."""

    NOMINAL_REP_S = 9.0  # one repetition on a 4-core host

    def prepare(self) -> None:
        self.source = C.generate(self.spec, self.seed)
        dest = C.expected_destination(self.source)
        self.expected = C.fingerprint(dest.values())
        self.delivered_bytes = sum(len(r[3].encode()) for r in dest.values())
        self.n_docs = self.spec.n_docs
        self.source_frames = self._frames(self.source)
        self._warm_up()

    def stage_destination(self, dst: str) -> None:
        DocumentStore(dst)


class ReindexIncremental(ReindexWorkload):
    """The rollup output as destination, restored before every
    repetition; a seeded 2% delta re-delivered through the mutator."""

    DELTA_SHARE = 0.02
    NOMINAL_REP_S = 8.5  # one repetition on a 4-core host

    def prepare(self) -> None:
        src = C.generate(self.spec, self.seed)
        self.delta = C.generate_delta(src, self.DELTA_SHARE, self.seed)
        self.expected = C.fingerprint(C.expected_destination(src, self.delta).values())
        self.delivered_bytes = sum(
            len(out[3].encode())
            for rows in self.delta.values()
            for out in map(C.mutate_reference, rows)
            if out is not None
        )
        self.n_docs = sum(len(rows) for rows in self.delta.values())
        # the rollup output (the reference's rows, which the rollup
        # workload checks the engine against) MERGEd into an empty store
        # in one call, checked, and kept as the state every repetition
        # restores; cheaper than a rollup through the engine
        base = list(C.expected_destination(src).values())
        self.base_dst = os.path.join(self.work, "base")
        upsert(self.spark, DocumentStore(self.base_dst), self._frame(base))
        self.attempted += 1
        self.failed += not self._holds(self.base_dst, C.fingerprint(base))
        self.source_frames = self._frames(self.delta)
        self._warm_up()

    def stage_destination(self, dst: str) -> None:
        shutil.copytree(self.base_dst, dst)


WORKLOADS = {
    "reindex_rollup": ReindexRollup,
    "reindex_incremental": ReindexIncremental,
}
