"""Document store: the parquet-backed "cluster" (SURVEY §2.1).

A store root holds one parquet dataset per index plus a JSON catalog of
index configs and templates (the ES settings/mappings/templates analog):

    {root}/
      data/{index}/*.parquet     — envelope rows (flat layout), OR
      data/{index}/bucket-NNNN/  — hash-bucketed layout (see below)
      data/{index}/.n_buckets    — bucket-count marker (bucketed only)
      catalog/indices.json       — {name: {settings, mappings, aliases, warmers}}
      catalog/templates.json     — {name: {index_patterns, settings, ...}}

Document envelope (transfer.js:175-189): ``_index, _type, _id`` strings,
``_source`` JSON string (schemaless payload), optional ``_size`` long.
At 100 TB the data/ dir maps 1:1 onto a partitioned table (one partition
per index/type); reads below always prune to the requested index and
push the type + size-range predicates into the parquet scan.

**Bucketed layout** (what `sinks.upsert` converts an index to on first
merge): documents hash into ``N`` fixed buckets by ``xxhash64(_id)``,
one subdirectory each. A MERGE of k docs then rewrites only the buckets
containing those keys — O(batch·|index|/N) instead of O(|index|) write
amplification per batch, which is the difference between a usable and
an unusable streaming sink at 100 TB (the ES analog routes on _id the
same way; Delta/Iceberg MERGE gets this from partition pruning on a
bucket column). N is pinned per index in ``.n_buckets`` because the
merge anti-join is only correct when both sides agree on the hash.
"""
from __future__ import annotations

import contextlib
import fnmatch
import json
import os
import re
import shutil
import uuid
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chillastic_spark.knobs import env_knob
from chillastic_spark.locks import (
    FileLock,
    heal_swap,
    heal_swaps,
    held_exclusive,
    reader_window,
    swap_dir,
    swap_leftovers,
    swap_lock,
    write_json,
    writer_window,
)

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("_index", T.StringType()),
        T.StructField("_type", T.StringType()),
        T.StructField("_id", T.StringType()),
        T.StructField("_source", T.StringType()),
        T.StructField("_size", T.LongType()),
    ]
)

# settings stripped before create (transfer.js:234-243)
NON_PORTABLE_SETTINGS = ("uuid", "creation_date", "provided_name")


def _bucket_count(raw: str) -> int:
    # the range ``bucket-NNNN`` dirs (and the stream glob's four
    # digits) can name
    n = int(raw)
    if not 0 < n <= 9999:
        raise ValueError(raw)
    return n


# hash-bucketed index layout (see module docstring); read once at import
N_BUCKETS_DEFAULT = env_knob(
    "CHILLASTIC_STORE_BUCKETS", 32, _bucket_count, "an integer in [1, 9999]"
)
BUCKET_PREFIX = "bucket-"
BUCKET_MARKER = ".n_buckets"


def _heal_swaps(index_path: str) -> None:
    """Heal BOTH swap levels of one index: the index dir itself, then
    every bucket with ``bucket-NNNN.old-`` leftovers."""
    heal_swap(index_path)
    heal_swaps(index_path)


def _crashed_swap(index_path: str) -> bool:
    """True when :func:`_heal_swaps` has something to heal: a bucket's
    ``.old-`` leftover inside the index dir, or the index dir missing
    beside its own ``.old-`` leftover."""
    return bool(swap_leftovers(index_path)) or (
        not os.path.isdir(index_path)
        and index_path in swap_leftovers(os.path.dirname(index_path))
    )


def bucket_expr(n_buckets: int) -> F.Column:
    """Deterministic bucket of a document: pmod(xxhash64(_id), N).

    xxhash64 is seed-stable across runs/sessions, so the same _id lands
    in the same bucket forever — the invariant the bucket-scoped merge
    anti-join rests on."""
    return F.pmod(F.xxhash64(F.col("_id")), F.lit(n_buckets)).cast("int")


def size_range(min_size: float, max_size: float) -> Optional[F.Column]:
    """The one size-range test: ``min_size <= _size < max_size``, or
    None when the bounds set no range (subtask.js:61-74: both >= 0).
    A NULL ``_size`` behaves as size 0 (matching the planner's stats),
    so an unsized doc lands in EXACTLY the range holding 0 — a bare
    range predicate would silently drop it."""
    if not (min_size >= 0 and max_size >= 0):
        return None
    size = F.col("_size")
    in_range = (size >= min_size) & (size < max_size)
    if min_size <= 0 < max_size:
        in_range = in_range | size.isNull()
    return in_range


class StoreError(RuntimeError):
    pass


def clean_index_settings(index: dict) -> None:
    """Strip non-portable settings in place (transfer.js:234-243)."""
    settings = index.get("settings", {}).get("index")
    if isinstance(settings, dict):
        for k in NON_PORTABLE_SETTINGS:
            settings.pop(k, None)
        if isinstance(settings.get("version"), dict):
            settings["version"].pop("created", None)


# top-level keys of a TYPELESS (ES 7+/8) mappings object — mapping
# FIELDS, not type names. A typed config nests these one level down
# under each type name, so the top-level key set is the discriminator.
_TYPELESS_MAPPING_KEYS = frozenset(
    {
        "properties", "dynamic", "dynamic_templates", "_meta", "_source",
        "_routing", "_field_names", "date_detection", "numeric_detection",
        "dynamic_date_formats", "runtime",
        # mapper-size plugin: {"_size": {"enabled": true}} at top level —
        # the very metadata this engine's size planning relies on; a
        # typed config would nest it under the type name. Missing it
        # misclassified the config as typed and planned type='_size'
        # subtasks that match zero documents.
        "_size",
        # ES 8 flattened-object control and mapping-level disable
        "subobjects", "enabled",
    }
)


def types_of_config(index_cfg: dict) -> list[dict]:
    """Mapping types of an index config, name injected
    (subtasks.js:165 getTypesFromMappings).

    A TYPELESS config (ES 7+/8: ``mappings = {"properties": ...}``)
    yields ONE type with ``name=None`` — treating its field keys as
    type names planned subtasks like ``type='properties'`` that scan
    zero documents, so a transfer from a modern cluster 'succeeded'
    having copied nothing."""
    m = index_cfg.get("mappings") or {}
    if m and all(k in _TYPELESS_MAPPING_KEYS for k in m):
        return [dict(m, name=None)]
    return [dict(t or {}, name=name) for name, t in sorted(m.items())]


def open_store(path_or_url: str, create: bool = True):
    """Store factory: a filesystem path opens the parquet
    DocumentStore; an http(s) URL opens the ES wire-protocol store —
    so a Task can point source/destination at either, exactly like the
    reference's host configs (models/task.js source/destination).

    ``create=False`` opens without materialising directories — the
    admission-time reachability probe must not conjure the store it is
    checking for."""
    if isinstance(path_or_url, str) and path_or_url.startswith(("http://", "https://")):
        from chillastic_spark.sources.es_rest import ESStore

        return ESStore(path_or_url)
    if isinstance(path_or_url, str) and path_or_url.startswith("delta:"):
        # jar-gated Delta MERGE store (sources/delta.py): "delta:<table>"
        from chillastic_spark.sources.delta import DeltaStore

        return DeltaStore(path_or_url[len("delta:"):])
    return DocumentStore(path_or_url, create=create)


class DocumentStore:
    def __init__(self, root: str, create: bool = True):
        self.root = root
        if create:
            os.makedirs(os.path.join(root, "data"), exist_ok=True)
            os.makedirs(os.path.join(root, "catalog"), exist_ok=True)

    # ---------------------------------------------------------- paths
    def index_path(self, index: str) -> str:
        return os.path.join(self.root, "data", index)

    def _catalog_path(self, which: str) -> str:
        return os.path.join(self.root, "catalog", f"{which}.json")

    def _read_catalog(self, which: str) -> dict[str, Any]:
        p = self._catalog_path(which)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _write_catalog(self, which: str, data: dict[str, Any]) -> None:
        write_json(self._catalog_path(which), data, indent=1, sort_keys=True)

    # ------------------------------------------------- index configs
    def get_indices(self, pattern: str) -> list[dict]:
        """Index configs matching a glob, name injected — the
        Transfer.getIndices shape (transfer.js:364-372)."""
        if not isinstance(pattern, str) or not pattern:
            raise StoreError("pattern must be a non-empty string")
        cat = self._read_catalog("indices")
        return [
            dict(cfg, name=name)
            for name, cfg in sorted(cat.items())
            if fnmatch.fnmatch(name, pattern)
        ]

    def _catalog_lock(self, which: str):
        """Cross-process + in-process lock for catalog read-modify-
        write: two concurrent put_indices used to last-writer-win and
        silently drop each other's entries (the data layer serializes
        via per-index locks; the catalog needs the same)."""
        return FileLock(self._catalog_path(which) + ".lock")

    def put_indices(self, indices: list[dict]) -> None:
        """Create index configs, stripping non-portable settings
        (transfer.js:224-258)."""
        if not isinstance(indices, list):
            raise StoreError("indices must be a list")
        with self._catalog_lock("indices"):
            cat = self._read_catalog("indices")
            for index in indices:
                index = json.loads(json.dumps(index))  # deep copy
                name = index.pop("name", None)
                if not isinstance(name, str):
                    raise StoreError("index config must carry a string name")
                clean_index_settings(index)
                cat[name] = index
            self._write_catalog("indices", cat)

    def reachable(self) -> bool:
        # a store is its data/ + catalog/ layout, not just any dir:
        # /tmp must not probe as a reachable store (admission would
        # pass, then every listing would 500 on the missing data/)
        return os.path.isdir(self.root) and os.path.isdir(
            os.path.join(self.root, "data")
        )

    # ---------------------------------------------------- templates
    def get_templates(self, pattern: str) -> list[dict]:
        """Templates matching a glob; system templates (any
        index_pattern starting with '.') are dropped; none found is an
        error (transfer.js:383-406)."""
        if not isinstance(pattern, str) or not pattern:
            raise StoreError("pattern must be a non-empty string")
        cat = self._read_catalog("templates")
        found = [
            dict(cfg, name=name)
            for name, cfg in sorted(cat.items())
            if fnmatch.fnmatch(name, pattern)
            and not any(p.startswith(".") for p in cfg.get("index_patterns", []))
        ]
        if not found:
            raise StoreError("Templates asked to be copied, but none found")
        return found

    def put_templates(self, templates: list[dict]) -> None:
        if not isinstance(templates, list):
            raise StoreError("templates must be a list")
        with self._catalog_lock("templates"):
            cat = self._read_catalog("templates")
            for template in templates:
                template = json.loads(json.dumps(template))
                name = template.pop("name", None)
                if not isinstance(name, str):
                    raise StoreError("template must carry a string name")
                cat[name] = template
            self._write_catalog("templates", cat)

    # -------------------------------------------------------- types
    def types_of(self, index_cfg: dict) -> list[dict]:
        """Mapping types of an index config, name injected
        (subtasks.js:165 getTypesFromMappings)."""
        return types_of_config(index_cfg)

    # ------------------------------------------------------ buckets
    def bucket_count(self, index: str) -> Optional[int]:
        """N for a bucketed index, None for flat/absent layout."""
        p = os.path.join(self.index_path(index), BUCKET_MARKER)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def set_bucket_count(self, index: str, n: int) -> None:
        # same bound as upsert's auto-migration guard: stream_path's
        # glob matches exactly four digits, so bucket-10000+ dirs would
        # be written but silently never streamed
        if not 0 < n <= 9999:
            raise StoreError(f"n_buckets must be in [1, 9999] (got {n})")
        os.makedirs(self.index_path(index), exist_ok=True)
        # atomic: a crash mid-write must not truncate the marker — an
        # EMPTY marker bricks every later bucket_count() call on the
        # index (int('') raises)
        write_json(os.path.join(self.index_path(index), BUCKET_MARKER), n)

    @staticmethod
    def stream_scratch_filter(df: DataFrame) -> DataFrame:
        """Drop rows streamed out of scratch/crash-leftover dirs (the
        ``stream_path`` wide-glob companion): a ``bucket-0007.old-ab``
        parked by recovery or an in-flight ``.compact-`` dir would be
        double reads / half-written files."""
        pat = r"(\.tmp-|\.old-|\.new-|\.merge-|\.append-|\.compact-)[0-9a-f]{1,32}/"
        return (
            df.withColumn("__file", F.input_file_name())
            .filter(~F.col("__file").rlike(pat))
            .drop("__file")
        )

    def bucket_path(self, index: str, bucket: int) -> str:
        return os.path.join(self.index_path(index), f"{BUCKET_PREFIX}{bucket:04d}")

    def bucket_paths(
        self, index: str, buckets: "Optional[list[int]]" = None
    ) -> list[str]:
        """Existing bucket dirs (all, or pruned to ``buckets``). A
        missing dir is an EMPTY bucket — never an error."""
        if buckets is not None:
            cand = [self.bucket_path(index, b) for b in sorted(set(buckets))]
        else:
            root = self.index_path(index)
            # strict bucket-NNNN match: a crash-orphaned
            # "bucket-0000.old-x" swap leftover must never be read as
            # live data (it would double-count the bucket)
            cand = [
                os.path.join(root, d)
                for d in sorted(os.listdir(root))
                if d.startswith(BUCKET_PREFIX)
                and d[len(BUCKET_PREFIX):].isdigit()
            ] if os.path.isdir(root) else []
        return [p for p in cand if os.path.isdir(p)]

    def stream_path(self, index: str) -> str:
        """Path/glob for readStream over one index — LAYOUT-CHANGE
        SAFE: ``{index}/*`` matches both flat part files and bucket
        directories, so a stream started on a flat index keeps seeing
        rows after an upsert migrates it to the bucketed layout (a
        layout-specific path would go silently blind: a file stream
        never lists files under unmatched subdirectories — verified
        empirically). Callers MUST also apply
        :func:`stream_scratch_filter`: the wide glob matches crash
        leftovers (``bucket-0007.old-ab12``, in-flight ``.compact-``
        dirs) whose files must not be streamed. The migration rewrite
        double-delivers rows (old flat file + new bucket file) — the
        content-dedup / idempotent MERGE sinks downstream absorb that
        by design.

        Exception: a Hive-partitioned flat index (``_type=`` dirs)
        keeps the plain directory path — the partition COLUMN comes
        from the path and a glob would read it as NULL. Such an index
        loses the migration safety (documented trade; migrating a
        type-partitioned index under a live stream is not supported).
        """
        root = self.index_path(index)
        if os.path.isdir(root) and any(
            "=" in d and os.path.isdir(os.path.join(root, d))
            for d in os.listdir(root)
        ):
            return root
        return os.path.join(root, "*")

    # --------------------------------------------------------- data
    # scratch dirs are always <name><tag><hex suffix>: anchor the
    # match at the END so a legitimate index whose NAME contains a tag
    # substring (e.g. 'snapshot.old-2024x') is not permanently hidden
    # from listings/compaction
    _SCRATCH_RE = re.compile(
        r"(\.tmp-|\.old-|\.new-|\.merge-|\.append-|\.compact-)[0-9a-f]{1,32}$"
    )

    def list_data_indices(self, pattern: str = "*") -> list[str]:
        data = os.path.join(self.root, "data")
        if not os.path.isdir(data):  # bare root: no indices, not a 500
            return []
        return sorted(
            d for d in os.listdir(data)
            if fnmatch.fnmatch(d, pattern)
            and os.path.isdir(os.path.join(data, d))
            and not self._SCRATCH_RE.search(d)
        )

    def read(
        self,
        spark: SparkSession,
        index: str,
        type: Optional[str] = None,
        min_size: float = -1,
        max_size: float = -1,
        buckets: "Optional[list[int]]" = None,
    ) -> DataFrame:
        """Partitioned scan of one (index[,type]) slice with the size
        range pushed down (the scroll-scan analog, transfer.js:103-151;
        range query subtask.js:61-74).

        ``buckets`` prunes a bucketed index to the given hash buckets —
        the MERGE fast path reads only the touched 1/N-th of the index.

        The existence check + file listing run in the index's
        :func:`~chillastic_spark.locks.reader_window`: a read can never
        land between a live swap's two renames and silently serve an
        empty or bucket-incomplete frame, and a swap that crashed
        mid-window (a ``.old-`` leftover of the index dir or of a
        bucket) is healed first, so a reader is never the caller that
        has to know about writer crashes.
        """
        path = self.index_path(index)
        if not os.path.isdir(os.path.dirname(path)):
            # bare root — no data dir to lock in (reads must not mkdir)
            return spark.createDataFrame([], ENVELOPE_SCHEMA)
        lock = swap_lock(path)
        if (
            not os.path.isdir(path)
            and not os.path.exists(lock)
            and not _crashed_swap(path)
        ):
            # genuinely never-built: no dir, no crashed-swap leftovers,
            # and no swap lock file (every mutation creates one) —
            # return empty without materializing a lock file
            return spark.createDataFrame([], ENVELOPE_SCHEMA)
        with reader_window(lock, lambda: _crashed_swap(path), lambda: _heal_swaps(path)):
            if not os.path.isdir(path):
                paths = []
            elif self.bucket_count(index) is None:
                paths = [path]
            else:
                paths = self.bucket_paths(index, buckets)
            if not paths:
                return spark.createDataFrame([], ENVELOPE_SCHEMA)
            df = spark.read.schema(ENVELOPE_SCHEMA).parquet(*paths)
        df = df.withColumn("_index", F.lit(index))
        if type is not None:
            df = df.filter(F.col("_type") == type)
        in_range = size_range(min_size, max_size)
        if in_range is not None:
            df = df.filter(in_range)
        return df

    @contextlib.contextmanager
    def mutation(self, index: str):
        """The ONE guard every change to an index runs under (upsert,
        purge, ``write_documents``, compaction). The parquet store has no transaction log, so
        one writer per index is enforced here: the EXCLUSIVE flock on
        ``<index>.lock`` serializes whole mutations — across processes
        and, since every acquisition opens its own fd, across threads of
        one process alike (locks.py). Once held, both swap levels are
        healed in the index's writer window BEFORE the caller reads
        anything: a bucket whose live dir died mid-swap reads as empty,
        and merging against "empty" would drop its pre-crash rows for
        good. Re-entrant per thread. Delta/Iceberg MERGE replaces all of
        this with real transactions at scale."""
        path = self.index_path(index)
        if held_exclusive(path + ".lock"):
            yield
            return
        with FileLock(path + ".lock"):
            with writer_window(swap_lock(path), lambda: _heal_swaps(path)):
                pass
            yield

    def swap(self, index: str, target: str, staged: Optional[str]) -> None:
        """Install ``staged`` as ``target`` — the whole index dir or one
        of its buckets — with :func:`~chillastic_spark.locks.swap_dir`
        under the index's swap lock. Caller holds :meth:`mutation`.

        The swap lock is held only for the renames, so a reader blocks
        a writer for microseconds, never for the rewrite before them;
        bucket swaps take the INDEX-level lock, so one reader window
        covers both layouts."""
        swap_dir(swap_lock(self.index_path(index)), target, staged, "store_mid_swap")

    def read_sizes(
        self, spark: SparkSession, index: str, type: Optional[str] = None
    ) -> DataFrame:
        """One-column planning projection for plan_bounds: parquet
        column pruning means only the ``_size`` column is read from
        disk (ReadSchema shows the single column). Wire stores
        override this with a metadata-only scroll."""
        return self.read(spark, index, type).select("_size")

    def write_documents(
        self,
        df: DataFrame,
        index: str,
        mode: str = "append",
        partition_by: Optional[list[str]] = None,
    ) -> None:
        """Raw write of envelope rows into one index (no merge — see
        sinks.upsert for idempotent delivery).

        ``partition_by=["_type"]`` lays the index out Hive-style so
        per-type scans become partition-PRUNED reads (the metadata-level
        type filter of SURVEY P4, enforced by the storage layout) —
        the recommended layout at scale.

        Appending to a BUCKETED index routes rows into their hash
        buckets (so the layout invariant survives raw writes);
        overwriting one drops the bucket marker and returns the index
        to the flat layout the caller asked for.

        EVERY path (flat included) runs under :meth:`mutation`, like
        upsert/purge/compaction, so interrupted swaps heal first: an
        unlocked flat write raced the merge's flat->bucketed migration
        (rows landing in a dir about to be renamed away and rmtree'd),
        and an un-healed bucketed append re-created a live bucket dir
        whose only complete copy sat in .old- — the next heal would
        then delete that .old- permanently.
        """
        cols = [
            "_index", "_type", "_id", "_source",
            *( ["_size"] if "_size" in df.columns else [F.lit(None).cast("long").alias("_size")]),
        ]
        with self.mutation(index):
            # the layout can flip flat->bucketed while waiting on the
            # lock (upsert migration) — read the marker INSIDE it
            nb = self.bucket_count(index)
            if nb is not None and mode == "append":
                # route rows into their buckets: move the (uniquely
                # named) staged part files in — no live file is rewritten
                with self.staged_buckets(df.select(*cols), index, nb) as staged:
                    for b, d in staged.items():
                        dest = self.bucket_path(index, b)
                        os.makedirs(dest, exist_ok=True)
                        for f in os.listdir(d):
                            if f.endswith(".parquet"):
                                os.rename(os.path.join(d, f), os.path.join(dest, f))
                return
            # overwrite of a bucketed index: Spark deletes the whole
            # dir — INCLUDING the bucket marker — before writing, so
            # the index comes back flat with no pre-delete needed.
            # (Removing the marker up front opened a window where a
            # failed write left bucket dirs under a "flat" index, which
            # reads as EMPTY and gets destroyed by the next upsert.)
            writer = df.select(*cols).write.mode(mode)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(self.index_path(index))

    @contextlib.contextmanager
    def staged_buckets(self, df: DataFrame, index: str, n_buckets: int):
        """Write ``df`` beside the live index, hash-partitioned by
        :func:`bucket_expr`, and yield ``{bucket: staged_dir}`` for the
        non-empty buckets — the ONE staged write every bucketed
        mutation (merge, migration, append, purge) makes before it
        touches a live dir, so a crash mid-write leaves the index as it
        was. The staging dir is removed on exit; move out what you keep.

        Rows are shuffled by bucket first, into at most
        ``defaultParallelism`` write tasks, so each bucket is written by
        ONE task and its staged dir holds exactly one part file. An
        unclustered write leaves one file per write task in every
        bucket, and the next MERGE has to read them all back."""
        tmp = self.index_path(index) + ".merge-" + uuid.uuid4().hex[:8]
        tasks = min(n_buckets, df.sparkSession.sparkContext.defaultParallelism)
        try:
            df.withColumn("__bucket", bucket_expr(n_buckets)).repartition(
                tasks, "__bucket"
            ).write.partitionBy("__bucket").parquet(tmp)
            yield {
                int(d.split("=", 1)[1]): os.path.join(tmp, d)
                for d in os.listdir(tmp)
                if d.startswith("__bucket=")
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def count(self, spark: SparkSession, index: str, type: Optional[str] = None,
              min_size: float = -1, max_size: float = -1) -> int:
        """Subtask count query (subtasks.js:97-100)."""
        return self.read(spark, index, type, min_size, max_size).count()
