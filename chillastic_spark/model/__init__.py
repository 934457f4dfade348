"""Task / Subtask / Progress models (SURVEY §1.1).

Pure-Python driver-side records mirroring the reference's validation
schemas (app/models/task.js:29-122, subtask.js:79-144, progress.js:6-32)
— re-expressed as dataclasses + explicit validation, not a port of the
schema-inspector DSL.
"""
from __future__ import annotations

import json
import re
from dataclasses import asdict, dataclass, field
from typing import Any, Optional

# Reference: app/models/objectId.js:58
# \Z, not $: Python's $ also matches before a trailing newline,
# so "task1\n" would validate as an id and become a distinct
# state-file key rendering identically to "task1" everywhere
ID_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9]{1,40}\Z")
DEFAULT_NAMESPACE = "global"  # objectId.js:5-31


def validate_object_id(value: str, what: str = "id") -> str:
    if not isinstance(value, str) or not ID_RE.match(value):
        raise ValueError(
            f"{what} must match {ID_RE.pattern!r} (got {value!r})"
        )
    return value


@dataclass
class ActionRef:
    """Reference to a registered mutator/filter: {namespace}/{id} with
    optional per-action arguments (mutators.js:100-101)."""

    id: str
    namespace: str = DEFAULT_NAMESPACE
    arguments: Optional[dict] = None

    def key(self) -> tuple[str, str]:
        return (self.namespace, self.id)

    @staticmethod
    def parse(spec: "str | dict | ActionRef") -> "ActionRef":
        if isinstance(spec, ActionRef):
            return spec
        if isinstance(spec, str):
            ns, _, id_ = spec.rpartition("/")
            # validate at PARSE time: the API maps ValueError to a 400
            # at task admission — unvalidated, 'ns/' or 'a/b/c' is
            # accepted and only fails mid-run as an unknown mutator
            validate_object_id(id_, "id")
            if ns and ns != DEFAULT_NAMESPACE:
                validate_object_id(ns, "namespace")
            return ActionRef(id=id_, namespace=ns or DEFAULT_NAMESPACE)
        # client-shaped failures must be ValueError (the API's 400
        # mapping), not KeyError/AttributeError 500s
        if not isinstance(spec, dict):
            raise ValueError(
                f"action ref must be a string or object (got {type(spec).__name__})"
            )
        if "id" not in spec:
            raise ValueError("action ref object must carry an 'id'")
        ns = spec.get("namespace", DEFAULT_NAMESPACE)
        validate_object_id(spec["id"], "id")
        if ns != DEFAULT_NAMESPACE:
            validate_object_id(ns, "namespace")
        return ActionRef(
            id=spec["id"],
            namespace=ns,
            arguments=spec.get("arguments"),
        )


@dataclass
class TransferSpec:
    """task.transfer — what to move (task.js:44-96)."""

    index_names: Optional[str] = None  # glob pattern of index configs to copy
    template_names: Optional[str] = None  # glob pattern of templates to copy
    from_indices: Optional[str] = None  # glob pattern of document indices
    filters: list[ActionRef] = field(default_factory=list)
    flush_size: Optional[int] = None
    # optional registered-code comparator ordering document indices in
    # the backlog (examples/comparators/indices.js: process newest-dated
    # indices first). Source must define compare(a, b) -> -/0/+.
    index_comparator: Optional[str] = None


@dataclass
class Task:
    """A reindex job spec (task.js:29-122): source/destination store
    paths, transfer spec, ordered mutator list, task-level arguments."""

    source: str
    destination: str
    transfer: TransferSpec
    mutators: list[ActionRef] = field(default_factory=list)
    arguments: Optional[dict] = None

    def validate(self) -> "Task":
        if not self.source or not self.destination:
            raise ValueError("task requires source and destination")
        t = self.transfer
        if not (t.index_names or t.template_names or t.from_indices):
            raise ValueError(
                "task.transfer must name indices, templates, or fromIndices"
            )
        # admission-time type check: a string "500" (or 0, or -1) rode
        # through planning into every subtask's flush_size and only
        # failed SUBTASK-BY-SUBTASK at run time, deep in the transfer
        fs = t.flush_size
        if fs is not None and (
            isinstance(fs, bool) or not isinstance(fs, int) or fs <= 0
        ):
            raise ValueError(
                f"task.transfer.flushSize must be a positive integer "
                f"(got {fs!r})"
            )
        return self


@dataclass(frozen=True)
class Subtask:
    """Unit of parallel work (subtask.js:8-28): one (index, type,
    [min_size, max_size)) slice, or an index/template metadata transfer.

    The canonical ID is the sorted-key JSON of everything except
    ``count`` (subtask.js:20-24) — equality/dedup/resume all key on it.
    """

    kind: str  # 'documents' | 'index' | 'template'
    index: Optional[str] = None
    type: Optional[str] = None
    names: Optional[str] = None  # for index/template transfers
    min_size: float = -1
    max_size: float = -1
    flush_size: int = 100  # Subtask.DEFAULT_FLUSH_SIZE (subtask.js:30)
    count: int = 0

    DEFAULT_FLUSH_SIZE = 100

    def subtask_id(self) -> str:
        d = asdict(self)
        d.pop("count")
        # numerically canonical: json renders int -1 and float -1.0
        # DIFFERENTLY, but equal Subtasks must share one id — the
        # completed-ids anti-join and the enqueue dedup guard key on it,
        # and producers mix int and float bounds
        for k, v in d.items():
            if isinstance(v, float) and v.is_integer():
                d[k] = int(v)
        return json.dumps(d, sort_keys=True, separators=(",", ":"))

    @staticmethod
    def from_id(subtask_id: str, count: int = 0) -> "Subtask":
        d = json.loads(subtask_id)
        return Subtask(count=count, **d)

    def has_size_range(self) -> bool:
        """Range predicate applies only when both bounds are set
        (subtask.js:61-74: minSize>=0 and maxSize>=0)."""
        return self.min_size >= 0 and self.max_size >= 0

    def slice_key(self) -> Optional[tuple]:
        """(index, type) of a documents subtask — what its size-range
        siblings share — or None for index/template transfers."""
        return (self.index, self.type) if self.kind == "documents" else None


@dataclass(frozen=True)
class SliceGroup:
    """Subtasks popped and delivered together: a head subtask plus the
    backlog entries right behind it with the same ``slice_key`` (the
    other size ranges of its (index, type)). ``count`` is the members'
    planned document total."""

    members: tuple[Subtask, ...]  # backlog (FIFO) order

    @property
    def count(self) -> int:
        return sum(m.count for m in self.members)

    def __iter__(self):
        return iter(self.members)

    def __len__(self) -> int:
        return len(self.members)


@dataclass
class Progress:
    """Checkpoint record (progress.js:6-32)."""

    tick: int
    transferred: int
    total: int
    worker: Optional[str] = None
    last_modified: Optional[str] = None  # ISO-8601

    def validate(self) -> "Progress":
        for f_ in ("tick", "transferred", "total"):
            v = getattr(self, f_)
            # type(v) is int, not isinstance: bool passes isinstance
            # and would round-trip the state JSON as true/false where
            # every reader expects an integer
            if type(v) is not int or v < 0:
                raise ValueError(f"progress.{f_} must be a non-negative int")
        return self
