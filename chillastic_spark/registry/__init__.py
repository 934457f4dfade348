"""Mutator & filter registries (SURVEY §2.10).

Mirrors the reference contract (app/services/mutators.js:16-35,
filters.js:16-31): a mutator module exports ``TYPE`` ∈
{data,index,template}, ``predicate(obj, args)`` and ``mutate(obj,
args)``; a filter exports ``TYPE`` ∈ {index,type} and ``predicate``.
Sources are Python code strings compiled in a restricted namespace
(the require-from-string analog, compiler.js:6-12) or plain Python
objects/callables registered directly.

Registration is namespaced ``{namespace}/{id}`` with ``global`` default
(objectId.js:5-31); deleting a task deletes its namespace
(tasks.js:93-96 → Engine.remove_task).
"""
from __future__ import annotations

import ast
import json
import os
import threading
import uuid
import types
from typing import Any, Callable, Iterable, Optional

from chillastic_spark.locks import write_json
from chillastic_spark.model import DEFAULT_NAMESPACE, ActionRef, validate_object_id

MUTATOR_TYPES = ("data", "index", "template")  # mutators.js:127-131
FILTER_TYPES = ("index", "type")  # filters.js:130-133

# Modules available to compiled code strings — the exact analog of the
# reference handing user JS only moment+lodash (README.md:172,
# compiler.js:6-12). Pre-seeded as names AND importable via the
# restricted __import__ below; everything else (os, sys, ...) is
# rejected at registration time.
SANDBOX_MODULES = ("re", "math", "datetime", "json")

# Builtins user mutator/filter code may use. Deliberately excludes the
# escape hatches: open/__import__/exec/eval/compile/input/globals/vars/
# getattr/setattr/delattr/breakpoint/memoryview/object.__subclasses__
# reachers. Registration of source using them fails fast (the analog of
# the reference rejecting invalid mutator modules). Defense-in-depth on
# top of the REST api-key gate, not a substitute for it.
_SAFE_BUILTIN_NAMES = (
    "abs", "all", "any", "ascii", "bin", "bool", "bytearray", "bytes",
    "callable", "chr", "dict", "divmod", "enumerate", "filter", "float",
    "format", "frozenset", "hash", "hex", "int", "isinstance",
    "issubclass", "iter", "len", "list", "map", "max", "min", "next",
    "oct", "ord", "pow", "print", "range", "repr", "reversed", "round",
    "set", "slice", "sorted", "str", "sum", "tuple", "zip",
    # exception types user predicates legitimately raise/catch
    "ArithmeticError", "AttributeError", "Exception", "IndexError",
    "KeyError", "LookupError", "RuntimeError", "StopIteration",
    "TypeError", "ValueError", "ZeroDivisionError",
    "True", "False", "None", "NotImplemented",
    # class statements need this; it does not grant I/O
    "__build_class__",
)


class RegistryError(ValueError):
    pass


# stdlib internals the ALLOWED modules lazily import from the caller's
# frame at first use (datetime.strptime → _strptime); not user-visible
# names, just transitive machinery of the whitelist
_SANDBOX_SUPPORT = frozenset({"_strptime"})


def _restricted_import(name, globals=None, locals=None, fromlist=(), level=0):
    """``import X`` inside registered source, allowlist-only."""
    root = name.split(".")[0]
    if root in SANDBOX_MODULES or root in _SANDBOX_SUPPORT:
        return __import__(name, globals, locals, fromlist, level)
    raise ImportError(
        f"module {name!r} is not available to registered code "
        f"(allowed: {', '.join(SANDBOX_MODULES)})"
    )


def _sandbox_builtins() -> dict[str, Any]:
    import builtins

    safe = {
        n: getattr(builtins, n) for n in _SAFE_BUILTIN_NAMES if hasattr(builtins, n)
    }
    safe["__import__"] = _restricted_import
    return safe


# Names whose mere appearance in registered source is rejected at
# registration time (not first call): I/O + introspection escapes.
_FORBIDDEN_NAMES = frozenset(
    {
        "open", "eval", "exec", "compile", "input", "globals", "locals",
        "vars", "getattr", "setattr", "delattr", "breakpoint", "dir",
        "help", "exit", "quit", "memoryview", "__import__", "__builtins__",
    }
)


def _scan_source(tree: "ast.Module") -> None:
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            mods = (
                [a.name for a in node.names]
                if isinstance(node, ast.Import)
                else [node.module or ""]
            )
            for m in mods:
                if m.split(".")[0] not in SANDBOX_MODULES:
                    raise RegistryError(
                        f"import of {m!r} is not allowed in registered code "
                        f"(allowed: {', '.join(SANDBOX_MODULES)})"
                    )
        elif isinstance(node, ast.Name) and node.id in _FORBIDDEN_NAMES:
            raise RegistryError(
                f"use of {node.id!r} is not allowed in registered code"
            )
        elif isinstance(node, ast.Attribute) and (
            node.attr.startswith("__") and node.attr.endswith("__")
        ):
            # blocks the classic f.__globals__ / ().__class__ escapes
            raise RegistryError(
                f"dunder attribute access {node.attr!r} is not allowed in registered code"
            )


def compile_source(source: str) -> dict[str, Any]:
    """Compile a Python mutator/filter source string into a namespace.

    The require-from-string analog (compiler.js:6-12). The namespace is
    seeded with the SANDBOX_MODULES allowlist and a restricted builtins
    table, and the source is AST-scanned so ``open``/``import os``/
    ``eval``/dunder escapes fail at REGISTRATION, mirroring the
    reference giving user code only moment+lodash. Exec errors surface
    as RegistryError (matching the reference's invalid-JS rejection,
    tests/services/invalidMutators/notAJsFile).
    """
    ns: dict[str, Any] = {"__builtins__": _sandbox_builtins(), "__name__": "<registered-code>"}
    for mod in SANDBOX_MODULES:
        ns[mod] = __import__(mod)
    try:
        tree = ast.parse(source, "<registered-code>")
        _scan_source(tree)
        exec(compile(tree, "<registered-code>", "exec"), ns)
    except RegistryError:
        raise
    except Exception as e:  # noqa: BLE001 — any compile/run error is invalid
        raise RegistryError(f"source failed to compile: {e}") from e
    return ns


def _as_namespace(obj: Any) -> dict[str, Any]:
    if isinstance(obj, str):
        return compile_source(obj)
    if isinstance(obj, dict):
        return obj
    if isinstance(obj, types.ModuleType):
        return vars(obj)
    raise RegistryError(f"cannot register object of type {type(obj)}")


class Mutator:
    def __init__(self, ns: dict[str, Any]):
        mtype = ns.get("TYPE") or ns.get("type")
        if mtype not in MUTATOR_TYPES:  # mutators.js:16-27
            raise RegistryError(
                f"mutator TYPE must be one of {MUTATOR_TYPES}, got {mtype!r}"
            )
        predicate = ns.get("predicate")
        mutate = ns.get("mutate")
        if not callable(predicate):  # mutators.js:28-31
            raise RegistryError("mutator must define callable predicate(obj, args)")
        if not callable(mutate):  # mutators.js:32-35
            raise RegistryError("mutator must define callable mutate(obj, args)")
        self.type: str = mtype
        self.predicate: Callable = predicate
        self.mutate: Callable = mutate
        self.arguments: Optional[dict] = None  # bound at load time

    def with_arguments(self, args: Optional[dict]) -> "Mutator":
        clone = Mutator.__new__(Mutator)
        clone.type, clone.predicate, clone.mutate = self.type, self.predicate, self.mutate
        clone.arguments = args
        return clone


class Filter:
    def __init__(self, ns: dict[str, Any]):
        ftype = ns.get("TYPE") or ns.get("type")
        if ftype not in FILTER_TYPES:  # filters.js:16-23
            raise RegistryError(
                f"filter TYPE must be one of {FILTER_TYPES}, got {ftype!r}"
            )
        predicate = ns.get("predicate")
        if not callable(predicate):  # filters.js:24-31
            raise RegistryError("filter must define callable predicate(obj, args)")
        self.type: str = ftype
        self.predicate: Callable = predicate
        self.arguments: Optional[dict] = None

    def with_arguments(self, args: Optional[dict]) -> "Filter":
        clone = Filter.__new__(Filter)
        clone.type, clone.predicate = self.type, self.predicate
        clone.arguments = args
        return clone


class _Registry:
    """Namespaced store of compiled entries + their sources.

    Persists sources (not code objects) to ``{state_dir}/{name}.json``
    when a state dir is given — the Redis-hash analog
    (mutators.js:52-61).
    """

    entry_cls: type = None  # set by subclass
    name = "registry"

    def __init__(self, state_dir: Optional[str] = None):
        self._entries: dict[tuple[str, str], Any] = {}
        self._sources: dict[tuple[str, str], str] = {}
        # "ns/id" -> error for persisted sources that failed to compile
        # at load (see _load); surfaced via GET /{name}/_errors so
        # operators can find and remove them instead of the whole
        # registry refusing to start. remove()/remove_namespace() clear
        # matching entries.
        self.load_errors: dict[str, str] = {}
        # sources under malformed keys (no 'ns/' prefix) — carried
        # through saves verbatim so hand-edit damage never loses code
        self._orphan_sources: dict[str, str] = {}
        self._state_dir = state_dir
        # serializes mutation+save: Flask serves threaded, and two
        # concurrent registrations writing the SAME fixed .tmp path
        # would interleave json.dump output and install corrupt JSON
        self._mutex = threading.Lock()
        if state_dir:
            os.makedirs(state_dir, exist_ok=True)
            self._load()

    # -- persistence -----------------------------------------------------
    def _path(self) -> str:
        return os.path.join(self._state_dir, f"{self.name}.json")

    def _load(self) -> None:
        if not (self._state_dir and os.path.exists(self._path())):
            return
        try:
            with open(self._path()) as f:
                data = json.load(f)
            if not isinstance(data, dict):
                raise ValueError(f"expected a JSON object, got {type(data).__name__}")
        except Exception as e:
            # corrupt/truncated JSON must not wedge Engine construction
            # — but silently starting empty would let the next save
            # OVERWRITE the damaged file and lose every source. Park the
            # bytes aside, surface the error, start empty.
            quarantined = f"{self._path()}.corrupt-{uuid.uuid4().hex[:8]}"
            try:
                os.replace(self._path(), quarantined)
            except OSError:
                quarantined = "(could not quarantine file)"
            self.load_errors["__file__"] = f"{e} — original moved to {quarantined}"
            return
        for k, src in data.items():
            try:
                ns_, id_ = k.split("/", 1)
            except ValueError:
                # hand-edit damage: a key with no namespace. Preserve the
                # source verbatim (re-emitted by _save) and surface it.
                self._orphan_sources[k] = src
                self.load_errors[k] = "malformed key (expected 'namespace/id')"
                continue
            try:
                self._entries[(ns_, id_)] = self.entry_cls(_as_namespace(src))
                self._sources[(ns_, id_)] = src
            except Exception as e:
                # a persisted source that no longer compiles (a
                # grown forbidden-name list after an upgrade, a
                # hand-edited file) must not wedge Engine
                # construction — keep the SOURCE so a later save
                # doesn't drop it and the removal API can still
                # delete it; the entry just isn't loadable
                self._sources[(ns_, id_)] = src
                self.load_errors[f"{ns_}/{id_}"] = str(e)

    def _save_unlocked(self) -> None:
        """Callers hold self._mutex (threading.Lock is not reentrant)."""
        if self._state_dir:
            data = {
                **self._orphan_sources,
                **{f"{ns}/{id_}": s for (ns, id_), s in self._sources.items()},
            }
            write_json(self._path(), data, indent=1)

    # -- CRUD (api/mutators/index.js:5-8) --------------------------------
    def add(self, id: str, obj: Any, namespace: str = DEFAULT_NAMESPACE) -> None:
        validate_object_id(id, "id")
        if namespace != DEFAULT_NAMESPACE:
            validate_object_id(namespace, "namespace")
        # compile OUTSIDE the mutex (sandbox compilation can be slow),
        # publish + persist INSIDE it: threaded Flask serves concurrent
        # requests, and an unlocked dict write racing _save's iteration
        # (or another request's list/remove_namespace scan) throws
        # "dictionary changed size during iteration"
        entry = self.entry_cls(_as_namespace(obj))
        with self._mutex:
            self._entries[(namespace, id)] = entry
            # a (re)registration that compiles supersedes any stale
            # load failure for the same key: without this pop, GET
            # /_errors keeps reporting the old compile error until
            # restart even though the entry now loads and serves
            self.load_errors.pop(f"{namespace}/{id}", None)
            # bare-id orphans (malformed persisted keys) are addressed
            # by id regardless of namespace — same convention as
            # remove(): a proper registration supersedes the orphan, or
            # _save would re-emit the unloadable copy forever
            if self._orphan_sources.pop(id, None) is not None:
                self.load_errors.pop(id, None)
            if isinstance(obj, str):
                self._sources[(namespace, id)] = obj
            else:
                # replacing a code-string entry with an object must also
                # drop the persisted source, or a restart resurrects the
                # old code
                self._sources.pop((namespace, id), None)
            self._save_unlocked()

    def get(self, id: str, namespace: str = DEFAULT_NAMESPACE) -> Any:
        key = (namespace, id)
        if key not in self._entries:
            raise RegistryError(f"{self.name[:-1]} {namespace}/{id} does not exist")
        return self._entries[key]

    def exists(self, id: str, namespace: str = DEFAULT_NAMESPACE) -> bool:
        return (namespace, id) in self._entries

    def remove(self, id: str, namespace: str = DEFAULT_NAMESPACE) -> None:
        with self._mutex:
            self._entries.pop((namespace, id), None)
            self.load_errors.pop(f"{namespace}/{id}", None)
            removed_orphan = self._orphan_sources.pop(id, None) is not None
            if removed_orphan:
                self.load_errors.pop(id, None)
            if self._sources.pop((namespace, id), None) is not None or removed_orphan:
                self._save_unlocked()

    def remove_namespace(self, namespace: str) -> None:
        with self._mutex:
            # include quarantined load-failures: they may have a source
            # but no compiled entry
            keys = {k for k in self._entries if k[0] == namespace} | {
                k for k in self._sources if k[0] == namespace
            }
            for key in keys:
                self._entries.pop(key, None)
                self._sources.pop(key, None)
                self.load_errors.pop(f"{key[0]}/{key[1]}", None)
            self._save_unlocked()

    def list(self, namespace: Optional[str] = None) -> list[str]:
        with self._mutex:  # snapshot — don't iterate a mutating dict
            keys = list(self._entries)
        return [
            f"{ns}/{id_}"
            for (ns, id_) in sorted(keys)
            if namespace is None or ns == namespace
        ]

    # -- task-load path (mutators.js:97-122) -----------------------------
    def ensure_exist(self, refs: Iterable[ActionRef]) -> None:
        missing = [
            f"{r.namespace}/{r.id}" for r in refs if not self.exists(r.id, r.namespace)
        ]
        if missing:
            raise RegistryError(f"missing {self.name}: {missing}")

    def load(
        self, refs: Iterable[ActionRef], task_arguments: Optional[dict] = None
    ) -> list[Any]:
        """Resolve refs in order, binding per-action arguments with
        task-level fallback (mutators.js:100-101)."""
        out = []
        for r in refs:
            entry = self.get(r.id, r.namespace)
            out.append(entry.with_arguments(
                r.arguments if r.arguments is not None else task_arguments
            ))
        return out


class Mutators(_Registry):
    entry_cls = Mutator
    name = "mutators"

    def load_by_type(self, refs, task_arguments=None) -> dict[str, list[Mutator]]:
        by_type: dict[str, list[Mutator]] = {}
        for m in self.load(refs, task_arguments):
            by_type.setdefault(m.type, []).append(m)
        return by_type


class Filters(_Registry):
    entry_cls = Filter
    name = "filters"

    def load_by_type(self, refs, task_arguments=None) -> dict[str, list[Filter]]:
        by_type: dict[str, list[Filter]] = {}
        for f_ in self.load(refs, task_arguments):
            by_type.setdefault(f_.type, []).append(f_)
        return by_type
