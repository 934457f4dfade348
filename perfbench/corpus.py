"""Seeded inputs for the reindex workloads and their independent reference.

Everything here is plain Python and NumPy: no Spark and no import of the
engine, so the expected destination is computed without any of the code
under test.

Corpus shape (the reference's dated-log rollup, README "Quick start"):

* ``days`` daily source indices ``logs_2024-01-DD``, each with the same
  ``types``; every (index, type) slice holds the same number of documents,
  so a seed changes the content but never the amount of work;
* each ``_source`` is a ~0.8 KB JSON log record with a ``score`` in [0, 1);
* ``_id`` is unique across the whole corpus, so the monthly rollup never
  merges two source documents onto one key.

The registered mutator (``MUTATOR_SOURCE``) reroutes each daily index to
its month, drops documents whose ``score`` is below ``DROP_BELOW`` and adds
a ``rollup_day`` field. ``mutate_reference`` is its independent twin.
"""
from __future__ import annotations

import hashlib
import json
import re
from dataclasses import dataclass

import numpy as np

DROP_BELOW = 0.05

# Registered through Engine.mutators.add: runs inside the engine's
# mapInPandas fold, in the registry sandbox (``re`` is pre-seeded there).
MUTATOR_SOURCE = '''
TYPE = "data"
DAILY = re.compile(r"^(.*_\\d{4}-\\d{2})-(\\d{2})$")
def predicate(doc, args):
    return bool(DAILY.match(doc["_index"] or ""))
def mutate(doc, args):
    if doc["_source"].get("score", 1.0) < args["drop_below"]:
        return None
    m = DAILY.match(doc["_index"])
    doc["_index"] = m.group(1)
    doc["_source"]["rollup_day"] = m.group(2)
    return doc
'''
MUTATOR_ARGS = {"drop_below": DROP_BELOW}

_DAILY = re.compile(r"^(.*_\d{4}-\d{2})-(\d{2})$")

_WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu request response timeout upstream downstream cache miss "
    "hit retry backoff shard replica primary index bulk scroll merge flush "
    "segment refresh mapping template alias node cluster heap gc pause thread "
    "queue reject accept latency p99 error warn info debug trace span".split()
)
_HOSTS = np.array([f"web-{i:02d}" for i in range(24)])
_LEVELS = np.array(["DEBUG", "INFO", "INFO", "INFO", "WARN", "ERROR"])
# message length in characters, uniform over this range: ~0.8 KB of
# _source per document on average. The engine splits each (index, type)
# into subtasks at the 60% and 90% points of the size range, so sizes
# uniform between hard edges, not a bell curve with seed-dependent
# extremes, keep that split (about 60/30/10% of the documents), and so the
# work, the same for every seed
MSG_CHARS = (300, 1000)


MONTH = "2024-01"


@dataclass(frozen=True)
class CorpusSpec:
    docs_per_slice: int
    days: int
    types: tuple = ("access", "app")

    def indices(self) -> list:
        return [f"logs_{MONTH}-{d:02d}" for d in range(1, self.days + 1)]

    @property
    def n_docs(self) -> int:
        return self.docs_per_slice * self.days * len(self.types)


def _record(rng: np.random.Generator, day: int, rev: int) -> dict:
    n = int(rng.integers(*MSG_CHARS, endpoint=True))
    words = _WORDS[rng.integers(0, len(_WORDS), n // 2)]  # >= n characters
    return {
        "ts": f"{MONTH}-{day:02d}T{int(rng.integers(0, 24)):02d}:"
        f"{int(rng.integers(0, 60)):02d}:{int(rng.integers(0, 60)):02d}Z",
        "host": str(_HOSTS[rng.integers(0, len(_HOSTS))]),
        "level": str(_LEVELS[rng.integers(0, len(_LEVELS))]),
        "status": int(rng.choice([200, 200, 200, 201, 304, 404, 500])),
        "bytes": int(rng.integers(64, 1 << 20)),
        "score": round(float(rng.random()), 6),
        "rev": rev,
        "msg": " ".join(words.tolist())[:n],
    }


def envelope(index: str, type_: str, id_: str, source: dict) -> tuple:
    """(_index, _type, _id, _source, _size) with the engine's envelope
    layout: ``_source`` is a JSON string and ``_size`` its byte length."""
    s = json.dumps(source, sort_keys=True)
    return (index, type_, id_, s, len(s.encode()))


def generate(spec: CorpusSpec, seed: int) -> dict:
    """{index: [envelope rows]} for the rollup source. Same seed, same
    bytes; ids embed the seed so two seeds never share a key."""
    rng = np.random.default_rng([seed, 1])
    out: dict = {}
    n = 0
    for day, index in enumerate(spec.indices(), start=1):
        rows = []
        for type_ in spec.types:
            for _ in range(spec.docs_per_slice):
                id_ = f"s{seed}-{n:07d}-{int(rng.integers(0, 1 << 32)):08x}"
                rows.append(envelope(index, type_, id_, _record(rng, day, 1)))
                n += 1
        out[index] = rows
    return out


def generate_delta(source: dict, share: float, seed: int) -> dict:
    """A seeded ``share`` of the source documents re-delivered with new
    content under the same keys (the incremental re-delivery). Every
    slice gets the same number of changed documents."""
    rng = np.random.default_rng([seed, 2])
    out: dict = {}
    for index, rows in source.items():
        day = int(_DAILY.match(index).group(2))
        by_type: dict = {}
        for r in rows:
            by_type.setdefault(r[1], []).append(r)
        picked = []
        for type_ in sorted(by_type):
            slice_rows = by_type[type_]
            k = max(1, round(len(slice_rows) * share))
            for i in sorted(rng.choice(len(slice_rows), k, replace=False)):
                _, _, id_, _, _ = slice_rows[i]
                picked.append(envelope(index, type_, id_, _record(rng, day, 2)))
        out[index] = picked
    return out


def mutate_reference(row: tuple):
    """The registered mutator re-implemented on an envelope row: the
    destination row it yields, or None when the document is dropped."""
    index, type_, id_, s, size = row
    m = _DAILY.match(index or "")
    if not m:
        return row
    src = json.loads(s)
    if src.get("score", 1.0) < DROP_BELOW:
        return None
    src["rollup_day"] = m.group(2)
    return (m.group(1), type_, id_, json.dumps(src, sort_keys=True), size)


def expected_destination(*deliveries: dict) -> dict:
    """{(_index,_type,_id): row} after MERGE-ing each delivery in order
    into an empty destination: a later row replaces an earlier one with
    the same key; a dropped document leaves the existing row alone."""
    dest: dict = {}
    for delivery in deliveries:
        for rows in delivery.values():
            for row in rows:
                out = mutate_reference(row)
                if out is not None:
                    dest[out[:3]] = out
    return dest


def row_digest(index: str, type_: str, id_: str, source: str) -> tuple:
    """Two 32-bit halves of md5(_index US _type US _id US _source): the
    same value Spark's ``md5(concat_ws(chr(31), ...))`` yields, summed
    order-independently on both sides."""
    h = hashlib.md5("\x1f".join((index, type_, id_, source)).encode()).hexdigest()
    return int(h[:8], 16), int(h[8:16], 16)


def fingerprint(rows) -> tuple:
    """(count, sum of high halves, sum of low halves) over
    (_index,_type,_id,_source) rows — independent of row order."""
    n = hi = lo = 0
    for index, type_, id_, source, *_ in rows:
        a, b = row_digest(index, type_, id_, source)
        n, hi, lo = n + 1, hi + a, lo + b
    return n, hi, lo


def input_digest(corpus: dict) -> str:
    """sha256 over every generated row, for the determinism tests."""
    h = hashlib.sha256()
    for index in sorted(corpus):
        for row in corpus[index]:
            h.update(repr(row).encode())
    return h.hexdigest()
