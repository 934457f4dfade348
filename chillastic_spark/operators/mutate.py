"""The mutator-chain operator (SURVEY P1/P2, transfer.js:271-284).

Fold an ordered mutator list over each document: when
``predicate(doc, args)`` holds, replace the doc with
``mutate(doc, args)``; a null/empty result drops the row. Non-matching
docs pass through unmutated.

Data mutators are arbitrary dict→dict Python, so the operator runs as
``mapInPandas`` (Arrow batches, one Python roundtrip for the whole
chain — never one UDF per mutator). Column-expression fast paths for
the common rename/regex/date cases live in the queries layer; this is
the fully-general path.
"""
from __future__ import annotations

from typing import Any, Iterable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from chillastic_spark.sources import ENVELOPE_SCHEMA


def should_drop(doc: Any) -> bool:
    """Null/empty ⇒ drop (transfer.js:272: isUndefined/isNull/isEmpty)."""
    return doc is None or doc == {} or doc == [] or doc == ""


def apply_chain(doc: Any, mutators: list) -> Any:
    """Fold the chain over one object (dict). Driver-side use for
    index/template configs; executor-side for documents."""
    for m in mutators:
        if should_drop(doc):
            return None
        if m.predicate(doc, m.arguments):
            doc = m.mutate(doc, m.arguments)
    return None if should_drop(doc) else doc


def mutate_objects(objs: Iterable[dict], mutators: Optional[list]) -> list[dict]:
    """transfer.js:271-284 — list-in/list-out, drops removed."""
    if not mutators:
        return list(objs)
    out = []
    for obj in objs:
        r = apply_chain(obj, mutators)
        if r is not None:
            out.append(r)
    return out


# NOT "_quarantine": Elasticsearch rejects index names with a leading
# underscore, so the error side-channel itself would hard-fail bulk
# delivery on an ES destination — the exact failure it exists to absorb
QUARANTINE_INDEX = "chillastic-quarantine"


def apply_data_mutators(
    df: DataFrame,
    mutators: Optional[list],
    quarantine: bool = False,
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Apply data-type mutators to an envelope DataFrame.

    Each row becomes {_index,_type,_id,_source: dict,_size}; the mutated
    doc's envelope fields are written back (mutators may re-route
    _index — examples/mutators/indexDate.js). No-op without mutators.

    ``passthrough`` names extra columns carried through the fold
    unchanged, quarantined rows included (the engine's slice-group
    member tag); the mutator's doc never sees them. When mutators run,
    every other non-envelope column is dropped; without mutators ``df``
    is returned as is, every column kept.

    ``quarantine=True`` is the per-record error side-channel (SURVEY S5,
    the badRecordsPath analog of transfer.js:306-352's bulk-error
    handling): a doc whose mutator raises is routed to the
    ``QUARANTINE_INDEX`` index carrying the error + original payload
    instead of failing the whole slice. Default (False) propagates,
    matching the reference's subtask-level error logging.
    """
    if not mutators:
        return df

    # The closure must be SELF-CONTAINED: registered mutator functions
    # come from exec'd code (cloudpickled by value), but referencing any
    # chillastic_spark symbol would make executors import this package —
    # which isn't on the Python-worker path unless the user shipped it
    # (--py-files). Plain tuples + inline drop logic avoid that.
    chain = [(m.predicate, m.mutate, m.arguments) for m in mutators]
    do_quarantine = quarantine
    q_index = QUARANTINE_INDEX  # captured by value: closure stays self-contained
    keep = list(passthrough)
    columns = ["_index", "_type", "_id", "_source", "_size", *keep]

    def run(batches):
        import json as _json

        import pandas as _pd

        def _s(v, f):
            if v is None or isinstance(v, str):
                return v
            raise TypeError(
                f"mutator set {f} to {type(v).__name__}"
                f" (must be str or None): {v!r}"
            )

        def _drop(d):
            return d is None or d == {} or d == [] or d == ""

        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                try:
                    # decode INSIDE the guard: a corrupt _source string
                    # (truncated upstream write, hand-edited parquet) is
                    # per-record bad data — outside the try it would
                    # bypass the quarantine side-channel and kill the
                    # whole slice after retries
                    doc = {
                        "_index": rec["_index"],
                        "_type": rec["_type"],
                        "_id": rec["_id"],
                        "_source": _json.loads(rec["_source"]) if rec["_source"] else {},
                        "_size": rec.get("_size"),
                    }
                    for pred, mut, args in chain:
                        if _drop(doc):
                            doc = None
                            break
                        if pred(doc, args):
                            doc = mut(doc, args)
                    # serialize INSIDE the guard: a mutator returning a
                    # non-dict or non-JSON-serializable _source (e.g. a
                    # datetime) is user-code failure too — outside the
                    # try it would bypass the quarantine side-channel
                    # and kill the slice
                    out_row = None
                    if not _drop(doc):
                        # type-check the envelope INSIDE the guard: a
                        # mutator setting _index=20240101 (int) or
                        # _size='big' otherwise surfaces at the Arrow
                        # cast of the WHOLE batch (outside the
                        # per-record try) and kills the slice —
                        # exactly what quarantine exists to absorb
                        size = doc.get("_size")
                        # pandas hands a nullable int64 column over as
                        # float64: a NULL is nan and a real 10 is 10.0 —
                        # both legitimate. Reject only genuinely
                        # non-integral values (a mutator's _size='big'
                        # or 12.5), which would otherwise poison the
                        # whole batch's Arrow cast.
                        if isinstance(size, float):
                            size = None if size != size else (
                                int(size) if size.is_integer() else size
                            )
                        if size is not None and not isinstance(size, int):
                            raise TypeError(
                                f"mutator set _size to {type(size).__name__}"
                                f" (must be an integer or None): {size!r}"
                            )
                        out_row = {
                            "_index": _s(doc.get("_index"), "_index"),
                            "_type": _s(doc.get("_type"), "_type"),
                            "_id": _s(doc.get("_id"), "_id"),
                            "_source": _json.dumps(
                                doc.get("_source", {}), sort_keys=True
                            ),
                            "_size": size,
                            **{c: rec[c] for c in keep},
                        }
                except Exception as e:  # noqa: BLE001 — user-code boundary
                    if not do_quarantine:
                        raise
                    rows.append(
                        {
                            "_index": q_index,
                            "_type": rec["_type"],
                            "_id": f"{rec['_index']}/{rec['_id']}",
                            "_source": _json.dumps(
                                {
                                    "error": repr(e),
                                    "original_index": rec["_index"],
                                    "original_source": rec["_source"],
                                },
                                sort_keys=True,
                            ),
                            "_size": rec.get("_size"),
                            **{c: rec[c] for c in keep},
                        }
                    )
                    continue
                if out_row is None:
                    continue
                rows.append(out_row)
            yield _pd.DataFrame(rows, columns=columns)

    schema = T.StructType(
        [*ENVELOPE_SCHEMA.fields, *(df.schema[c] for c in keep)]
    )
    return df.mapInPandas(run, schema)
