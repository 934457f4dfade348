"""The one parser for ``CHILLASTIC_*`` environment knobs."""
from __future__ import annotations

import os
import sys
from typing import Callable, TypeVar

T = TypeVar("T")


def env_knob(name: str, default: T, parse: Callable[[str], T], expect: str) -> T:
    """``os.environ[name]`` through ``parse``, or ``default`` when unset.
    A malformed value (``parse`` raises ValueError) must neither break
    the import of an entry point nor crash the first caller: warn on
    stderr, naming what was ``expect``-ed, and fall back to ``default``."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return parse(raw)
    except ValueError:
        print(
            f"chillastic: {name}={raw!r} is not {expect}; using {default!r}",
            file=sys.stderr,
        )
        return default


def switch(raw: str) -> bool:
    """``"1"`` → on, ``"0"`` → off; anything else is malformed."""
    value = raw.strip()
    if value not in ("0", "1"):
        raise ValueError(raw)
    return value == "1"


# The one bounded "small enough to run on the driver" gate. Below this
# many rows, an iterative operator collects its input once and finishes
# on the driver instead of paying one Spark job (and its fixed cost) per
# round:
# - connected components: a pair graph of at most this many SYMMETRIC
#   edge rows (= 2× undirected edges) is labelled by one driver-side
#   union-find instead of the distributed fixpoint loop (sf0.1: 256
#   jaccard pairs, 1450 embedding pairs; each loop round is ~5 chained
#   shuffles plus a probe job);
# - backlog planning: a slice with at most this many DISTINCT ``_size``
#   values is planned from one collected size histogram instead of one
#   aggregate per refinement iteration.
# The gate is a row count, not a scale-factor constant: input over the
# cap takes the distributed path unchanged. 200k rows ≈ a few MB
# collected — the same order as a broadcast-join build side.
LOCAL_CAP_ENV = "CHILLASTIC_CC_LOCAL_CAP"
LOCAL_CAP_DEFAULT = 200_000


def local_cap() -> int:
    """``CHILLASTIC_CC_LOCAL_CAP``, the shared driver gate above, read
    per call (tests flip it). ``0`` (or less) never collects; a value
    that is not an integer falls back to the default."""
    return env_knob(LOCAL_CAP_ENV, LOCAL_CAP_DEFAULT, int, "an integer")
