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

