"""Runtime capability probes for optional decoder libraries.

The PDF kernel defaults to ``fake=None`` = "use the real decoder
if its library is importable, else the deterministic fake". This keeps
the container honest (no hard-coded fake in an env that has codecs) and
keeps every Spark-side shape testable in an env that doesn't.

Probes are evaluated once per Python worker process and cached — an
import attempt per Arrow batch would be wasteful.
"""

from __future__ import annotations

import importlib.util
from functools import lru_cache


@lru_cache(maxsize=None)
def has_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except (ImportError, ValueError):
        return False


def has_pypdf() -> bool:
    return has_module("pypdf") or has_module("PyPDF2")


def resolve_fake(fake: bool | None, probe) -> bool:
    """None -> probe decides (real decoder when available); explicit
    True/False is respected as given."""
    if fake is None:
        return not probe()
    return fake
