"""The repo-local artifact cache root (``<repo>/.cache``).

Fixture stores, the synthesized corpus and every corpus-derived table
(the link graph, the near-dup edges, the contamination grams, the IVF
index, the partitioned and bucketed layouts) all live under one root,
with no exception. This helper is the ONLY place that computes it; the
derived tables' keys under it come from ``sources/tables.derived_dir``.
(``operators/_cache.py`` is unrelated: that is the eager-persist
registry, not a filesystem path.)
"""

from __future__ import annotations

import os

__all__ = ["cache_root"]

_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".cache")


def cache_root(*subdirs: str) -> str:
    """``<repo>/.cache[/sub/dirs]`` (not created — callers mkdir as
    part of their own write-once protocol)."""
    return os.path.join(_ROOT, *subdirs)
