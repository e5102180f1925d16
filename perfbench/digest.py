"""Order-independent result digests, normalized the way the parity gate
compares results.

A digest covers the column names, the per-column value types and the
sorted, normalized rows, so two results share a digest exactly when
``scripts/check_parity.py`` would call them equal: type-strict, doubles
rounded to 6 places, row order ignored.
"""

from __future__ import annotations

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from check_parity import col_kinds, norm_rows  # noqa: E402


def digest(cols, rows) -> str:
    """Hex digest of a result given its column names and row tuples."""
    rows = [tuple(r) for r in rows]
    sorted_cols, sorted_rows = norm_rows(cols, rows)
    kinds = col_kinds(cols, rows)
    h = hashlib.sha256()
    h.update(repr(sorted_cols).encode())
    h.update(repr([sorted(kinds[c]) for c in sorted_cols]).encode())
    for r in sorted_rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()
