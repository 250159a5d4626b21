"""Order-insensitive result fingerprints.

The canonical form is the repo's own (``tests/oracle_harness.py``):
results fetched through pandas, every value tagged with its type class,
columns sorted by name, rows sorted. Only the hash over that form lives
here, so the benchmark and the correctness tests cannot drift apart.
"""

from __future__ import annotations

import hashlib

from tests.oracle_harness import _pandas_rows, canonical_rows


def fingerprint(pdf, rows_only: bool = False) -> str:
    """sha256 over the canonical rows of a pandas frame (or, with
    ``rows_only``, over the row count alone)."""
    if rows_only:
        return hashlib.sha256(f"rows:{len(pdf)}".encode()).hexdigest()
    columns, rows = _pandas_rows(pdf)
    h = hashlib.sha256("\x1e".join(sorted(columns)).encode())
    for r in canonical_rows(columns, rows):
        h.update(b"\x1e" + "\x1f".join(r).encode())
    return h.hexdigest()
