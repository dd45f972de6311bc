"""Order-insensitive output digests.

A digest is ``(row count, sha1 of the sorted canonical rows)``. Columns
are taken in lower-cased name order and each cell is normalized by the
repository's oracle gate (``tools/check.py``), so a Spark result and its
DuckDB oracle twin digest equal exactly when the gate would pass.
"""

from __future__ import annotations

import hashlib

from tools.check import norm_cell


def digest(cols: list[str], rows) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha1()
    h.update("\x1f".join(cols[i].lower() for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return len(lines), h.hexdigest()


def spark_digest(df) -> tuple[int, str]:
    rows = [tuple(r) for r in df.collect()]
    return digest(list(df.columns), rows)
