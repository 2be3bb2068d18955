"""Result checks: canonical row digests and the DuckDB oracle.

The canonical form and the DuckDB views are the repo's own parity-test
code (``tests/oracle.py``), imported rather than copied: columns ordered
by name, every cell rendered with floats at 6 decimals (-0.0 folded into
0.0, NaN and NULL spelled out), rows sorted. Two results with the same
digest are the same multiset of rows under that canonicalization.
"""

from __future__ import annotations

import hashlib

from tests.oracle import canonical_rows, duck_connect


def digest(columns: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256("|".join(sorted(columns)).encode())
    for line in canonical_rows(columns, rows):
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


class Oracle:
    """DuckDB over the same parquet files the engine reads."""

    def __init__(self, data_dir: str) -> None:
        self.con = duck_connect(data_dir)

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.execute(sql)
        return [d[0] for d in rel.description], rel.fetchall()

    def check(self, sql: str, columns: list[str], rows: list[tuple]) -> str | None:
        """None when the engine's rows match the oracle's, else the reason."""
        d_cols, d_rows = self.rows(sql)
        if sorted(columns) != sorted(d_cols):
            return f"schema mismatch: engine={sorted(columns)} oracle={sorted(d_cols)}"
        if len(rows) != len(d_rows):
            return f"row count mismatch: engine={len(rows)} oracle={len(d_rows)}"
        a, b = canonical_rows(columns, rows), canonical_rows(d_cols, d_rows)
        if a != b:
            first = next((x, y) for x, y in zip(a, b) if x != y)
            return f"value mismatch, first: {first}"
        return None

    def close(self) -> None:
        self.con.close()
