"""Output check: each query's result against its DuckDB oracle, or, for
rows-only queries (no oracle), against a pinned row count and
order-insensitive hash."""

from __future__ import annotations

import hashlib

import pandas as pd

from iris_pyspark_spark.testing import canonical_rows, compare_frames

#: Rows-only queries: (row count, sha256 of the sorted canonical rows) on
#: the data set `datagen.write(dir, SF, DATA_SEED)` builds (see run.py).
#: Regenerate with `digest()` if the data set changes.
PINNED: dict[str, tuple[int, str]] = {
    "n_minhash_lsh": (91, "39d8fb1843753582b5cfc4779c714a90392fa0bfe9d6ff2f8afd002f20d191dc"),
}


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: sha256 over its sorted,
    canonicalized rows (the driver's cell canonicalization)."""
    h = hashlib.sha256()
    for row in canonical_rows(pdf):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def check(query, pdf: pd.DataFrame, oracle_con) -> str | None:
    """None when `pdf` is the right answer for `query`, else why not."""
    if query.oracle is not None:
        result = compare_frames(pdf, oracle_con.execute(query.oracle).df())
        return None if result.ok else result.detail
    if query.name not in PINNED:
        return "rows-only query with no pinned hash"
    rows, sha = PINNED[query.name]
    got = (len(pdf), digest(pdf))
    return None if got == (rows, sha) else f"pinned {(rows, sha)}, got {got}"
