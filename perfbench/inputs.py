"""Seeded inputs for every workload.

The workload seed is the only argument.  It picks the corpus slice (a
range of chunk indices into the shared document pool, each chunk being
a fixed range of document indices fed to ``terrier_spark.corpus``'s
per-row generator), the query stream and the DML keys.  Nothing here
touches Spark, so the tests can pin determinism without a session.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

# The document pool every workload slices: POOL_CHUNKS parquet files of
# CHUNK_DOCS documents each (chunk c holds document indices
# [c * CHUNK_DOCS, (c + 1) * CHUNK_DOCS)).
CHUNK_DOCS = 500
POOL_CHUNKS = 80

# Query shapes, cycled in this order: the df stratum of each term.  The
# seed draws the terms; the fixed shape cycle keeps the mix of cheap
# (tail-only) and expensive (head-term) queries the same in every run.
QUERY_SHAPES = (
    ("head",), ("tail",), ("middle",), ("head", "middle"),
    ("middle", "tail"), ("head", "tail", "middle"), ("middle", "middle"),
    ("head", "middle", "tail", "tail"),
)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, named stream), so adding a new
    stream never shifts the values another stream draws."""
    return np.random.default_rng([int(seed) & 0xFFFFFFFF, zlib.crc32(stream.encode())])


def chunk_slice(seed: int, n_chunks: int, stream: str) -> list[int]:
    """``n_chunks`` consecutive pool chunks at a seeded offset."""
    if not 0 < n_chunks <= POOL_CHUNKS:
        raise ValueError(f"n_chunks must be in 1..{POOL_CHUNKS}, got {n_chunks}")
    start = int(rng_for(seed, stream).integers(0, POOL_CHUNKS - n_chunks + 1))
    return list(range(start, start + n_chunks))


def df_strata(df: dict[str, int], num_docs: int) -> dict[str, list[str]]:
    """Sorted term lists of the head (df >= half the docs), middle and
    tail (df <= 1% of the docs, at least 2) of the df distribution."""
    head = sorted(t for t, d in df.items() if d >= num_docs / 2)
    tail = sorted(t for t, d in df.items() if 2 <= d <= max(2, num_docs // 100))
    middle = sorted(
        t for t, d in df.items() if max(2, num_docs // 100) < d < num_docs / 2
    )
    return {"head": head, "middle": middle, "tail": tail}


def query_stream(seed: int, df: dict[str, int], num_docs: int, n: int) -> list[str]:
    """``n`` queries; query i has the shape QUERY_SHAPES[i % len] and
    its terms are drawn by the seed from those strata of the indexed
    corpus's df distribution (an empty stratum borrows the middle's, or
    any non-empty one's, terms)."""
    strata = df_strata(df, num_docs)
    fallback = strata["middle"] or strata["head"] or strata["tail"]
    if not fallback:
        raise ValueError("empty lexicon: no query terms to draw")
    rng = rng_for(seed, "search.queries")
    out = []
    for i in range(n):
        terms = []
        for stratum in QUERY_SHAPES[i % len(QUERY_SHAPES)]:
            pool = strata[stratum] or fallback
            terms.append(pool[int(rng.integers(0, len(pool)))])
        out.append(" ".join(terms))
    return out


# --- DML --------------------------------------------------------------

ORDER_STATUS = np.array(["F", "O", "P"], dtype=object)
ORDER_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
)
ORDERS_COLUMNS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority", "o_comment",
]


def _orders_rows(rng: np.random.Generator, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    days = rng.integers(0, 2400, size=n)
    dates = (np.datetime64("1992-01-01") + days.astype("timedelta64[D]")).astype(str)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(1, 15_000, size=n).astype(np.int64),
            "o_orderstatus": ORDER_STATUS[rng.integers(0, 3, size=n)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, size=n), 2),
            "o_orderdate": dates.astype(object),
            "o_orderpriority": ORDER_PRIORITY[rng.integers(0, 5, size=n)],
            "o_comment": np.array(
                [f"c{int(x):08x}" for x in rng.integers(0, 1 << 32, size=n)],
                dtype=object,
            ),
        },
        columns=ORDERS_COLUMNS,
    )


def orders_table(seed: int, n_rows: int) -> pd.DataFrame:
    """An ``orders``-shaped table (TPC-H column names) with keys
    1..n_rows and seeded values."""
    return _orders_rows(rng_for(seed, "dml.table"), np.arange(1, n_rows + 1))


class DmlScript:
    """Seeded stream of keyed DML ops that keeps the table size steady.

    Ops cycle delete -> merge -> update: a delete removes ``keys_per_op``
    live keys, the following merge updates ``keys_per_op`` live keys and
    inserts as many new ones as the delete removed, and an update changes
    ``keys_per_op`` live keys.  The script tracks the live key set itself,
    so the same seed yields the same ops whatever the engine does."""

    KINDS = ("delete", "merge", "update")

    def __init__(self, seed: int, n_rows: int, keys_per_op: int = 20):
        self.rng = rng_for(seed, "dml.ops")
        self.keys = list(range(1, n_rows + 1))
        self.pos = {k: i for i, k in enumerate(self.keys)}
        self.next_key = n_rows + 1
        self.k = keys_per_op
        self.n_ops = 0
        self.pending_inserts = 0

    def _pick(self, n: int) -> list[int]:
        idx = self.rng.choice(len(self.keys), size=n, replace=False)
        return sorted(self.keys[int(i)] for i in idx)

    def _remove(self, keys: list[int]) -> None:
        for key in keys:
            i = self.pos.pop(key)
            last = self.keys.pop()
            if i < len(self.keys):
                self.keys[i] = last
                self.pos[last] = i

    def _add(self, keys: list[int]) -> None:
        for key in keys:
            self.pos[key] = len(self.keys)
            self.keys.append(key)

    def next_op(self) -> dict:
        """One op: {"kind", "keys"} plus, for a merge, ``rows`` (the
        source frame) and, for an update, ``delta`` and ``comment``."""
        kind = self.KINDS[self.n_ops % 3]
        self.n_ops += 1
        if kind == "delete":
            keys = self._pick(self.k)
            self._remove(keys)
            self.pending_inserts += len(keys)
            return {"kind": kind, "keys": keys}
        if kind == "merge":
            upd = self._pick(self.k)
            new = list(range(self.next_key, self.next_key + self.pending_inserts))
            self.next_key += len(new)
            self.pending_inserts = 0
            self._add(new)
            rows = _orders_rows(self.rng, np.asarray(upd + new, dtype=np.int64))
            return {"kind": kind, "keys": upd + new, "rows": rows}
        keys = self._pick(self.k)
        return {
            "kind": kind,
            "keys": keys,
            "delta": float(self.rng.integers(1, 100)) / 4.0,
            "comment": f"u{self.n_ops:06d}",
        }
