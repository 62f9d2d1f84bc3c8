"""Result checks and summary statistics.

Every op's output is compared with an independent replay: top-k lists
with ``terrier_spark.oracle.bm25_topk`` over an oracle index built here
from the same documents, DML tables with a pandas replay of the same
ops.  The latency summary is the median and a fixed tail percentile.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from terrier_spark import oracle

SCORE_TOL = 1e-9
TAIL_PERCENTILE = 90.0
MIN_SAMPLES = 10


# --- latency summary --------------------------------------------------


def median(values: list[float]) -> float:
    return float(np.median(np.asarray(values, dtype=float)))


def tail(values: list[float]) -> float:
    """The TAIL_PERCENTILE-th percentile, interpolated linearly between
    the two nearest ranks.  The percentile does not depend on how many
    samples a run took, so fast and slow runs report the same
    statistic; a run takes at least MIN_SAMPLES samples."""
    if not values:
        raise ValueError("no samples")
    return float(np.percentile(np.asarray(values, dtype=float), TAIL_PERCENTILE))


# --- BM25 oracle ------------------------------------------------------


def postings_of(index: oracle.OracleIndex, query: str) -> int:
    """Σ df of the query's distinct terms (the postings a scorer must at
    least consider)."""
    return sum(index.df.get(t, 0) for t in set(oracle.tokenize(query)))


def topk_matches(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> bool:
    """Rank-identity up to ties: equal length, scores equal position by
    position within SCORE_TOL, and the same doc set at every score level
    that lies wholly inside the list.  At the last score level only
    membership among the oracle's docs of that score is checkable (the
    oracle breaks ties by doc_id; a merged live index by docno)."""
    if len(got) != len(want):
        return False
    for (_, gs), (_, ws) in zip(got, want):
        if not math.isclose(gs, ws, rel_tol=0.0, abs_tol=SCORE_TOL):
            return False
    if not want:
        return True
    last = want[-1][1]

    def groups(rows):
        out: dict[float, set] = {}
        for d, s in rows:
            out.setdefault(round(s, 9), set()).add(d)
        return out

    g, w = groups(got), groups(want)
    for s, docs in w.items():
        if s != round(last, 9) and g.get(s) != docs:
            return False
    return True


def topk_matches_oracle(
    got: list[tuple[str, float]], index: oracle.OracleIndex, query: str, k: int
) -> bool:
    """``got`` against the oracle's top-k; at the boundary score level any
    of the oracle's tied docs is accepted."""
    want = oracle.bm25_topk(index, query, k)
    if not topk_matches(got, want):
        return False
    if not want:
        return True
    last = round(want[-1][1], 9)
    at_last = {d for d, s in got if round(s, 9) == last}
    if at_last <= {d for d, _ in want}:
        return True
    tied = {d for d, s in oracle.bm25_topk(index, query, index.num_docs) if round(s, 9) == last}
    return at_last <= tied


# --- DML replay -------------------------------------------------------


def table_checksum(df: pd.DataFrame, columns: list[str]) -> tuple[int, int]:
    """(row count, order-independent 64-bit checksum of the rows)."""
    if df.empty:
        return 0, 0
    h = pd.util.hash_pandas_object(df[columns], index=False).to_numpy(dtype=np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


class DmlReplay:
    """pandas replay of DmlScript ops: the expected table after each op."""

    def __init__(self, table: pd.DataFrame, key: str):
        self.key = key
        self.t = table.set_index(key, drop=False)

    def apply(self, op: dict) -> int:
        """Apply one op; returns the rows it changes (deleted, upserted
        or updated)."""
        keys = op["keys"]
        if op["kind"] == "delete":
            self.t = self.t.drop(index=keys)
            return len(keys)
        if op["kind"] == "merge":
            rows = op["rows"].set_index(self.key, drop=False)
            self.t = pd.concat([self.t.drop(index=rows.index, errors="ignore"), rows])
            return len(rows)
        sel = self.t.index.isin(keys)
        self.t.loc[sel, "o_totalprice"] = self.t.loc[sel, "o_totalprice"] + op["delta"]
        self.t.loc[sel, "o_comment"] = op["comment"]
        return int(sel.sum())

    def checksum(self, columns: list[str]) -> tuple[int, int]:
        return table_checksum(self.t.reset_index(drop=True), columns)
