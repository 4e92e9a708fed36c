"""Output checks: an exhaustive BM25 scorer over the stored segments and
the comparisons the benchmark counts as failed operations.

The scorer decodes every segment of the query's terms with
``codec.Segment.decode_all`` and sums impacts in ascending-term order in
float64, which is the engine's frozen scoring rule; ranking is
(score DESC, doc_id ASC). It shares no code with the Block-Max WAND
scorer it checks.
"""

from __future__ import annotations

import re

import numpy as np

_SPLIT = re.compile("[^a-z0-9]+")


def analyze(query: str) -> list[str]:
    """Frozen query analysis: lower-case, split, de-duplicate, ascending."""
    return sorted({t for t in _SPLIT.split(query.lower()) if t})


class Exhaustive:
    """Scores queries against a postings directory read once with pyarrow.

    The whole table is small at benchmark scale, so every term's
    postings are read (no bucket or row-group pruning, which the lanes
    under test do) and decoded up front."""

    def __init__(self, postings_path: str, deleted=frozenset()):
        import pyarrow.dataset as ds

        from documentindex_spark.operators.postings import row_to_segment

        deleted = frozenset(int(d) for d in deleted)
        self._postings: dict[str, list[tuple[int, float]]] = {}
        for r in ds.dataset(postings_path, format="parquet",
                            partitioning="hive").to_table().to_pylist():
            docs, _, imps = row_to_segment(r).decode_all()
            self._postings.setdefault(r["term"], []).extend(
                (d, s) for d, s in zip(docs.tolist(), imps.tolist())
                if d not in deleted
            )

    def scores(self, query: str) -> dict[int, float]:
        acc: dict[int, float] = {}
        for t in analyze(query):  # ascending-term float64 sum
            for d, s in self._postings.get(t, []):
                acc[d] = acc.get(d, 0.0) + s
        return acc

    def topk(self, query: str, k: int) -> list[tuple[int, float]]:
        ranked = sorted(self.scores(query).items(), key=lambda x: (-x[1], x[0]))
        return ranked[:k]

    def at_or_above(self, query: str, threshold: float) -> dict[int, float]:
        return {d: s for d, s in self.scores(query).items() if s >= threshold}

    def rank_score(self, query: str, rank: int) -> float:
        """The ``rank``-th best score (1-based), or the last one."""
        s = sorted(self.scores(query).values(), reverse=True)
        return s[min(rank, len(s)) - 1] if s else 0.0


class Tally:
    """Counts operations attempted and failed; keeps the first messages."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(what)
        return ok

    def fail(self, what: str) -> None:
        self.check(False, what)


def same_results(a, b) -> bool:
    """Exact (doc_id, score) list equality, floats compared bit-for-bit."""
    return [(int(d), float(s)) for d, s in a] == [
        (int(d), float(s)) for d, s in b
    ]


def rows_to_list(rows) -> list[tuple[int, float]]:
    """Spark rows with doc_id, score (and rank) → ranked (doc_id, score)."""
    out = [(int(r["doc_id"]), float(r["score"]), r["rank"]) for r in rows]
    out.sort(key=lambda x: x[2])
    return [(d, s) for d, s, _ in out]


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))
