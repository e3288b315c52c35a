"""Output checks, run outside the timed window on a seeded sample.

* match and AND results on the static corpus must be rank- and
  score-identical (6 dp) to ``oracle.OracleIndex``;
* exact phrases must equal ``topk_phrase_dataframe``;
* ingest probes must equal ``topk_dataframe`` on the reloaded store;
* slop phrases and bool queries get structural checks: at most k rows,
  non-increasing scores, unique live doc ids.

Every mismatch, like every exception, counts as a failed operation.
"""

from __future__ import annotations

import sys
import traceback

from rabbit_index_ingest_spark.analysis import py_tokenize
from rabbit_index_ingest_spark.oracle import OracleIndex

DP = 6


def rows_of(collected) -> list[tuple[int, float]]:
    """Spark rows → [(doc_id, score rounded to 6 dp)]."""
    return [(int(r["doc_id"]), round(float(r["score"]), DP)) for r in collected]


class Checker:
    """Counts checked operations and the failures among them."""

    def __init__(self, log=sys.stderr):
        self.checked = 0
        self.failed = 0
        self.log = log

    def _fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"CHECK FAILED {what}: {detail}", file=self.log)

    def equal(self, what: str, got: list, expected: list) -> bool:
        self.checked += 1
        if got != expected:
            self._fail(what, f"got {got[:3]}... expected {expected[:3]}...")
            return False
        return True

    def structural(self, what: str, got: list, k: int, live: set[int] | None = None) -> bool:
        """≤k rows, non-increasing scores, unique doc ids, none dead."""
        self.checked += 1
        ids = [d for d, _ in got]
        scores = [s for _, s in got]
        problems = []
        if len(got) > k:
            problems.append(f"{len(got)} rows > k={k}")
        if any(b > a for a, b in zip(scores, scores[1:])):
            problems.append("scores increase")
        if len(set(ids)) != len(ids):
            problems.append("duplicate doc ids")
        if live is not None and any(d not in live for d in ids):
            problems.append("dead or unknown doc id")
        if problems:
            self._fail(what, "; ".join(problems))
            return False
        return True

    def error(self, what: str, detail: str) -> None:
        """An operation that raised: one checked, one failed."""
        self.checked += 1
        self._fail(what, detail)

    def run(self, what: str, fn) -> None:
        """Run one check; an exception in it counts as a failure."""
        try:
            fn()
        except Exception:  # a broken check must count, not abort the run
            self.error(what, traceback.format_exc(limit=3))


class OracleCheck:
    """Oracle top-k over the static corpus, mapped to engine doc ids."""

    def __init__(self, texts: list[str], keys: list[tuple], key_to_doc: dict):
        self.oracle = OracleIndex.build(list(zip(keys, texts)))
        self.key_to_doc = key_to_doc

    def topk(self, query: str, k: int) -> list[tuple[int, float]]:
        return [(self.key_to_doc[key], round(s, DP)) for key, s in self.oracle.topk(query, k)]

    def topk_and(self, query: str, k: int) -> list[tuple[int, float]]:
        """Conjunctive top-k: docs holding every query term, BM25-summed,
        ties by ascending key (the oracle's own order)."""
        terms = sorted(set(py_tokenize(query)))
        posts = [self.oracle.postings.get(t, {}) for t in terms]
        if not terms or not all(posts):
            return []
        both = set(posts[0]).intersection(*posts[1:])
        scored = {key: s for key, s in self.oracle.score(query).items() if key in both}
        best = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [(self.key_to_doc[key], round(s, DP)) for key, s in best]
