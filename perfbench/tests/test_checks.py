"""Output checks: a wrong top-k injected here must count as a failure."""

from types import SimpleNamespace

import pandas as pd
from checks import Checker, OracleCheck
from tracing import Spans
from workloads import Bench, Op, Run

TEXTS = [
    "alpha beta gamma", "alpha alpha delta", "beta gamma gamma", "delta epsilon",
    "alpha beta", "gamma", "", "epsilon epsilon alpha",
]
KEYS = [(f"conv-{i // 2:08d}", i % 2) for i in range(len(TEXTS))]
DOC = {k: i for i, k in enumerate(KEYS)}


class _Frame:
    def __init__(self, rows):
        self.rows = rows

    def select(self, *cols):
        return self

    def collect(self):
        return self.rows


def _bench(ops):
    run = Run(workload="queries", seed=7, ops=ops)
    b = Bench(None, Spans(), run, "/nonexistent", n_conv=4, batch_turns=0, trace=False)
    b.pdf = pd.DataFrame({"conv_id": [k[0] for k in KEYS], "turn_idx": [k[1] for k in KEYS], "text": TEXTS})
    b.texts = TEXTS
    b.loaded = SimpleNamespace(doc_stats=_Frame(
        [{"doc_id": d, "conv_id": k[0], "turn_idx": k[1]} for k, d in DOC.items()]))
    return b


def test_oracle_and_is_conjunctive():
    o = OracleCheck(TEXTS, KEYS, DOC)
    assert {d for d, _ in o.topk_and("alpha beta", 10)} == {0, 4}
    assert o.topk_and("alpha zzz", 10) == []


def test_injected_wrong_topk_counts_as_failure():
    o = OracleCheck(TEXTS, KEYS, DOC)
    right = o.topk("alpha gamma", 10)
    wrong = [(right[1][0], right[0][1]), (right[0][0], right[1][1])] + right[2:]
    ops = [
        Op("index.query.match", 0.1, query={"kind": "match", "text": "alpha gamma"}, result=right),
        Op("index.query.match", 0.1, query={"kind": "match", "text": "alpha gamma"}, result=wrong),
        Op("index.query.and", 0.1, query={"kind": "and", "text": "alpha beta"},
           result=o.topk_and("alpha beta", 10)),
    ]
    b = _bench(ops)
    b.check()
    assert (b.run.checker.checked, b.run.checker.failed) == (3, 1)


def test_failed_operation_counts():
    ops = [Op("index.query.match", 0.1, query={"kind": "match", "text": "alpha"}, error="boom")]
    b = _bench(ops)
    b.check()
    assert b.run.checker.failed == 1


def test_structural_checks():
    ck = Checker()
    assert ck.structural("ok", [(1, 2.0), (2, 1.0)], 10, {1, 2})
    assert not ck.structural("rising", [(1, 1.0), (2, 2.0)], 10)
    assert not ck.structural("dup", [(1, 2.0), (1, 1.0)], 10)
    assert not ck.structural("too many", [(1, 2.0), (2, 1.0)], 1)
    assert not ck.structural("dead", [(3, 2.0)], 10, {1, 2})
    assert (ck.checked, ck.failed) == (5, 4)
