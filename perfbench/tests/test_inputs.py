"""The seeded generator: same seed, same inputs; absent terms are absent."""

import inputs


def test_corpus_is_seeded():
    a, b, c = inputs.corpus(3, 40), inputs.corpus(3, 40), inputs.corpus(4, 40)
    assert a.equals(b)
    assert not a["text"].equals(c["text"])
    assert a["turn_idx"].between(0, 11).all()
    assert (inputs.corpus_turn_counts(3, 40) == a.groupby("conv_id").size().to_numpy()).all()


def test_streams_are_seeded_and_banded():
    texts = inputs.corpus(5, 200)["text"].tolist()
    assert inputs.point_queries(5, 50) == inputs.point_queries(5, 50)
    assert inputs.heavy_queries(5, 50, texts) == inputs.heavy_queries(5, 50, texts)
    vocab = set(inputs.VOCAB)
    for q in inputs.point_queries(5, 200):
        for t in q["text"].split():
            assert t not in vocab or inputs.RANK[t] >= inputs.WARM_RANKS
            assert t in vocab or not any(t in x.split() for x in texts)
    for q in inputs.heavy_queries(5, 100, texts):
        if q["kind"] == "phrase":
            assert any(q["text"] in x for x in texts)
        if q["kind"] in ("match", "and"):
            assert all(inputs.RANK[t] < inputs.HOT_RANKS for t in q["text"].split())


def test_warmup_stays_outside_the_timed_streams():
    qs = inputs.warmup_queries(5)
    assert qs == inputs.warmup_queries(5)
    assert len(qs) == 3 * inputs.WARMUP_ROUNDS
    for q in qs:
        assert all(inputs.HOT_RANKS <= inputs.RANK[t] < inputs.WARM_RANKS for t in q["text"].split())


def test_upsert_batch_halves():
    base = inputs.corpus(9, 300)
    batch = inputs.upsert_batch(9, 300, 0, 200)
    keys = set(zip(base["conv_id"], base["turn_idx"]))
    old = [k in keys for k in zip(batch["conv_id"], batch["turn_idx"])]
    assert 80 <= sum(old) <= 120 and len(old) - sum(old) > 50
    assert batch.equals(inputs.upsert_batch(9, 300, 0, 200))
    later = inputs.upsert_batch(9, 300, 1, 200)
    new_later = set(later["conv_id"]) - set(base["conv_id"])
    assert not new_later & set(batch["conv_id"])
