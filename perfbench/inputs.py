"""Seeded inputs for the benchmark: corpus, query streams, upsert batches.

Everything here is a pure function of ``(seed, size)`` and owned by the
benchmark, so an edit to the program (including its own ``datagen``)
cannot move the inputs. The corpus is shaped like the ``transcripts``
fixture: one row per conversation turn, 5-120 tokens drawn from a
5,000-term Zipf(1.1) vocabulary, ~1% empty texts, ~10% tool turns,
planted sentinel phrases and a few unicode rows.

Vocabulary rank bands split the query streams:

* ranks 0-99     hot head: ``heavy_queries`` (terms repeat across
                 queries); the ingest probes draw from ranks 0-49
* ranks 100-499  warm-up queries only (never in a timed stream)
* ranks 500+     ``point_queries``
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB_SIZE = 5000
ZIPF_S = 1.1
HOT_RANKS = 100
WARM_RANKS = 500
SENTINELS = [
    "aurora quartz meridian",
    "basalt heron ledger",
    "cobalt lantern orbit",
]
UNICODE_SNIPPET = "café naïve 東京 résumé 😀 Ωmega"
TOOLS = ["bash", "search", "browser"]
BASE_TS = pd.Timestamp("2026-01-01T00:00:00Z")
CORPUS_VERSION = 1  # bump when the generator changes; keys the disk cache

_SYL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"][:60]


def vocabulary() -> list[str]:
    """5,000 distinct 3-syllable pseudo-words; index = Zipf rank."""
    n = len(_SYL)
    return [
        _SYL[i % n] + _SYL[(i // n) % n] + _SYL[(i // (n * n)) % n]
        for i in range(VOCAB_SIZE)
    ]


VOCAB = vocabulary()
RANK = {w: i for i, w in enumerate(VOCAB)}


def absent_term(rng: np.random.Generator) -> str:
    """A token that no corpus text contains (vocabulary words never hold
    'x' or 'q')."""
    return "qx" + "".join(rng.choice(list("aeiou"), 4))


def _zipf_cdf() -> np.ndarray:
    w = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** (-ZIPF_S)
    return np.cumsum(w / w.sum())


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *stream])


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """n texts of 5-120 Zipf tokens; ~1% empty; sentinels and unicode
    planted in a seeded sample of rows."""
    n_tok = rng.integers(5, 121, n)
    n_tok[rng.random(n) < 0.01] = 0
    ids = np.searchsorted(_zipf_cdf(), rng.random(int(n_tok.sum())))
    ids = np.minimum(ids, VOCAB_SIZE - 1)
    words = np.array(VOCAB, dtype=object)[ids]
    ends = np.cumsum(n_tok)
    out = [" ".join(words[e - c:e]) for e, c in zip(ends.tolist(), n_tok.tolist())]
    plant = rng.random(n)
    for i in np.flatnonzero((plant < 0.006) & (n_tok > 0)).tolist():
        out[i] += " " + SENTINELS[i % len(SENTINELS)]
    for i in np.flatnonzero((plant > 0.998) & (n_tok > 0)).tolist():
        out[i] += " " + UNICODE_SNIPPET
    return out


def _conversations(rng: np.random.Generator, conv_ids: np.ndarray) -> pd.DataFrame:
    turns = rng.integers(2, 13, len(conv_ids))
    conv = np.repeat(conv_ids, turns)
    turn_idx = np.concatenate([np.arange(t) for t in turns]).astype(np.int32)
    n = len(conv)
    is_tool = rng.random(n) < 0.10
    role = np.where(is_tool, "tool", np.where(turn_idx % 2 == 0, "user", "assistant"))
    tool = np.where(is_tool, np.array(TOOLS, dtype=object)[turn_idx % 3], None)
    return pd.DataFrame(
        {
            "conv_id": [f"conv-{c:08d}" for c in conv.tolist()],
            "turn_idx": turn_idx,
            "role": role,
            "text": _texts(rng, n),
            "tool": tool,
            "ts": BASE_TS
            + pd.to_timedelta(conv.astype(np.int64) * 900 + turn_idx * 13, unit="s"),
        }
    )


def corpus(seed: int, n_conv: int) -> pd.DataFrame:
    """The seeded transcript corpus (~7 turns per conversation)."""
    return _conversations(_rng(seed, 1, n_conv), np.arange(n_conv))


def corpus_parquet(seed: int, n_conv: int, cache_dir: str) -> str:
    """Path of the corpus as one parquet file, generated on first use and
    cached under ``cache_dir`` keyed by (generator version, seed, size)."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"corpus-v{CORPUS_VERSION}-s{seed}-n{n_conv}.parquet")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        corpus(seed, n_conv).to_parquet(
            tmp, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.replace(tmp, path)
    return path


# ---------------- query streams ----------------


def _terms(rng: np.random.Generator, lo: int, hi: int, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.choice(np.arange(lo, hi), n, replace=False)]


def point_queries(seed: int, n: int) -> list[dict]:
    """1-3 terms drawn uniformly from ranks >= 500 (the count cycles
    1, 2, 3); every 10th query carries an absent term. Every query is a
    ``topk_blockmax`` match."""
    rng = _rng(seed, 2)
    out = []
    for i in range(n):
        q = _terms(rng, WARM_RANKS, VOCAB_SIZE, 1 + i % 3)
        if i % 10 == 9:
            q[int(rng.integers(len(q)))] = absent_term(rng)
        out.append({"kind": "match", "text": " ".join(q)})
    return out


def _phrase_from_corpus(rng: np.random.Generator, texts: list[str], n_terms: int, lo: int, hi: int) -> str:
    """A phrase of consecutive tokens, all in vocabulary ranks [lo, hi),
    lifted from a seeded corpus row so it is known to match."""
    while True:
        toks = texts[int(rng.integers(len(texts)))].split()
        starts = [
            s for s in range(len(toks) - n_terms + 1)
            if all(lo <= RANK.get(t, -1) < hi for t in toks[s:s + n_terms])
        ]
        if starts:
            s = starts[int(rng.integers(len(starts)))]
            return " ".join(toks[s:s + n_terms])


# The heavy stream's fixed kind pattern, 20 long: 8 match (2-4 terms),
# 4 AND (2-3 terms), 5 phrase (3 slop 0, 2 slop 2), 3 bool. The slowest
# kinds come first, so a short window still runs a bool, an AND and a
# phrase.
HEAVY_PATTERN = [
    ("bool", 0), ("and", 2), ("phrase", 0), ("match", 2), ("phrase", 2),
    ("match", 3), ("match", 4), ("and", 3), ("match", 2), ("phrase", 0),
    ("bool", 0), ("match", 3), ("and", 2), ("phrase", 2), ("match", 4),
    ("phrase", 0), ("and", 3), ("match", 2), ("bool", 0), ("match", 3),
]


def heavy_queries(seed: int, n: int, texts: list[str]) -> list[dict]:
    """Hot-head queries (ranks 0-99) in the fixed ``HEAVY_PATTERN`` of
    kinds; the seed draws the terms. ``texts`` are corpus texts; phrases
    are lifted from them."""
    rng = _rng(seed, 3)
    out = []
    for i in range(n):
        kind, arg = HEAVY_PATTERN[i % len(HEAVY_PATTERN)]
        if kind == "match":
            out.append({"kind": kind, "text": " ".join(_terms(rng, 0, HOT_RANKS, arg))})
        elif kind == "and":
            out.append({"kind": kind, "text": " ".join(_terms(rng, 0, 40, arg))})
        elif kind == "phrase":
            out.append({
                "kind": kind,
                "text": _phrase_from_corpus(rng, texts, 2, 0, HOT_RANKS),
                "slop": arg,
            })
        else:
            must, boosted = _terms(rng, 0, HOT_RANKS, 2)
            out.append({
                "kind": kind,
                "must": must,
                "phrase": _phrase_from_corpus(rng, texts, 2, 0, HOT_RANKS),
                "boosted": boosted,
                "boost": 2.0,
                "must_not": VOCAB[int(rng.integers(WARM_RANKS, 2 * WARM_RANKS))],
            })
    return out


WARMUP_ROUNDS = 3


def warmup_queries(seed: int) -> list[dict]:
    """Untimed match queries on ranks 100-499, outside both timed
    streams: ``WARMUP_ROUNDS`` rounds of 1, 2 and 3 terms (the point
    stream's shapes), so warm-up compiles the point path's plans and
    starts its Python workers but fills no cache a timed query reads."""
    rng = _rng(seed, 4)
    return [
        {"kind": "match", "text": " ".join(_terms(rng, HOT_RANKS, WARM_RANKS, n))}
        for _ in range(WARMUP_ROUNDS) for n in (1, 2, 3)
    ]


PROBE_RANKS = 50


def probe_queries(seed: int, batch: int, n: int) -> list[dict]:
    """Match queries run after each ingest cycle: 1-2 terms (the count
    alternates) drawn Zipf-weighted from the 50 hottest ranks, so every
    probe reads many blocks through the tombstone path and the probes of a
    cycle are alike."""
    rng = _rng(seed, 5, batch)
    w = np.arange(1, PROBE_RANKS + 1, dtype=np.float64) ** (-ZIPF_S)
    sizes = [1 + j % 2 for j in range(n)]
    # without replacement: no probe of a cycle repeats another's term
    ranks = rng.choice(PROBE_RANKS, sum(sizes), replace=False, p=w / w.sum()).tolist()
    ends = np.cumsum(sizes).tolist()
    return [
        {"kind": "match", "text": " ".join(VOCAB[i] for i in ranks[e - k:e])}
        for e, k in zip(ends, sizes)
    ]


# ---------------- upsert batches ----------------


def upsert_batch(seed: int, n_conv: int, batch: int, turns: int) -> pd.DataFrame:
    """About ``turns`` turns: half re-ingest existing base conversations
    with new text (their old docs become tombstones), half are new
    conversations numbered above the base corpus."""
    rng = _rng(seed, 6, batch)
    base = corpus_turn_counts(seed, n_conv)
    half = turns // 2
    # existing keys: whole conversations, so each key exists in the base
    picked, got = [], 0
    for c in rng.permutation(n_conv).tolist():
        if got >= half:
            break
        picked.append(c)
        got += int(base[c])
    edited = pd.DataFrame({
        "conv_id": np.repeat([f"conv-{c:08d}" for c in picked], base[picked]),
        "turn_idx": np.concatenate([np.arange(base[c]) for c in picked]).astype(np.int32),
    })
    edited["text"] = _texts(rng, len(edited))
    # new conversations: ids above the base and above every earlier batch
    first = n_conv + batch * turns
    new = _conversations(rng, np.arange(first, first + max(1, half // 7)))
    return pd.concat([edited, new[["conv_id", "turn_idx", "text"]]], ignore_index=True)


def corpus_turn_counts(seed: int, n_conv: int) -> np.ndarray:
    """Turns per base conversation, without generating the texts (the
    turn counts are the first draw of the corpus stream)."""
    return _rng(seed, 1, n_conv).integers(2, 13, n_conv)
