"""The benchmark's workloads, driven through the program's public API.

Both workloads share one set-up: a ``local[nproc]`` session from
``get_spark`` (8g driver heap), the seeded corpus, a timed base
``build_index`` + ``IndexStore.save``, ``load`` and a ``Searcher``, then
untimed warm-up queries on terms outside the timed stream. One closed-loop
client then issues the workload's operations until ``seconds`` have passed:
the next request goes out only after ``.collect()`` of the previous one
returns.

* ``queries``: a fixed pattern of two point queries (1-3 rare terms,
  ``topk_blockmax``) then one heavy query (hot-head match, AND, phrase with
  slop 0 or 2, bool) against the static store.
* ``ingest``: write cycles of ``upsert`` (half edits of existing keys, half
  new conversations) → ``maybe_merge(max_segments=4)`` → ``load`` + a new
  ``Searcher`` over the tombstones → Zipf-drawn match probes.
"""

from __future__ import annotations

import inspect
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import inputs
from checks import Checker, OracleCheck, rows_of
from tracing import Spans

K = 10
PROBES_PER_CYCLE = 5
MAX_SEGMENTS = 4
CHECKED_PHRASES = 1  # exact phrases compared with topk_phrase_dataframe
CHECKED_PROBES = 1  # ingest probes compared with topk_dataframe
WRITES = ("index.store.upsert", "index.store.merge", "index.store.load")


@dataclass
class Op:
    """One timed operation of the closed loop."""

    name: str
    wall: float
    query: dict | None = None
    result: object = None  # collected rows of a query; return value of a write
    error: str | None = None
    span_id: int = 0
    skipped: int | None = None
    turns: int = 0
    timed: bool = True  # False: a trace-only probe outside the window
    blocks_est: int = 0  # Σ⌈df/128⌉ over the query's terms


@dataclass
class Run:
    """Everything a run measured, for the metrics and the trace."""

    workload: str
    seed: int
    turns: int = 0
    text_bytes: int = 0
    build_s: float = 0.0
    save_s: float = 0.0
    setup_s: float = 0.0
    window_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    store_bytes: int = 0
    save_files: int = 0
    save_bytes: int = 0
    segments: int = 0
    tombstones: int = 0
    codec_blocks_per_s: float = 0.0
    peak_rss_mb: float = 0.0  # driver process + JVM, at the end of the window
    checker: Checker = field(default_factory=Checker)

    def timed(self) -> list[Op]:
        return [o for o in self.ops if o.timed]

    def queries(self) -> list[Op]:
        return [o for o in self.timed() if o.query is not None]

    def writes(self) -> list[Op]:
        return [o for o in self.timed() if o.name in WRITES]


def query_terms(q: dict) -> list[str]:
    if q["kind"] == "bool":
        return [q["must"], *q["phrase"].split(), q["boosted"], q["must_not"]]
    return q["text"].split()


def execute(searcher, q: dict, skip_acc=None):
    """Run one query through the public Searcher API and collect it."""
    kind = q["kind"]
    if kind == "bool":
        return searcher.bool_query(
            must=[{"match": {"query": q["must"]}}],
            should=[
                {"match_phrase": {"query": q["phrase"]}},
                {"match": {"query": q["boosted"], "boost": q["boost"]}},
            ],
            must_not=[{"match": {"query": q["must_not"]}}],
            k=K,
        ).collect()
    fn = {
        "match": searcher.topk_blockmax,
        "and": searcher.topk_blockmax_and,
        "phrase": searcher.topk_phrase,
    }[kind]
    kwargs = {"slop": q["slop"]} if kind == "phrase" else {}
    if skip_acc is not None and "skip_acc" in inspect.signature(fn).parameters:
        kwargs["skip_acc"] = skip_acc
    return fn(q["text"], K, **kwargs).collect()


def dir_size(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


class Bench:
    """One run of one workload inside an existing session."""

    def __init__(self, spark, spans: Spans, run: Run, work: str, n_conv: int,
                 batch_turns: int, trace: bool):
        self.spark = spark
        self.spans = spans
        self.run = run
        self.n_conv = n_conv
        self.batch_turns = batch_turns
        self.trace = trace
        self.store_root = os.path.join(work, f"store-{run.workload}-{run.seed}-{os.getpid()}")

    # ---------------- set-up ----------------

    def setup(self, corpus_path: str) -> None:
        import pandas as pd
        from rabbit_index_ingest_spark.index.build import build_index
        from rabbit_index_ingest_spark.index.store import IndexStore

        self.pdf = pd.read_parquet(corpus_path, columns=["conv_id", "turn_idx", "text"])
        self.texts = self.pdf["text"].tolist()
        self.run.turns = len(self.pdf)
        self.run.text_bytes = sum(len(t.encode("utf-8")) for t in self.texts)
        transcripts = self.spark.read.parquet(corpus_path)
        shutil.rmtree(self.store_root, ignore_errors=True)
        self.store = IndexStore(self.spark, self.store_root)
        with self.spans.span("index.build") as s:
            built = build_index(self.spark, transcripts)
        self.run.build_s = s.wall
        with self.spans.span("index.store.save") as s:
            self.store.save(built)
        self.run.save_s = s.wall
        built.release()
        self.run.save_files, self.run.save_bytes = dir_size(self.store_root)
        if self.run.workload == "ingest":
            return  # its window starts with a write; every cycle reloads
        with self.spans.span("index.store.load"):
            self.reload()
        for q in inputs.warmup_queries(self.run.seed):
            with self.spans.span("warmup." + q["kind"]):
                execute(self.searcher, q)

    def reload(self) -> None:
        """``load()`` and a new ``Searcher`` over the store's tombstones."""
        from rabbit_index_ingest_spark.index.query import Searcher

        self.loaded = L = self.store.load()
        self.searcher = Searcher(
            self.spark, L.postings, L.dictionary, L.n_docs, L.avgdl,
            deleted_df=L.deleted_df, analyzer=L.analyzer,
        )

    # ---------------- timed window ----------------

    def _query(self, q: dict, request: str) -> Op:
        acc = self.spark.sparkContext.accumulator(0) if self.trace else None
        op = Op(name="index.query." + q["kind"], wall=0.0, query=q)
        with self.spans.span(op.name, request=request, kind=q["kind"], cls=q.get("cls")) as s:
            try:
                op.result = rows_of(execute(self.searcher, q, skip_acc=acc))
            except Exception as e:  # counted as a failed operation
                op.error = repr(e)
        op.wall, op.span_id = s.wall, s.id
        op.skipped = acc.value if acc is not None else None
        self.run.ops.append(op)
        return op

    def _write(self, name: str, fn, request: str, turns: int = 0, timed: bool = True) -> Op:
        op = Op(name=name, wall=0.0, turns=turns, timed=timed)
        with self.spans.span(name, request=request) as s:
            try:
                op.result = fn()
            except Exception as e:  # counted as a failed operation
                op.error = repr(e)
        op.wall, op.span_id = s.wall, s.id
        self.run.ops.append(op)
        return op

    def window_queries(self, seconds: float) -> None:
        n = 2048
        point = inputs.point_queries(self.run.seed, n)
        heavy = inputs.heavy_queries(self.run.seed, n, self.texts)
        # two point queries, then one heavy: the median lands inside the
        # point class, while heavy queries take most of the time
        stream = ((dict(heavy[i // 3], cls="heavy") if i % 3 == 2
                   else dict(point[i - (i + 1) // 3], cls="point")) for i in range(n))
        t0 = time.perf_counter()
        for i, q in enumerate(stream):
            if time.perf_counter() - t0 >= seconds:
                break
            self._query(q, f"q{i}")
        self.run.window_s = time.perf_counter() - t0

    def window_ingest(self, seconds: float) -> None:
        t0 = time.perf_counter()
        b = 0
        while True:
            c0 = time.perf_counter()
            pdf = inputs.upsert_batch(self.run.seed, self.n_conv, b, self.batch_turns)
            self.run.text_bytes += sum(len(t.encode("utf-8")) for t in pdf["text"])
            batch = self.spark.createDataFrame(pdf)
            self._write("index.store.upsert", lambda: self.store.upsert(batch), f"b{b}", turns=len(pdf))
            self._write("index.store.merge", lambda: self.store.maybe_merge(max_segments=MAX_SEGMENTS), f"b{b}")
            self._write("index.store.load", self.reload, f"b{b}")
            for j, q in enumerate(inputs.probe_queries(self.run.seed, b, PROBES_PER_CYCLE)):
                q["cls"] = "probe"
                q["cycle"] = b
                self._query(q, f"b{b}.p{j}")
            b += 1
            # whole cycles only: start another one only if a cycle as long
            # as the last still ends inside the window
            now = time.perf_counter()
            if now - t0 + (now - c0) > seconds:
                break
        self.run.window_s = time.perf_counter() - t0

    # ---------------- after the window (untimed) ----------------

    def check(self) -> None:
        ck = self.run.checker
        for op in self.run.timed():
            if op.error is not None:
                ck.error(op.name, op.error)
        rng = random.Random(self.run.seed)
        ok_queries = [o for o in self.run.queries() if o.error is None]
        if self.run.workload == "queries":
            self._check_static(ck, rng, ok_queries)
        else:
            self._check_ingest(ck, rng, ok_queries)

    def _live_ids(self) -> set[int]:
        L = self.loaded
        ids = L.doc_stats.select("doc_id")
        if L.deleted_df is not None:
            ids = ids.join(L.deleted_df.select("doc_id"), "doc_id", "left_anti")
        return {int(r["doc_id"]) for r in ids.collect()}

    def _check_static(self, ck: Checker, rng: random.Random, ops: list[Op]) -> None:
        doc = {
            (r["conv_id"], int(r["turn_idx"])): int(r["doc_id"])
            for r in self.loaded.doc_stats.select("doc_id", "conv_id", "turn_idx").collect()
        }
        keys = list(zip(self.pdf["conv_id"], self.pdf["turn_idx"].astype(int)))
        oracle = OracleCheck(self.texts, keys, doc)
        live = set(doc.values())
        exact = [o for o in ops if o.query["kind"] == "phrase" and o.query["slop"] == 0]
        sampled = {id(o) for o in rng.sample(exact, min(CHECKED_PHRASES, len(exact)))}
        for o in ops:
            q, what = o.query, f"{o.name} {o.query}"
            if q["kind"] == "match":
                ck.run(what, lambda: ck.equal(what, o.result, oracle.topk(q["text"], K)))
            elif q["kind"] == "and":
                ck.run(what, lambda: ck.equal(what, o.result, oracle.topk_and(q["text"], K)))
            elif id(o) in sampled:
                ck.run(what, lambda: ck.equal(
                    what, o.result, rows_of(self.searcher.topk_phrase_dataframe(q["text"], K).collect())))
            else:
                ck.run(what, lambda: ck.structural(what, o.result, K, live))

    def _check_ingest(self, ck: Checker, rng: random.Random, ops: list[Op]) -> None:
        live = self._live_ids()
        last = max((o.query["cycle"] for o in ops), default=None)
        current = [o for o in ops if o.query["cycle"] == last]
        sampled = {id(o) for o in rng.sample(current, min(CHECKED_PROBES, len(current)))}
        for o in ops:
            what = f"{o.name} {o.query}"
            if id(o) in sampled:
                ck.run(what, lambda: ck.equal(
                    what, o.result, rows_of(self.searcher.topk_dataframe(o.query["text"], K).collect())))
            else:
                # earlier cycles saw another store state: structure only
                ck.run(what, lambda: ck.structural(
                    what, o.result, K, live if o.query["cycle"] == last else None))

    def measure_inputs(self) -> None:
        """blocks_est per query (Σ⌈df/128⌉ over its terms, from the
        dictionary) and the final store size; untimed."""
        from pyspark.sql import functions as F

        terms = sorted({t for o in self.run.queries() for t in query_terms(o.query)})
        df = dict(
            (r["term"], int(r["df"]))
            for r in self.loaded.dictionary.where(F.col("term").isin(terms))
            .groupBy("term").agg(F.sum("df").alias("df")).collect()
        ) if terms else {}
        for o in self.run.queries():
            o.blocks_est = sum(-(-df.get(t, 0) // 128) for t in query_terms(o.query))
        self.run.store_bytes = dir_size(self.store_root)[1]
        self.run.segments = len(self.store.segments())

    def traced_extras(self) -> None:
        """Trace-only layer probes: tombstone count, one forced merge (so
        the merge layer is measured within a run), codec decode rate."""
        tomb = self.store.tombstones_df()
        self.run.tombstones = tomb.count() if tomb is not None else 0
        self.run.codec_blocks_per_s = self._codec_rate()
        if self.run.workload == "ingest" and len(self.store.segments()) > 1:
            op = self._write("index.store.merge", lambda: self.store.maybe_merge(max_segments=1),
                             "forced", timed=False)
            if op.error is not None:
                self.run.checker.error(op.name, op.error)

    def _codec_rate(self) -> float:
        from pyspark.sql import functions as F
        from rabbit_index_ingest_spark.index import codec

        rng = random.Random(self.run.seed)
        hot = rng.sample(inputs.VOCAB[: inputs.HOT_RANKS], 8)
        blocks = [
            (bytes(r["doc_bytes"]), bytes(r["tf_bytes"]))
            for r in self.loaded.postings.where(F.col("term").isin(hot))
            .select("doc_bytes", "tf_bytes").collect()
        ]
        if not blocks:
            return 0.0
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 0.5:
            for d, tf in blocks:
                codec.unpack_block(d, tf)
                codec.varbyte_decode(tf)
            n += len(blocks)
        return n / (time.perf_counter() - t0)

    def cleanup(self) -> None:
        shutil.rmtree(self.store_root, ignore_errors=True)


def repeat_ratio(run: Run) -> float:
    """Share of query-term occurrences already seen earlier in the run."""
    seen, rep, tot = set(), 0, 0
    for o in run.queries():
        for t in query_terms(o.query):
            tot += 1
            rep += t in seen
            seen.add(t)
    return rep / tot if tot else 0.0


def end_to_end(run: Run) -> dict:
    lat = [o.wall for o in run.queries()]
    q_wall = run.window_s if run.workload == "queries" else sum(lat)
    writes = run.writes()
    w_turns = run.turns + sum(o.turns for o in writes)
    w_wall = run.build_s + run.save_s + sum(o.wall for o in writes)
    return {
        "setup_s": (run.setup_s, "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "queries_per_s": (len(lat) / q_wall, "1/s"),
        "build_turns_per_s": (run.turns / (run.build_s + run.save_s), "turns/s"),
        "ingest_turns_per_s": (w_turns / w_wall, "turns/s"),
        "store_bytes_per_text_byte": (run.store_bytes / run.text_bytes, "ratio"),
    }
