"""Tombstones given as a driver-side set (``deleted=``, turned into a
doc_id DataFrame by ``Searcher.__init__``) and as a DataFrame
(``deleted_df=``, the large-delete scale path) must produce identical
results through every per-range kernel, alone and composed with an
allow-list filter."""

from pyspark.sql import functions as F

from rabbit_index_ingest_spark.datagen import transcripts_df
from rabbit_index_ingest_spark.index.build import build_index
from rabbit_index_ingest_spark.index.query import Searcher


def test_deleted_df_matches_deleted_set(spark):
    t = transcripts_df(spark, n_conv=40)
    built = build_index(spark, t)
    # tombstone every 7th doc
    all_ids = [r["doc_id"] for r in built.doc_stats.select("doc_id").collect()]
    dead = {i for i in all_ids if i % 7 == 0}
    dead_df = spark.createDataFrame([(i,) for i in sorted(dead)], "doc_id long")

    s_set = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted=dead,
    )
    s_df = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=dead_df,
    )
    for q in ("karo", "karo tenro solda", "zephyr quantum lattice"):
        a = [(r["doc_id"], round(r["score"], 6)) for r in s_set.topk_blockmax(q, 20).collect()]
        b = [(r["doc_id"], round(r["score"], 6)) for r in s_df.topk_blockmax(q, 20).collect()]
        assert a == b, q
        assert not {x[0] for x in b} & dead
        c = [(r["doc_id"], round(r["score"], 6)) for r in s_df.topk_dataframe(q, 20).collect()]
        assert c == b, q

    # every other kernel through the per-range chassis, unfiltered and
    # with an allow-list (kind-1 side rows next to the kind-0 tombstones)
    allowed = spark.createDataFrame(
        [(i,) for i in all_ids if i % 3], "doc_id long"
    )
    kernels = {
        "and": lambda s, **kw: s.topk_blockmax_and("roka mika", 20, **kw),
        "msm": lambda s, **kw: s.topk_msm("roka mika tenka", 20, msm=2, **kw),
        "phrase": lambda s, **kw: s.topk_phrase("kaka roka", 20, **kw),
        "sloppy": lambda s, **kw: s.topk_phrase("roka mika", 20, slop=2, **kw),
        "near": lambda s, **kw: s.topk_near("kaka roka", 20, gap=2, **kw),
        "phrase_prefix": lambda s, **kw: s.topk_phrase_prefix(
            "kaka ro", 20, **kw
        ),
        "prefix": lambda s, **kw: s.topk_prefix("ka", 20, **kw),
    }
    for name, run in kernels.items():
        for kw in ({}, {"allowed": allowed}):
            a = [(r["doc_id"], round(r["score"], 6)) for r in run(s_set, **kw).collect()]
            b = [(r["doc_id"], round(r["score"], 6)) for r in run(s_df, **kw).collect()]
            assert a == b, (name, kw)
            assert b, (name, kw)  # the comparison is not vacuous
            assert not {x[0] for x in b} & dead, (name, kw)
            if kw:
                assert all(x[0] % 3 for x in b), name
