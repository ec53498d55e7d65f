"""Merge associativity: N sub-indexes merged == one global build
(mirrors the reference merge test, inverted_index.rs:818-882)."""

import shutil

import pytest

from stractt_spark.operators.merge import decode_postings, lpt_buckets, merge_indexes
from stractt_spark.oracle import build_oracle
from stractt_spark.plans.build import SegmentIndex, build_index_fused
from stractt_spark.sources.corpus import make_corpus


def test_lpt_buckets_reference_shape():
    # sort desc, each into currently-smallest bucket
    sizes = [10, 40, 30, 20]
    # greedy trace: 40→b0, 30→b1, 20→b1 (30<40), 10→b1?=50 vs 40 → b0
    assert lpt_buckets(sizes, 2) == [0, 0, 1, 1]
    loads = [0, 0]
    for s, b in zip(sizes, lpt_buckets(sizes, 2)):
        loads[b] += s
    assert sorted(loads) == [50, 50]
    assert lpt_buckets([], 3) == []
    assert lpt_buckets([5], 4) == [0]


@pytest.fixture(scope="module")
def merged_vs_global(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("merge")
    rows = make_corpus(360)
    chunks = [rows[0:120], rows[120:240], rows[240:360]]
    sub_dirs = []
    for ci, chunk in enumerate(chunks):
        docs = spark.createDataFrame(
            [(i, r["content"]) for i, r in enumerate(chunk)],
            "doc_id long, content string",
        )
        d = str(root / f"sub{ci}")
        build_index_fused(spark, docs, d, docs_per_segment=48)
        sub_dirs.append(d)
    merged_dir = str(root / "merged")
    merge_indexes(spark, sub_dirs, merged_dir, docs_per_segment=64)

    global_docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows)], "doc_id long, content string"
    )
    global_dir = str(root / "global")
    build_index_fused(spark, global_docs, global_dir, docs_per_segment=64)
    oracle = build_oracle([(i, r["content"]) for i, r in enumerate(rows)])
    return (
        SegmentIndex(spark, merged_dir).cache(),
        SegmentIndex(spark, global_dir),
        oracle,
    )


def test_merged_stats_equal_global(merged_vs_global):
    merged, glob, _ = merged_vs_global
    assert merged.stats["num_docs"] == glob.stats["num_docs"]
    assert merged.stats["total_tokens"] == glob.stats["total_tokens"]


def _index_rows(spark, root):
    return sorted(
        (
            (r["segment_id"], r["term"], r["block_id"], r["first_doc_id"],
             r["last_doc_id"], r["num_docs"], bytes(r["id_bytes"]),
             bytes(r["tf_bytes"]),
             None if r["pos_bytes"] is None else bytes(r["pos_bytes"]),
             r["max_tf"], r["min_norm_id"])
            for r in spark.read.parquet(f"{root}/index.parquet").collect()
        ),
        key=lambda t: (t[0], t[1], t[2]),
    )


def test_merged_index_rows_equal_one_shot_build(merged_vs_global, spark):
    """The merge writes the fused table a one-shot build over the
    concatenated corpus writes: same blocks, same sentinel rows."""
    merged, glob, _ = merged_vs_global
    assert merged.stats["layout"] == "fused"
    assert not merged.stats["presorted"]
    assert _index_rows(spark, merged.paths.root) == _index_rows(
        spark, glob.paths.root
    )


def test_merged_postings_identical(merged_vs_global, spark):
    merged, glob, _ = merged_vs_global
    a = decode_postings(merged.segments, merged.norms).toPandas()
    b = decode_postings(glob.segments, glob.norms).toPandas()
    key = ["doc_id", "term"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a[["doc_id", "term", "tf", "norm_id"]].values
            == b[["doc_id", "term", "tf", "norm_id"]].values).all()


@pytest.mark.parametrize(
    "query,mode",
    [("the", "should"), ("merge sort", "must"), ("buffer -scan", "must"),
     ("read file into buffer", "should")],
)
def test_merged_search_rank_identical(merged_vs_global, query, mode):
    merged, glob, oracle = merged_vs_global
    got = merged.search_list(query, k=10, mode=mode)
    expected = oracle.search(query, k=10, mode=mode)
    assert [d for d, _ in got] == [d for d, _ in expected], (query, mode)
    also = glob.search_list(query, k=10, mode=mode)
    assert got == also


def test_merge_includes_streamed_batches(spark, tmp_path_factory):
    """Regression: merging a post-append (streamed) fused index must keep
    the streamed docs and must not collide remapped ids across sources
    (stream ids start past num_docs at a fresh segment boundary)."""
    from stractt_spark.operators.postings import assign_doc_ids
    from stractt_spark.plans.build import build_index_fused
    from stractt_spark.streaming.ingest import append_batch

    root = tmp_path_factory.mktemp("merge_streamed")
    rows = make_corpus(210)
    key = lambda r: (r["repo"], r["path"], r["commit"])

    def df_of(chunk):
        return spark.createDataFrame(
            [(r["repo"], r["path"], r["commit"], r["content"]) for r in chunk],
            "repo string, path string, commit string, content string",
        )

    dps = 48
    # source 0: 100 docs built, then 50 streamed in one batch
    d0 = str(root / "src0")
    build_index_fused(
        spark, assign_doc_ids(df_of(rows[:100]), ["repo", "path", "commit"]),
        d0, text_col="content", docs_per_segment=dps,
    )
    append_batch(spark, df_of(rows[100:150]), batch_id=0, index_dir=d0)
    base_stream = ((100 + dps - 1) // dps) * dps  # 144
    span0 = base_stream + 50  # next_doc_id of source 0

    # source 1: plain 60-doc build
    d1 = str(root / "src1")
    build_index_fused(
        spark, assign_doc_ids(df_of(rows[150:]), ["repo", "path", "commit"]),
        d1, text_col="content", docs_per_segment=dps,
    )

    merged_dir = str(root / "merged")
    merge_indexes(spark, [d0, d1], merged_dir, docs_per_segment=64)
    merged = SegmentIndex(spark, merged_dir).cache()

    # every doc from all three chunks present exactly once
    assert merged.stats["num_docs"] == 210
    assert merged.stats["next_doc_id"] == span0 + 60
    decoded = decode_postings(merged.segments, merged.norms).toPandas()
    assert decoded["doc_id"].nunique() == 210

    # rank identity vs an oracle over the expected remapped id layout
    oracle = build_oracle([])
    for i, r in enumerate(sorted(rows[:100], key=key)):
        oracle.add(i, r["content"])
    for i, r in enumerate(sorted(rows[100:150], key=key)):
        oracle.add(base_stream + i, r["content"])
    for i, r in enumerate(sorted(rows[150:], key=key)):
        oracle.add(span0 + i, r["content"])
    for query, mode in [("the", "should"), ("merge sort", "must")]:
        got = merged.search_list(query, k=10, mode=mode)
        expected = oracle.search(query, k=10, mode=mode)
        assert [d for d, _ in got] == [d for d, _ in expected], (query, mode)
