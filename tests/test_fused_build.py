"""Fused build path: the row postings it encodes, and the oracle."""

import shutil

import pytest

from stractt_spark.operators.merge import decode_postings
from stractt_spark.operators.postings import build_postings
from stractt_spark.oracle import build_oracle
from stractt_spark.plans.build import SegmentIndex, build_index_fused
from stractt_spark.sources.corpus import make_corpus


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("fused")
    rows = make_corpus(500)
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows)], "doc_id long, content string"
    )
    fused_dir = str(root / "fused")
    build_index_fused(spark, docs, fused_dir, docs_per_segment=96)
    # the row-oriented postings table the blocks encode: one
    # (doc_id, term, tf, dl, norm_id) row per posting
    postings = build_postings(docs).toPandas()
    oracle = build_oracle([(i, r["content"]) for i, r in enumerate(rows)])
    return SegmentIndex(spark, fused_dir).cache(), postings, oracle


def test_stats_match(built):
    fused, postings, oracle = built
    assert fused.stats["num_docs"] == oracle.num_docs
    total = int(postings.groupby("doc_id")["dl"].first().sum())
    assert fused.stats["total_tokens"] == total
    assert abs(fused.stats["avgdl"] - oracle.avgdl) < 1e-12


def test_postings_identical_to_row_postings(built, spark):
    fused, b, _ = built
    a = decode_postings(fused.segments, fused.norms).toPandas()
    key = ["doc_id", "term"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a[["doc_id", "term", "tf", "norm_id"]].values
            == b[["doc_id", "term", "tf", "norm_id"]].values).all()


@pytest.mark.parametrize(
    "query,mode",
    [("the", "should"), ("merge sort", "must"), ("buffer -scan", "must"),
     ("read file into buffer", "should"), ("zzz_no", "must")],
)
def test_fused_rank_identity(built, query, mode):
    fused, _, oracle = built
    got = fused.search_list(query, k=10, mode=mode)
    expected = oracle.search(query, k=10, mode=mode)
    assert [d for d, _ in got] == [d for d, _ in expected], (query, mode)
    assert [s for _, s in got] == pytest.approx(
        [s for _, s in expected], rel=1e-9
    )


def test_fused_resume(spark, tmp_path):
    from stractt_spark.plans.build import StageAborted

    rows = make_corpus(120)
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows)], "doc_id long, content string"
    )
    out = str(tmp_path / "f")
    with pytest.raises(StageAborted):
        build_index_fused(spark, docs, out, docs_per_segment=64, fail_after="index")
    import os

    mtime = os.path.getmtime(os.path.join(out, "index.parquet"))
    build_index_fused(spark, docs, out, docs_per_segment=64)
    assert os.path.getmtime(os.path.join(out, "index.parquet")) == mtime
    idx = SegmentIndex(spark, out)
    assert len(idx.search_list("buffer", k=5)) > 0


def test_aligned_zero_shuffle_build_identical(spark, tmp_path_factory):
    """aligned_input=True (range-partitioned, segment-aligned input) must
    produce an index byte-equivalent to the shuffled fused build, with NO
    exchange in the encode plan."""
    import numpy as np

    from stractt_spark.operators.merge import decode_postings
    from stractt_spark.operators.segments import build_segments_fused
    from stractt_spark.plans.build import SegmentIndex, build_index_fused
    from stractt_spark.sources.corpus import corpus_spark_df

    root = tmp_path_factory.mktemp("aligned")
    dps = 128
    docs = corpus_spark_df(spark, 1000, partitions=4, align=dps)

    d_norm = str(root / "norm")
    d_al = str(root / "aligned")
    build_index_fused(spark, docs, d_norm, docs_per_segment=dps)
    build_index_fused(spark, docs, d_al, docs_per_segment=dps,
                      aligned_input=True)
    a = SegmentIndex(spark, d_norm)
    b = SegmentIndex(spark, d_al)
    assert a.stats["num_docs"] == b.stats["num_docs"] == 1000
    assert a.stats["total_tokens"] == b.stats["total_tokens"]
    pa_ = decode_postings(a.segments, a.norms).toPandas().sort_values(
        ["doc_id", "term"]).reset_index(drop=True)
    pb_ = decode_postings(b.segments, b.norms).toPandas().sort_values(
        ["doc_id", "term"]).reset_index(drop=True)
    assert len(pa_) == len(pb_)
    assert (pa_[["doc_id", "term", "tf", "norm_id"]].values
            == pb_[["doc_id", "term", "tf", "norm_id"]].values).all()

    # the aligned encode plan has NO shuffle exchange
    plan = build_segments_fused(
        docs, "content", "doc_id", "ascii", dps, aligned_input=True
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan
    # the shuffled path does have one (sanity of the assertion itself)
    plan_shuffled = build_segments_fused(
        docs, "content", "doc_id", "ascii", dps
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" in plan_shuffled


def test_aligned_build_rejects_misaligned_partitions(spark, tmp_path_factory):
    from stractt_spark.plans.build import build_index_fused
    from stractt_spark.sources.corpus import corpus_spark_df

    root = tmp_path_factory.mktemp("misaligned")
    # partitions NOT aligned to docs_per_segment → contract violation
    docs = corpus_spark_df(spark, 500, partitions=4)  # ~125-doc slices
    with pytest.raises(ValueError, match="aligned_input"):
        build_index_fused(
            spark, docs, str(root / "bad"), docs_per_segment=96,
            aligned_input=True,
        )
