"""Pre-score-sorted index: doc ids follow pre_computed_score rank, final
score = pre + bm25, and the max-docs early-termination quota is SOUND
(quota results == no-quota results) because truncation keeps the
highest-pre docs of every posting list — the reference's sorted-segments
design (src/inverted_index.rs:100-106 + src/collector.rs:39-42)."""

import math
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stractt_spark.oracle import build_oracle
from stractt_spark.plans.build import SegmentIndex, build_index_fused
from stractt_spark.sources.corpus import make_corpus

IDX = "/tmp/stractt_test_presorted_idx"


def pre_of(orig_id: int) -> float:
    """Deterministic centrality-like signal, float32-rounded exactly as the
    packed per-segment array stores it."""
    return float(np.float32(2048.0 * ((orig_id * 2654435761) % 1000) / 1000.0))


@pytest.fixture(scope="module")
def presorted(spark):
    rows = make_corpus(900)
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows)], "doc_id long, content string"
    )
    pre_scores = docs.select(
        "doc_id",
        (
            F.lit(2048.0) * ((F.col("doc_id") * F.lit(2654435761)) % 1000) / F.lit(1000.0)
        ).alias("pre_score"),
    )
    shutil.rmtree(IDX, ignore_errors=True)
    build_index_fused(
        spark, docs, IDX, text_col="content", docs_per_segment=128,
        pre_scores=pre_scores,
    )
    idx = SegmentIndex(spark, IDX).cache()
    # internal id = rank by (pre desc, orig asc)
    order = sorted(range(900), key=lambda i: (-pre_of(i), i))
    orig_of_internal = {new: orig for new, orig in enumerate(order)}
    oracle = build_oracle([])
    for new, orig in orig_of_internal.items():
        oracle.add(new, rows[orig]["content"])
    return idx, oracle, orig_of_internal


def test_docmap_matches_pre_rank(presorted):
    idx, _, orig_of_internal = presorted
    rows = {r["doc_id"]: r for r in idx.docmap.collect()}
    assert len(rows) == 900
    for new, orig in orig_of_internal.items():
        assert rows[new]["orig_id"] == orig
        assert math.isclose(
            rows[new]["pre_score"],
            2048.0 * ((orig * 2654435761) % 1000) / 1000.0,
            rel_tol=1e-12,
        )


@pytest.mark.parametrize("query,mode", [
    ("merge sort", "must"), ("hash join", "should"), ("result", "should"),
])
def test_bm25_only_rank_identity_on_presorted(presorted, query, mode):
    """Without with_pre_score the presorted index ranks by plain bm25,
    identical to the oracle over the remapped ids."""
    idx, oracle, _ = presorted
    got = idx.search_list(query, k=10, mode=mode)
    expected = oracle.search(query, k=10, mode=mode)
    assert [d for d, _ in got] == [d for d, _ in expected], (query, mode)
    for (_, s1), (_, s2) in zip(got, expected):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.parametrize("query,mode", [
    ("merge sort", "must"), ("hash join", "should"),
])
def test_pre_plus_bm25_scores(presorted, query, mode):
    """with_pre_score ranks by pre + bm25; verified against the python
    oracle's bm25 plus the float32 pre of each internal doc."""
    idx, oracle, orig_of_internal = presorted
    got = [
        (r["doc_id"], r["score"])
        for r in idx.search(query, k=10, mode=mode, with_pre_score=True).collect()
    ]
    full = oracle.search(query, k=10**9, mode=mode)
    rescored = sorted(
        ((d, s + pre_of(orig_of_internal[d])) for d, s in full),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert [d for d, _ in got] == [d for d, _ in rescored], (query, mode)
    for (_, s1), (_, s2) in zip(got, rescored):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.parametrize("query,mode", [
    ("merge sort", "must"), ("hash join", "should"), ("scan", "should"),
])
def test_quota_sound_on_presorted(presorted, query, mode):
    """Early-termination quota on a presorted index returns EXACTLY the
    no-quota top-k (pre dominates bm25 here: pre gaps are multiples of
    2.048 × rank distance ≫ any bm25 delta beyond ~50 ranks)."""
    idx, _, _ = presorted
    no_quota = [
        (r["doc_id"], round(r["score"], 6))
        for r in idx.search(query, k=10, mode=mode, with_pre_score=True).collect()
    ]
    quota = [
        (r["doc_id"], round(r["score"], 6))
        for r in idx.search(
            query, k=10, mode=mode, with_pre_score=True,
            max_docs_per_segment=64,
        ).collect()
    ]
    assert quota == no_quota, (query, mode)


def test_orig_id_mapping(presorted):
    idx, _, orig_of_internal = presorted
    internal = [
        (r["doc_id"], r["score"])
        for r in idx.search("merge sort", k=5, mode="must",
                            with_pre_score=True).collect()
    ]
    orig = [
        (r["doc_id"], r["score"])
        for r in idx.search("merge sort", k=5, mode="must",
                            with_pre_score=True, orig_ids=True).collect()
    ]
    assert sorted(s for _, s in internal) == sorted(s for _, s in orig)
    mapped = sorted(
        ((orig_of_internal[d], s) for d, s in internal),
        key=lambda t: (-t[1], t[0]),
    )
    assert orig == mapped


def test_pre_aware_blockmax_prunes_blocks():
    """On a presorted layout with a dominant pre-score, the OR union stops
    after the first high-pre blocks: remaining blocks' bounds (block max
    pre + bm25 envelope) fall below the banked k-th total."""
    import numpy as np

    from stractt_spark.functions.bm25 import weight
    from stractt_spark.functions.fieldnorm import (
        FIELD_NORMS_TABLE,
        fieldnorm_to_id,
    )
    from stractt_spark.operators.segments import encode_segment_arrays
    from stractt_spark.operators.wand import _should_topk_blockmax, segment_view

    n = 2048
    ids_all = np.arange(n, dtype=np.int64)
    tf_a = (ids_all % 3 + 1).astype(np.int64)
    tf_b = (ids_all % 2 + 1).astype(np.int64)
    norm_id = int(fieldnorm_to_id(np.array([10]))[0])
    doc_ids = np.concatenate((ids_all, ids_all))
    tfs = np.concatenate((tf_a, tf_b))
    term_codes = np.concatenate(
        (np.zeros(n, dtype=np.int64), np.ones(n, dtype=np.int64))
    )
    blocks = encode_segment_arrays(
        0, term_codes, np.array(["aaa", "bbb"], dtype=object), doc_ids, tfs,
        np.full(2 * n, norm_id, dtype=np.int64),
    )
    by_term = segment_view(blocks, pd.DataFrame({
        "segment_id": [0], "base_doc_id": [0],
        "norm_bytes": [np.full(n, norm_id, dtype=np.uint8).tobytes()],
    })).by_term
    qweights = {"aaa": weight(n, n), "bbb": weight(n, n)}
    dl_table = FIELD_NORMS_TABLE.astype(np.float64)
    dl_of = lambda ids: np.full(len(ids), dl_table[norm_id])
    # pre strictly descending with gaps ≫ any bm25 delta
    pre = (2048.0 - ids_all.astype(np.float64)) * 10.0
    metrics = {}
    ids, score = _should_topk_blockmax(
        by_term, ["aaa", "bbb"], qweights, 10.0, 10, dl_of, dl_table, n,
        metrics=metrics, pre=pre, base=0,
    )
    ordr = np.lexsort((ids, -score))[:10]
    # exact: the top-10 are the 10 highest-pre docs (ids 0..9)
    assert ids[ordr].tolist() == list(range(10))
    expected = pre[:10] + np.array(
        [qweights["aaa"] * (tf_a[i] / (tf_a[i] + 1.2 * (0.25 + 0.75)))
         + qweights["bbb"] * (tf_b[i] / (tf_b[i] + 1.2 * (0.25 + 0.75)))
         for i in range(10)]
    )
    assert np.allclose(np.sort(score[ordr])[::-1], np.sort(expected)[::-1],
                       rtol=1e-9)
    # pruning: only the first bound-ordered chunks decoded
    assert metrics["blocks_decoded"] < metrics["blocks_total"] // 2, metrics


def test_presorted_seed_prune_exact(spark):
    """The r4 seed-pruning branch (cheap-term seeds bounded away by
    pre + Σ max-ub when a threshold is banked) must stay EXACT: a
    presorted index with a sparse-but-uniform cheap term + common terms
    returns bit-identical results to the pure-Python oracle."""
    import math

    from stractt_spark.oracle import OracleIndex
    from stractt_spark.plans.build import SegmentIndex, build_index_fused
    from stractt_spark.sources.corpus import make_corpus

    rows = make_corpus(600)
    # plant a sparse uniform term (every 9th doc) beside common terms
    texts = [
        r["content"] + (" zeta_marker" if i % 9 == 0 else "")
        for i, r in enumerate(rows)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    import pyspark.sql.functions as F

    pre = docs.select(
        "doc_id",
        (F.lit(2048.0) * ((F.col("doc_id") * F.lit(2654435761)) % 1000)
         / F.lit(1000.0)).alias("pre_score"),
    )
    d = "/tmp/stractt_seedprune_test"
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    build_index_fused(spark, docs, d, text_col="text",
                      docs_per_segment=200, pre_scores=pre)
    idx = SegmentIndex(spark, d)
    got = idx.search_list("zeta_marker merge sort", k=15, mode="should",
                          with_pre_score=True, orig_ids=True)
    oracle = OracleIndex(analyzer="ascii")
    for i, t in enumerate(texts):
        oracle.add(i, t)
    import numpy as np

    # the index packs pre-scores as float32 — mirror the quantization
    pre_of = lambda i: float(np.float32(
        2048.0 * ((i * 2654435761) % 1000) / 1000.0
    ))
    base = oracle.search("zeta_marker merge sort", k=10**6, mode="should")
    want = sorted(
        ((d_, s + pre_of(d_)) for d_, s in base),
        key=lambda r: (-r[1], -pre_of(r[0]), r[0]),
    )[:15]
    assert [d_ for d_, _ in got] == [d_ for d_, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert math.isclose(s1, s2, rel_tol=1e-12)
