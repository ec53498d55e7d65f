"""Segment index + WAND path: codec roundtrip through Spark, rank-identity
vs the oracle AND the exhaustive DataFrame path, resume, lineage."""

import math
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from stractt_spark.operators.postings import build_postings
from stractt_spark.operators.segments import (
    decode_block_subset,
    decode_term_blocks,
    term_blocks,
)
from stractt_spark.operators.wand import segment_view
from stractt_spark.oracle import build_oracle
from stractt_spark.plans.build import (
    SegmentIndex,
    StageAborted,
    build_index_fused,
)
from stractt_spark.sources.corpus import make_corpus

IDX = "/tmp/stractt_test_index"

QUERIES = [
    ("the", "should"),
    ("buffer", "must"),
    ("dtu", "should"),
    ("merge sort", "must"),
    ("read file into buffer", "must"),
    ("read file into buffer", "should"),
    ("scan -merge", "must"),
    ("result", "must"),
    ("zzz_nope", "must"),
]


@pytest.fixture(scope="module")
def built(spark):
    rows = make_corpus(700)
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows)], "doc_id long, content string"
    )
    shutil.rmtree(IDX, ignore_errors=True)
    # small segments so the corpus spans several (700 docs / 96 ≈ 8 segments)
    paths = build_index_fused(spark, docs, IDX, docs_per_segment=96)
    oracle = build_oracle([(i, r["content"]) for i, r in enumerate(rows)])
    return SegmentIndex(spark, IDX).cache(), oracle, docs, paths


@pytest.mark.parametrize("query,mode", QUERIES)
def test_wand_rank_identity(built, query, mode):
    index, oracle, _, _ = built
    got = index.search_list(query, k=10, mode=mode)
    expected = oracle.search(query, k=10, mode=mode)
    assert [d for d, _ in got] == [d for d, _ in expected], (query, mode)
    for (d1, s1), (_, s2) in zip(got, expected):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12), (query, d1)


def test_non_fused_stats_raise_at_open(built, spark, tmp_path):
    """Only the fused unified table exists: a directory whose stats.json
    lacks ``layout: "fused"`` (the separate segments / norms tables older
    builds and merges wrote) is refused wherever stats.json is loaded —
    open, delete, append, merge — with the rebuild named."""
    import json

    from stractt_spark.operators.deletes import delete_docs
    from stractt_spark.operators.merge import merge_indexes
    from stractt_spark.operators.multifield import MultiFieldSegmentIndex
    from stractt_spark.streaming.ingest import append_batch

    index, _, docs, _ = built
    old = dict(index.stats)
    del old["layout"]
    d = str(tmp_path / "old")
    os.makedirs(d)
    with open(f"{d}/stats.json", "w") as f:
        json.dump(old, f)
    for use in (
        lambda: SegmentIndex(spark, d),
        lambda: MultiFieldSegmentIndex(spark, d),
        lambda: delete_docs(spark, d, [1]),
        lambda: append_batch(spark, docs, 0, d, order_cols=("doc_id",)),
        lambda: merge_indexes(spark, [d], str(tmp_path / "merged")),
    ):
        with pytest.raises(ValueError, match="rebuild it with build_index_fused"):
            use()


def test_block_roundtrip_through_spark(built, spark):
    index, _, _, _ = built
    segs = index.segments.toPandas()
    # pick the heaviest (segment, term) list — must be multi-block
    key = (
        segs.groupby(["segment_id", "term"])["num_docs"].sum().idxmax()
    )
    g = term_blocks(segs[segs.segment_id == key[0]])[key[1]]
    ids, tfs = decode_term_blocks(g)
    assert list(ids) == sorted(ids)
    assert len(ids) == g.postings
    # subset decode (skip even blocks) re-anchors correctly
    sub = g.take(slice(1, None, 2))
    if len(sub):
        sids, stfs = decode_block_subset(sub)
        mask = np.isin(ids, sids)
        assert list(sids) == list(ids[mask])
        assert list(stfs) == list(tfs[mask])


def test_blocks_are_128_docs(built):
    index, _, _, _ = built
    pdf = index.segments.toPandas()
    assert pdf["num_docs"].max() <= 128
    # every non-final block of a list is exactly 128
    last_block = pdf.groupby(["segment_id", "term"])["block_id"].transform("max")
    nonfinal = pdf[pdf.block_id < last_block]
    assert (nonfinal["num_docs"] == 128).all()


def test_lineage_written(built, spark):
    index, _, docs, paths = built
    lin = spark.read.parquet(paths.lineage).toPandas()
    seg_rows = lin[lin.stage == "index"]
    assert len(seg_rows) == index.norms.count()
    assert seg_rows["bytes_compressed"].sum() > 0
    # postings accounted in lineage == the row postings the blocks encode
    assert int(seg_rows["postings"].sum()) == build_postings(docs).count()
    assert int(seg_rows["blocks"].sum()) == index.segments.count()
    assert int(seg_rows["docs"].sum()) == docs.count()


def test_resume_skips_completed_stages(spark, tmp_path):
    rows = make_corpus(120)
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows)], "doc_id long, content string"
    )
    out = str(tmp_path / "idx")
    with pytest.raises(StageAborted):
        build_index_fused(spark, docs, out, docs_per_segment=64,
                          fail_after="term_stats")
    # index and term_stats written, stats absent
    assert os.path.isdir(os.path.join(out, "term_stats.parquet"))
    assert not os.path.exists(os.path.join(out, "stats.json"))
    mtimes = [os.path.getmtime(os.path.join(out, t))
              for t in ("index.parquet", "term_stats.parquet")]
    # resume: completes the stats stage without rewriting either table
    build_index_fused(spark, docs, out, docs_per_segment=64)
    assert [os.path.getmtime(os.path.join(out, t))
            for t in ("index.parquet", "term_stats.parquet")] == mtimes
    idx = SegmentIndex(spark, out)
    assert len(idx.search_list("buffer", k=5)) > 0


def test_compression_ratio(built, spark):
    """Sanity: delta+varint beats raw 8-byte ids by a wide margin."""
    index, _, _, paths = built
    pdf = index.segments.toPandas()
    raw = int(pdf["num_docs"].sum()) * 8
    packed = int(pdf["id_bytes"].str.len().sum())
    assert packed < raw * 0.35


@pytest.fixture(scope="module")
def one_big_segment(spark):
    """2000 docs in ONE segment so common terms span many 128-doc blocks."""
    from stractt_spark.plans.build import build_index_fused

    rows = make_corpus(2000)
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows)], "doc_id long, content string"
    )
    d = "/tmp/stractt_test_blockmax_idx"
    shutil.rmtree(d, ignore_errors=True)
    build_index_fused(spark, docs, d, text_col="content", docs_per_segment=2048)
    idx = SegmentIndex(spark, d).cache()
    oracle = build_oracle([(i, r["content"]) for i, r in enumerate(rows)])
    return idx, oracle


def _norms_row(norm_ids):
    """A one-segment norms frame (base 0) over per-doc norm ids."""
    return pd.DataFrame({
        "segment_id": [0], "base_doc_id": [0],
        "norm_bytes": [np.asarray(norm_ids, dtype=np.uint8).tobytes()],
    })


def _run_blockmax(idx, terms, k=10):
    from pyspark.sql import functions as F

    from stractt_spark.functions.bm25 import weight
    from stractt_spark.functions.fieldnorm import FIELD_NORMS_TABLE
    from stractt_spark.operators.wand import _should_topk_blockmax

    tdf = idx.term_df(terms)
    segs = idx.segments.filter(F.col("term").isin(terms)).toPandas()
    norm_row = idx.norms.toPandas()
    by_term = segment_view(segs, norm_row).by_term
    N, avgdl = idx.stats["num_docs"], idx.stats["avgdl"]
    qweights = {t: weight(tdf.get(t, 0), N) for t in terms}
    base = int(norm_row["base_doc_id"].iloc[0])
    norms = np.frombuffer(norm_row["norm_bytes"].iloc[0], dtype=np.uint8)
    dl_table = FIELD_NORMS_TABLE.astype(np.float64)
    dl_of = lambda ids: dl_table[norms[(ids - base).astype(np.int64)]]
    metrics = {}
    ids, score = _should_topk_blockmax(
        by_term, [t for t in terms if t in by_term], qweights, avgdl, k,
        dl_of, dl_table, norms.size, metrics=metrics,
    )
    ordr = np.lexsort((ids, -score))[:k]
    return list(zip(ids[ordr].tolist(), score[ordr].tolist())), metrics


def test_blockmax_or_skips_common_term_blocks(one_big_segment):
    """Common-term OR query: with a rare term banking a high threshold,
    most of the common term's blocks must be SKIPPED (the round-1 OR path
    decoded every block — the scale-killer this fixes)."""
    from stractt_spark.sources.corpus import _RARE

    idx, oracle = one_big_segment
    # rare identifiers surface as "<rare>_marker" tokens under the ascii
    # analyzer (underscore is in the word class)
    rare_tokens = [f"{r}_marker" for r in _RARE]
    rare_dfs = idx.term_df(rare_tokens)
    assert rare_dfs, "corpus lost its rare identifiers"
    # need ≥ k rare docs so the seed banks a full, high top-k threshold
    rare, rare_df = max(sorted(rare_dfs.items()), key=lambda kv: kv[1])
    assert rare_df >= 10, rare_dfs
    # the highest-df real token in the corpus plays the common-term role
    from pyspark.sql import functions as F

    common = (
        idx.term_stats.filter(~F.col("term").startswith("\x00"))
        .filter(~F.col("term").startswith("\x01"))
        .orderBy(F.desc("df"), F.asc("term")).limit(1).collect()[0]["term"]
    )
    assert idx.term_df([common])[common] > 1000
    got, metrics = _run_blockmax(idx, [common, rare])
    expected = oracle.search(f"{common} {rare}", k=10, mode="should")
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, s1), (_, s2) in zip(got, expected):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12)
    # pruning on natural data: rare docs are scattered, so exact scoring
    # legitimately touches most common blocks for tf lookups — still, the
    # chunk loop must skip at least the never-looked-up tail
    assert metrics["blocks_decoded"] < metrics["blocks_total"], metrics


def test_blockmax_or_strong_skip_clustered_rare():
    """Deterministic pruning proof: when the rare term's docs cluster in
    one 128-doc block, the seed banks a high threshold after decoding ONE
    block of the common term, and the bound-descending loop skips every
    other common block (bound = ub_common < kth since the cheap rare term
    is excluded from the envelope)."""
    from stractt_spark.functions.bm25 import weight
    from stractt_spark.functions.fieldnorm import (
        FIELD_NORMS_TABLE,
        fieldnorm_to_id,
    )
    from stractt_spark.operators.segments import encode_segment_arrays
    from stractt_spark.operators.wand import _should_topk_blockmax

    n = 2048
    # common term in every doc (tf cycles 1..3), rare term in docs 0..15
    common_ids = np.arange(n, dtype=np.int64)
    common_tfs = (common_ids % 3 + 1).astype(np.int64)
    rare_ids = np.arange(16, dtype=np.int64)
    rare_tfs = np.full(16, 2, dtype=np.int64)
    norm_id = int(fieldnorm_to_id(np.array([10]))[0])
    doc_ids = np.concatenate((common_ids, rare_ids))
    tfs = np.concatenate((common_tfs, rare_tfs))
    term_codes = np.concatenate(
        (np.zeros(n, dtype=np.int64), np.ones(16, dtype=np.int64))
    )
    blocks = encode_segment_arrays(
        0, term_codes, np.array(["aaa", "zzz"], dtype=object), doc_ids, tfs,
        np.full(n + 16, norm_id, dtype=np.int64),
    )
    by_term = segment_view(blocks, _norms_row(np.full(n, norm_id))).by_term
    avgdl = 10.0
    qweights = {"aaa": weight(n, n), "zzz": weight(16, n)}
    dl_table = FIELD_NORMS_TABLE.astype(np.float64)
    dl_of = lambda ids: np.full(len(ids), dl_table[norm_id])
    metrics = {}
    ids, score = _should_topk_blockmax(
        by_term, ["aaa", "zzz"], qweights, avgdl, 10, dl_of, dl_table, n,
        metrics=metrics,
    )
    ordr = np.lexsort((ids, -score))[:10]
    # top-10 are exactly the rare docs with the common tf-3 ones first
    assert set(ids[ordr].tolist()) <= set(range(16))
    # 2 of 17+1 blocks decoded: the rare block and common block 0
    assert metrics["blocks_total"] == len(blocks)
    assert metrics["blocks_decoded"] == 2, metrics


def test_blockmax_or_two_common_terms_exact(one_big_segment):
    """Two mid-frequency terms (both above the cheap limit → the chunked
    bound-descending path): results stay bit-identical to the oracle."""
    idx, oracle = one_big_segment
    got, metrics = _run_blockmax(idx, ["hash", "join"])
    expected = oracle.search("hash join", k=10, mode="should")
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, s1), (_, s2) in zip(got, expected):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12)
    assert metrics["blocks_decoded"] <= metrics["blocks_total"]


def test_blockmax_or_through_search_path(one_big_segment):
    """The full wand_topk path routes multi-term OR through the pruned
    union and stays rank-identical (incl. a MustNot exclusion)."""
    idx, oracle = one_big_segment
    for query in ["hash join", "the merge", "read file into buffer",
                  "hash join -merge"]:
        got = idx.search_list(query, k=10, mode="should")
        expected = oracle.search(query, k=10, mode="should")
        assert [d for d, _ in got] == [d for d, _ in expected], query
        for (_, s1), (_, s2) in zip(got, expected):
            assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12), query


@pytest.mark.parametrize("query,mode", [
    ("merge sort", "must"), ("hash join", "should"), ("buffer", "must"),
    ("scan -merge", "must"),
])
def test_search_with_count(built, query, mode):
    """Count-alongside-top-k: top rows equal the plain search, total
    equals the oracle's full match count."""
    index, oracle, _, _ = built
    top, total = index.search_with_count(query, k=10, mode=mode)
    plain = index.search_list(query, k=10, mode=mode)
    assert [d for d, _ in top] == [d for d, _ in plain]
    full = oracle.search(query, k=10**9, mode=mode)
    assert total == len(full), (query, mode)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_blockmax_or_equals_bruteforce_random(data):
    """Property: the pruned OR union is bit-identical to a brute-force
    score over arbitrary posting layouts (random doc sets, tfs, dls,
    term counts — exercises block boundaries, cheap/expensive splits,
    chunk ordering and the stopping rule)."""
    from stractt_spark.functions.bm25 import weight
    from stractt_spark.functions.fieldnorm import (
        FIELD_NORMS_TABLE,
        fieldnorm_to_id,
    )
    from stractt_spark.operators.segments import encode_segment_arrays
    from stractt_spark.operators.wand import _should_topk_blockmax, _tf_comp

    n_docs = data.draw(st.integers(50, 400))
    n_terms = data.draw(st.integers(2, 4))
    k = data.draw(st.sampled_from([3, 10]))
    rng = np.random.default_rng(data.draw(st.integers(0, 10**6)))
    dls = rng.integers(1, 200, size=n_docs)
    norm_ids = fieldnorm_to_id(dls.astype(np.int64))
    terms = [f"t{i}" for i in range(n_terms)]
    posting_docs, posting_tfs = {}, {}
    for t in terms:
        density = data.draw(st.sampled_from([0.05, 0.3, 0.9]))
        docs = np.flatnonzero(rng.random(n_docs) < density)
        if docs.size == 0:
            docs = np.array([int(rng.integers(0, n_docs))])
        posting_docs[t] = docs
        posting_tfs[t] = rng.integers(1, 12, size=docs.size)
    # encode one segment
    all_t, all_d, all_tf, all_n = [], [], [], []
    for t in terms:
        all_t.extend([t] * posting_docs[t].size)
        all_d.extend(posting_docs[t].tolist())
        all_tf.extend(posting_tfs[t].tolist())
        all_n.extend(norm_ids[posting_docs[t]].tolist())
    import pandas as _pd

    codes, uniq = _pd.factorize(np.array(all_t, dtype=object), sort=True)
    ids_arr = np.array(all_d, dtype=np.int64)
    order = np.lexsort((ids_arr, codes))
    blocks = encode_segment_arrays(
        0, codes[order], np.asarray(uniq, dtype=object), ids_arr[order],
        np.array(all_tf, dtype=np.int64)[order],
        np.array(all_n, dtype=np.int64)[order],
    )
    by_term = segment_view(blocks, _norms_row(norm_ids)).by_term
    avgdl = float(dls.mean())
    qweights = {t: weight(posting_docs[t].size, n_docs) for t in terms}
    dl_table = FIELD_NORMS_TABLE.astype(np.float64)
    dl_of = lambda ids: dl_table[norm_ids[ids]]
    ids, score = _should_topk_blockmax(
        by_term, terms, qweights, avgdl, k, dl_of, dl_table, n_docs
    )
    ordr = np.lexsort((ids, -score))[:k]
    got = list(zip(ids[ordr].tolist(), score[ordr].tolist()))
    # brute force in the same canonical term order
    dense = np.zeros(n_docs)
    touched = np.zeros(n_docs, dtype=bool)
    for t in sorted(terms):
        d, tf = posting_docs[t], posting_tfs[t]
        dense[d] += qweights[t] * _tf_comp(
            tf.astype(np.float64), dl_table[norm_ids[d]], avgdl
        )
        touched[d] = True
    cand = np.flatnonzero(touched)
    bru = sorted(
        ((int(c), float(dense[c])) for c in cand), key=lambda x: (-x[1], x[0])
    )[:k]
    assert [d for d, _ in got] == [d for d, _ in bru]
    for (_, s1), (_, s2) in zip(got, bru):
        assert s1 == s2  # bit-identical


# ---------------------------------------------------------------- metrics


@pytest.mark.parametrize("query,mode", [
    ("zzz_nope", "should"),  # zero matches → honest 0/0 counters
    ("hash join", "should"),
    ("merge sort", "must"),
    ("buffer", "must"),
    ("read file into buffer", "should"),
])
def test_search_with_metrics_rank_identical(built, query, mode):
    """search_with_metrics returns the SAME top-k as search() (the
    metrics sentinels never leak into results) plus sane counters."""
    index, oracle, _, _ = built
    got, metrics = index.search_with_metrics(query, k=10, mode=mode)
    expected = oracle.search(query, k=10, mode=mode)
    assert [d for d, _ in got] == [d for d, _ in expected], (query, mode)
    for (_, s1), (_, s2) in zip(got, expected):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12)
    assert 0 <= metrics["blocks_decoded"] <= metrics["blocks_total"]
    if expected:
        assert metrics["blocks_total"] > 0


def test_search_with_metrics_records_or_skip(one_big_segment):
    """Common+rare OR through the FULL distributed search path: the
    per-segment sentinels must record a real skip (decoded < total),
    matching the kernel-level assertion above."""
    from pyspark.sql import functions as F

    from stractt_spark.sources.corpus import _RARE

    idx, oracle = one_big_segment
    rare_dfs = idx.term_df([f"{r}_marker" for r in _RARE])
    rare, rare_df = max(sorted(rare_dfs.items()), key=lambda kv: kv[1])
    assert rare_df >= 10, rare_dfs
    common = (
        idx.term_stats.filter(~F.col("term").startswith("\x00"))
        .filter(~F.col("term").startswith("\x01"))
        .orderBy(F.desc("df"), F.asc("term")).limit(1).collect()[0]["term"]
    )
    got, metrics = idx.search_with_metrics(
        f"{common} {rare}", k=10, mode="should")
    expected = oracle.search(f"{common} {rare}", k=10, mode="should")
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, s1), (_, s2) in zip(got, expected):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12)
    assert metrics["blocks_decoded"] < metrics["blocks_total"], metrics
