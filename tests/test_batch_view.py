"""Batch search shares ONE prepared view per segment across its queries.

``search_batch`` builds each segment's term → block-array map and its
decoded tombstones once (``wand.segment_view``) and scores every query of
the batch against that view.  A kernel that mutated the shared view —
e.g. popped the tombstone rows while scoring the first query — would
leak deleted docs into every later query, so the parity tests run on
TOMBSTONED indexes and delete exactly the docs the queries rank first.
"""

import dataclasses
import math
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stractt_spark.functions.query_parse import parse_query
from stractt_spark.operators import wand
from stractt_spark.operators.deletes import delete_docs
from stractt_spark.operators.multifield import (
    MultiFieldSegmentIndex,
    build_index_fused_multifield,
)
from stractt_spark.plans.build import SegmentIndex, build_index_fused
from stractt_spark.sources.corpus import make_corpus

BASE = "/tmp/stractt_batch_view_test"
N = 480
DPS = 96
SITES = ["a.com", "b.com", "c.com"]

# shared terms across must/should, MustNot, site: filters and phrases
# (a dotted unit is a phrase when parsed with phrase=True)
SF_QUERIES = [
    ("q0", "merge tree", "must"),
    ("q1", "merge tree -heap", "should"),
    ("q2", "tree chunk site:a.com", "should"),
    ("q3", "index.merge", "must"),
    ("q4", "chunk heap -merge", "must"),
    ("q5", "tree segment site:b.com", "must"),
    ("q6", "batch.hash tree", "should"),
]
MF_QUERIES = [(qid, q, m) for qid, q, m in SF_QUERIES if "." not in q]


def _close(got, want, label):
    assert [d for d, _ in got] == [d for d, _ in want], label
    for (_, s1), (_, s2) in zip(got, want):
        assert math.isclose(s1, s2, rel_tol=1e-9), label


def _top_docs(results, n=2):
    return sorted({d for rows in results for d, _ in rows[:n]})


@pytest.fixture(scope="module")
def indexes(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    rows = make_corpus(N)
    docs = spark.createDataFrame(
        [(i, r["path"], r["content"], SITES[i % 3])
         for i, r in enumerate(rows)],
        "doc_id long, path string, content string, site string",
    )
    sf_dir, mf_dir = f"{BASE}/sf", f"{BASE}/mf"
    build_index_fused(spark, docs, sf_dir, docs_per_segment=DPS,
                      positions=True, attr_cols=["site"])
    build_index_fused_multifield(
        spark, docs, mf_dir, {"path": "path", "content": "content"},
        docs_per_segment=DPS, positions=True, attr_cols=["site"],
    )
    # tombstone the docs every query ranks first, so a leaked tombstone
    # changes every query's top-k
    sf = SegmentIndex(spark, sf_dir)
    sf_del = _top_docs(
        sf.search_list(q, k=10, mode=m, phrase=True) for _, q, m in SF_QUERIES
    )
    mf = MultiFieldSegmentIndex(spark, mf_dir)
    mf_del = _top_docs(mf.search_list(q, k=10, mode=m) for _, q, m in MF_QUERIES)
    assert delete_docs(spark, sf_dir, sf_del) == len(sf_del) > 0
    assert delete_docs(spark, mf_dir, mf_del) == len(mf_del) > 0
    return {
        "sf": SegmentIndex(spark, sf_dir).cache(), "sf_del": set(sf_del),
        "mf": MultiFieldSegmentIndex(spark, mf_dir).cache(),
        "mf_del": set(mf_del),
    }


def _by_qid(rows):
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


def test_sf_batch_matches_per_query_on_tombstoned_index(indexes):
    idx = indexes["sf"]
    parsed = [(qid, parse_query(q, idx.analyzer, phrase=True), m)
              for qid, q, m in SF_QUERIES]
    tdf = idx.term_df(sorted({t for _, pq, _ in parsed
                              for t in pq.all_match_terms}))
    batch = _by_qid(wand.wand_topk_batch(
        idx.segments, idx.norms, parsed, idx.stats["num_docs"],
        idx.stats["avgdl"], tdf, k=10, analyzer=idx.analyzer,
    ).collect())
    assert len(batch) == len(SF_QUERIES)
    for qid, q, m in SF_QUERIES:
        got = batch[qid]
        assert not {d for d, _ in got} & indexes["sf_del"], qid
        _close(got, idx.search_list(q, k=10, mode=m, phrase=True), qid)


def test_mf_batch_matches_per_query_on_tombstoned_index(indexes):
    idx = indexes["mf"]
    batch = _by_qid(idx.search_batch(MF_QUERIES, k=10).collect())
    assert len(batch) == len(MF_QUERIES)
    for qid, q, m in MF_QUERIES:
        got = batch[qid]
        assert not {d for d, _ in got} & indexes["mf_del"], qid
        _close(got, idx.search_list(q, k=10, mode=m), qid)


def _specs(idx, n):
    """``n`` distinct queries cycling the SF shapes over more terms."""
    extra = ["heap", "segment", "column", "field", "table", "node"]
    out = []
    for i in range(n):
        qid, q, m = SF_QUERIES[i % len(SF_QUERIES)]
        text = f"{q} {extra[i % len(extra)]}" if i >= len(SF_QUERIES) else q
        out.append((f"{qid}_{i}", parse_query(text, idx.analyzer, phrase=True), m))
    tdf = idx.term_df(sorted({t for _, pq, _ in out for t in pq.all_match_terms}))
    specs = [
        (qid, wand._query_spec(pq, m, idx.stats["num_docs"],
                               idx.stats["avgdl"], tdf, 10))
        for qid, pq, m in out
    ]
    specs = [(qid, s) for qid, s in specs if s is not None]
    scan = {t for _, pq, _ in out for t in pq.all_match_terms}
    for _, s in specs:
        scan.update(s["neg_terms"], s["filter_terms"])
    return specs, sorted(scan) + [wand.DELETES_TERM]


def _segment_frames(idx, scan):
    blocks = wand.seg_scan(idx.segments, scan, True).toPandas()
    norms = idx.norms.toPandas()
    assert (blocks["term"] == wand.DELETES_TERM).any()
    for seg, b in blocks.groupby("segment_id"):
        yield b, norms[norms["segment_id"] == seg]


@pytest.mark.parametrize("n_queries", [1, 8, 32])
def test_batch_segment_body_builds_view_once(indexes, monkeypatch, n_queries):
    """Driver-side: the per-segment batch body on collected frames equals
    per-query kernel calls, and splits the blocks by term ONCE per
    segment whatever the number of queries — with no pandas grouping."""
    idx = indexes["sf"]
    specs, scan = _specs(idx, n_queries)

    calls = {"split": 0, "groupby": 0}
    split, groupby = wand.term_blocks, pd.DataFrame.groupby

    def counting_split(*a, **kw):
        calls["split"] += 1
        return split(*a, **kw)

    def counting_groupby(self, *a, **kw):
        calls["groupby"] += 1
        return groupby(self, *a, **kw)

    matched = 0
    for b, n in _segment_frames(idx, scan):
        with monkeypatch.context() as m:
            m.setattr(wand, "term_blocks", counting_split)
            m.setattr(pd.DataFrame, "groupby", counting_groupby)
            calls.update(split=0, groupby=0)
            got = wand.batch_segment_topk(
                wand.segment_view(b, n), specs, wand._segment_topk_kernel
            )
            assert calls == {"split": 1, "groupby": 0}
        want = []
        for qid, spec in specs:
            res = wand._segment_topk_kernel(wand.segment_view(b, n), **spec)
            want.append(pd.DataFrame({"query_id": qid, "doc_id": res.ids,
                                      "score": res.scores}))
        want = pd.concat(want, ignore_index=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
        assert not set(got["doc_id"]) & indexes["sf_del"]
        matched += len(got)
    assert matched > 0


@pytest.mark.parametrize("n_queries", [1, 8, 32])
def test_batch_segment_body_builds_one_frame(indexes, monkeypatch, n_queries):
    """The kernels return numpy arrays; the batch body builds ONE pandas
    frame per segment whatever the number of queries."""
    idx = indexes["sf"]
    specs, scan = _specs(idx, n_queries)
    calls = {"n": 0}
    init = pd.DataFrame.__init__

    def counting_init(self, *a, **kw):
        calls["n"] += 1
        init(self, *a, **kw)

    for b, n in _segment_frames(idx, scan):
        view = wand.segment_view(b, n)
        with monkeypatch.context() as m:
            m.setattr(pd.DataFrame, "__init__", counting_init)
            calls["n"] = 0
            got = wand.batch_segment_topk(view, specs,
                                          wand._segment_topk_kernel)
            assert calls["n"] == 1, view.seg
        assert list(got.columns) == ["query_id", "doc_id", "score"]


def test_segment_view_is_read_only(indexes):
    idx = indexes["sf"]
    seg = min(indexes["sf_del"]) // DPS
    blocks = wand.seg_scan(idx.segments, ["merge", "tree", wand.DELETES_TERM],
                           False).filter(F.col("segment_id") == seg).toPandas()
    norms = idx.norms.filter(F.col("segment_id") == seg).toPandas()
    view = wand.segment_view(blocks, norms)
    assert wand.DELETES_TERM not in view.by_term
    assert set(view.by_term) == {"merge", "tree"}
    assert min(indexes["sf_del"]) in view.deleted
    with pytest.raises(TypeError):
        view.by_term["merge"] = blocks  # type: ignore[index]
    with pytest.raises(ValueError):
        view.deleted[0] = -1
    for tb in view.by_term.values():
        arrays = [getattr(tb, f.name) for f in dataclasses.fields(tb)
                  if f.name not in ("pos_bytes", "postings")]
        for a in arrays:
            assert not a.flags.writeable
            with pytest.raises(ValueError):
                a[0] = a[0]
        assert (np.diff(tb.block_id) > 0).all()
        assert tb.postings == int(tb.num_docs.sum())
        assert len(tb) == tb.block_id.size > 0
    for a in view.norms.values():
        assert not a.flags.writeable
    with pytest.raises(TypeError):
        view.norms["norm_bytes"] = None  # type: ignore[index]
