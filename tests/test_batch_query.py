"""Batched query execution: N queries in ONE pass over the index.

The batch path must be result-identical to per-query search() — same
docs, same scores, same tie order — while issuing a single pruned scan
for the union of all queries' terms (the throughput shape for offline
query workloads)."""

import math
import shutil

import pytest

from stractt_spark.plans.build import SegmentIndex, build_index_fused
from stractt_spark.sources.corpus import make_corpus

IDX = "/tmp/stractt_batch_query_idx"

BATCH = [
    ("q_and", "merge sort", "must"),
    ("q_or", "hash join", "should"),
    ("q_single", "buffer", "must"),
    ("q_neg", "scan -merge", "must"),
    ("q_multi", "read file into buffer", "should"),
    ("q_zero", "zzz_nope", "must"),
]


@pytest.fixture(scope="module")
def built(spark):
    rows = make_corpus(700)
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows)],
        "doc_id long, content string",
    )
    shutil.rmtree(IDX, ignore_errors=True)
    build_index_fused(spark, docs, IDX, text_col="content",
                      docs_per_segment=96)
    return SegmentIndex(spark, IDX).cache()


def test_batch_equals_per_query(built):
    rows = built.search_batch(BATCH, k=10).collect()
    by_qid: dict[str, list] = {}
    for r in rows:
        by_qid.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"])
        )
    for qid, q, mode in BATCH:
        want = built.search_list(q, k=10, mode=mode)
        got = by_qid.get(qid, [])
        assert [d for d, _ in got] == [d for d, _ in want], (qid, q)
        for (_, s1), (_, s2) in zip(got, want):
            assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12), qid


def test_batch_zero_match_query_absent(built):
    rows = built.search_batch(BATCH, k=10).collect()
    assert not [r for r in rows if r["query_id"] == "q_zero"]


def test_batch_respects_k(built):
    rows = built.search_batch(BATCH, k=3).collect()
    counts: dict[str, int] = {}
    for r in rows:
        counts[r["query_id"]] = counts.get(r["query_id"], 0) + 1
    assert all(c <= 3 for c in counts.values())
    assert counts["q_or"] == 3


@pytest.mark.usefixtures("spark_site")
def test_batch_single_scan_plan(built, spark):
    """The batch plan reads the index parquet exactly twice — one
    segments side + one norms side of the single cogroup — however many
    queries are in the batch (the amortization claim).  Fresh UNCACHED
    handle: .cache() substitutes InMemoryRelation into the plan and
    hides the scans."""
    import re

    idx = SegmentIndex(spark, IDX)
    plan = (
        idx.search_batch(BATCH, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    scans = len(re.findall(r"Scan parquet", plan))
    assert scans == 2, plan[:2000]
    # and the union-of-terms pruning reaches the parquet scan
    assert "term" in plan and "PushedFilters" in plan
