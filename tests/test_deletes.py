"""Document deletes (tombstones) + compaction.

Tantivy-style semantics: a delete masks docs from every query BEFORE
the top-k cut but leaves posting data and global stats (num_docs,
avgdl, dfs) untouched until the next merge — so pre-compaction scores
are unchanged and the post-delete top-k equals the pre-delete ranking
with tombstoned docs filtered out.  Compaction (a single-source merge)
rewrites the index without the deleted docs and recomputes exact stats,
making results bit-identical to a fresh build over the survivors."""

import math
import shutil

import pytest
from pyspark.sql import functions as F

from stractt_spark.operators.deletes import (
    compact_index,
    delete_docs,
    read_tombstones,
)
from stractt_spark.plans.build import SegmentIndex, build_index_fused
from stractt_spark.sources.corpus import make_corpus
from stractt_spark.streaming.ingest import append_batch

BASE = "/tmp/stractt_deletes_test"
DPS = 96
DELETED = list(range(0, 500, 13))

QUERIES = [
    ("merge sort", "must"),
    ("hash join", "should"),
    ("buffer", "must"),
    ("read file into buffer", "should"),
]


def _pre_docs(spark, rows, lo, hi):
    return spark.createDataFrame(
        [(i, rows[i]["content"]) for i in range(lo, hi)],
        "doc_id long, text string",
    ).withColumn(
        "pre_score",
        F.lit(2048.0) * ((F.col("doc_id") * F.lit(2654435761)) % 1000)
        / F.lit(1000.0),
    )


def _index_rows(spark, root):
    return sorted(
        (
            (r["segment_id"], r["term"], r["block_id"],
             r["first_doc_id"], r["last_doc_id"], r["num_docs"],
             bytes(r["id_bytes"]), bytes(r["tf_bytes"]),
             bytes(r["pos_bytes"]) if r["pos_bytes"] is not None
             else None, r["max_tf"], r["min_norm_id"])
            for r in spark.read.parquet(f"{root}/index.parquet").collect()
        ),
        key=lambda t: (t[0], t[1], t[2]),
    )


@pytest.fixture(scope="module")
def deleted(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    rows = make_corpus(500)
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows)],
        "doc_id long, content string",
    )
    plain_dir = f"{BASE}/plain"
    build_index_fused(spark, docs, plain_dir, text_col="content",
                      docs_per_segment=DPS, positions=True)
    pre_dir = f"{BASE}/pre"
    pdocs = _pre_docs(spark, rows, 0, 500)
    build_index_fused(
        spark, pdocs, pre_dir, text_col="text", docs_per_segment=DPS,
        positions=True, pre_scores=pdocs.select("doc_id", "pre_score"),
    )
    # BEFORE-delete rankings, deep enough to refill the post-delete top-k
    before = {
        (q, m): SegmentIndex(spark, plain_dir).search_list(q, k=60, mode=m)
        for q, m in QUERIES
    }
    before_pre = SegmentIndex(spark, pre_dir).search_list(
        "merge sort", k=60, mode="should", with_pre_score=True,
        orig_ids=True,
    )
    n1 = delete_docs(spark, plain_dir, DELETED)
    n2 = delete_docs(spark, pre_dir, DELETED)
    return {
        "rows": rows, "plain": plain_dir, "pre": pre_dir,
        "before": before, "before_pre": before_pre, "n": (n1, n2),
        "docs": docs,
    }


def test_delete_counts(deleted, spark):
    n1, n2 = deleted["n"]
    assert n1 == n2 == len(DELETED)
    assert read_tombstones(spark, deleted["plain"]).tolist() == DELETED


def test_redelete_is_idempotent(deleted, spark):
    assert delete_docs(spark, deleted["plain"], DELETED[:5]) == 0


@pytest.mark.parametrize("query,mode", QUERIES)
def test_masked_search_is_filtered_ranking(deleted, spark, query, mode):
    """Pre-compaction: scores unchanged (stale global stats, the
    reference behavior), tombstoned docs gone — so the post-delete
    top-10 IS the pre-delete ranking minus deleted docs."""
    idx = SegmentIndex(spark, deleted["plain"])
    got = idx.search_list(query, k=10, mode=mode)
    dset = set(DELETED)
    want = [(d, s) for d, s in deleted["before"][(query, mode)]
            if d not in dset][:10]
    assert [d for d, _ in got] == [d for d, _ in want], (query, mode)
    for (_, s1), (_, s2) in zip(got, want):
        assert math.isclose(s1, s2, rel_tol=1e-12)


def test_masked_count_excludes_deleted(deleted, spark):
    idx = SegmentIndex(spark, deleted["plain"])
    top, total = idx.search_with_count("buffer", k=10, mode="must")
    # exact count over live docs only
    live_matches = [
        d for d, _ in deleted["before"][("buffer", "must")]
        if d not in set(DELETED)
    ]
    assert all(d not in set(DELETED) for d, _ in top)
    # the before-list was cut at 60; recompute ground truth via oracle
    from stractt_spark.oracle import build_oracle

    rows = deleted["rows"]
    oracle = build_oracle(
        [(i, r["content"]) for i, r in enumerate(rows)]
    )
    full = oracle.search("buffer", k=10**6, mode="must")
    assert total == len([d for d, _ in full if d not in set(DELETED)])


def test_masked_batch_excludes_deleted(deleted, spark):
    idx = SegmentIndex(spark, deleted["plain"])
    rows = idx.search_batch(
        [("a", "merge sort", "must"), ("b", "hash join", "should")], k=10
    ).collect()
    assert rows and all(r["doc_id"] not in set(DELETED) for r in rows)


def test_masked_presorted_search(deleted, spark):
    idx = SegmentIndex(spark, deleted["pre"])
    got = idx.search_list("merge sort", k=10, mode="should",
                          with_pre_score=True, orig_ids=True)
    dset = set(DELETED)
    want = [(d, s) for d, s in deleted["before_pre"] if d not in dset][:10]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert math.isclose(s1, s2, rel_tol=1e-12)


def test_quota_raises_on_tombstoned_index(deleted, spark):
    idx = SegmentIndex(spark, deleted["pre"])
    with pytest.raises(ValueError, match="TOMBSTONED"):
        idx.search("merge sort", k=10, mode="should",
                   with_pre_score=True, max_docs_per_segment=48)


def test_multifield_delete_mask_and_compaction(deleted, spark):
    """MF deletes: tombstoned docs are masked pre-cut with pre-delete
    scores, and compaction rewrites the index BYTE-identical to a fresh
    MF build over the survivors (the per-field sentinel dl tails make
    even the exact token totals reproducible)."""
    from stractt_spark.operators.multifield import (
        MultiFieldSegmentIndex,
        build_index_fused_multifield,
    )

    rows = deleted["rows"]
    docs = spark.createDataFrame(
        [(i, rows[i]["path"], rows[i]["content"]) for i in range(500)],
        "doc_id long, path string, content string",
    )
    fields = {"path": "path", "content": "content"}
    mf_dir = f"{BASE}/mf"
    build_index_fused_multifield(
        spark, docs, mf_dir, fields, docs_per_segment=DPS, positions=True,
    )
    before = MultiFieldSegmentIndex(spark, mf_dir).search_list(
        "merge sort", k=60, mode="should")
    assert delete_docs(spark, mf_dir, DELETED) == len(DELETED)
    got = MultiFieldSegmentIndex(spark, mf_dir).search_list(
        "merge sort", k=10, mode="should")
    dset = set(DELETED)
    want = [(d, s) for d, s in before if d not in dset][:10]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert math.isclose(s1, s2, rel_tol=1e-12)

    out = f"{BASE}/mf_compacted"
    compact_index(spark, mf_dir, out)
    fresh = f"{BASE}/mf_fresh"
    build_index_fused_multifield(
        spark, docs.filter(~F.col("doc_id").isin(DELETED)), fresh,
        fields, docs_per_segment=DPS, positions=True,
    )

    assert _index_rows(spark, out) == _index_rows(spark, fresh)
    import json

    with open(f"{out}/stats.json") as f:
        got_s = json.load(f)
    with open(f"{fresh}/stats.json") as f:
        want_s = json.load(f)
    assert got_s["num_docs"] == want_s["num_docs"]
    assert (got_s["multifield"]["field_totals"]
            == want_s["multifield"]["field_totals"])


def test_compacted_plain_equals_fresh_build(deleted, spark):
    """After compaction the stats are exact again and searches are
    bit-identical to an index built fresh without the deleted docs."""
    out = f"{BASE}/plain_compacted"
    compact_index(spark, deleted["plain"], out)
    fresh = f"{BASE}/plain_fresh"
    live = deleted["docs"].filter(~F.col("doc_id").isin(DELETED))
    build_index_fused(spark, live, fresh, text_col="content",
                      docs_per_segment=DPS, positions=True)
    import json

    with open(f"{out}/stats.json") as f:
        got = json.load(f)
    with open(f"{fresh}/stats.json") as f:
        want = json.load(f)
    assert got["num_docs"] == want["num_docs"] == 500 - len(DELETED)
    assert got["total_tokens"] == want["total_tokens"]
    # the compaction writes the table a fresh build over the survivors
    # (same ids, deleted ones left unused) writes
    assert _index_rows(spark, out) == _index_rows(spark, fresh)
    cidx = SegmentIndex(spark, out)
    fidx = SegmentIndex(spark, fresh)
    for q, m in QUERIES:
        a = cidx.search_list(q, k=10, mode=m)
        b = fidx.search_list(q, k=10, mode=m)
        assert [d for d, _ in a] == [d for d, _ in b], (q, m)
        for (_, s1), (_, s2) in zip(a, b):
            assert math.isclose(s1, s2, rel_tol=1e-12), (q, m)


def test_compacted_doc_id_index_stays_writable(deleted, spark):
    """A compacted doc-id index is an ordinary fused index: it keeps its
    attr columns, scores on the driver, takes further deletes and
    appends, and serves appended docs and facets."""
    rows = deleted["rows"]
    src = f"{BASE}/attr"
    build_index_fused(
        spark,
        spark.createDataFrame(
            [(i, rows[i]["content"], f"s{i % 3}.com") for i in range(300)],
            "doc_id long, content string, site string",
        ),
        src, text_col="content", docs_per_segment=DPS, attr_cols=["site"],
    )
    assert delete_docs(spark, src, [3, 4, 5]) == 3
    out = f"{BASE}/attr_compacted"
    compact_index(spark, src, out)
    idx = SegmentIndex(spark, out)
    assert idx.stats["layout"] == "fused"
    assert idx.stats["attr_cols"] == ["site"]
    assert idx.stats["num_docs"] == 297
    assert idx.driver is not None
    assert delete_docs(spark, out, [7]) == 1
    append_batch(
        spark,
        spark.createDataFrame(
            [("r", f"p{i}", "c", f"zzzuniqueword doc {i}", "s9.com")
             for i in range(5)],
            "repo string, path string, commit string, content string, "
            "site string",
        ),
        0, out,
    )
    idx = SegmentIndex(spark, out)
    assert idx.stats["num_docs"] == 302
    hits = idx.search_list("zzzuniqueword", k=10)
    assert len(hits) == 5 and all(d >= 300 for d, _ in hits)
    facets = {
        r["facet_value"]: r["match_count"]
        for r in idx.facet_counts("zzzuniqueword", "site").collect()
    }
    assert facets == {"s9.com": 5}


def test_compacted_presorted_byte_identical(deleted, spark):
    """Presorted compaction re-ranks the survivors globally — the
    unified table must be BYTE-identical to a one-shot presorted build
    over the surviving docs."""
    out = f"{BASE}/pre_compacted"
    compact_index(spark, deleted["pre"], out)
    fresh = f"{BASE}/pre_fresh"
    rows = deleted["rows"]
    live = _pre_docs(spark, rows, 0, 500).filter(
        ~F.col("doc_id").isin(DELETED)
    )
    build_index_fused(
        spark, live, fresh, text_col="text", docs_per_segment=DPS,
        positions=True, pre_scores=live.select("doc_id", "pre_score"),
    )

    assert _index_rows(spark, out) == _index_rows(spark, fresh)
    # and the quota is sound again post-compaction
    idx = SegmentIndex(spark, out)
    full = idx.search_list("merge sort", k=10, mode="should",
                           with_pre_score=True, orig_ids=True)
    quota = idx.search_list("merge sort", k=10, mode="should",
                            with_pre_score=True, orig_ids=True,
                            max_docs_per_segment=48)
    assert quota == full
