"""Goggles LOWERED into the index query tree (reference
goggles/mod.rs:166-260): site instructions become attr-term clauses /
MustNot terms, patterns run over the persisted position streams — results
must be bit-identical to the corpus-scan apply_goggle path, and the query
plan must never touch the document text."""

import shutil

import pytest

from stractt_spark.operators.goggles import apply_goggle
from stractt_spark.plans.build import SegmentIndex, build_index_fused

ROWS = [
    (0, "a.com", "the quick merge sort algorithm runs fast"),
    (1, "b.com", "hash join details and merge notes"),
    (2, "a.com", "hash join implementation guide"),
    (3, "c.com", "hash join and also a merge sort section"),
    (4, "b.com", "hash join hash join hash join"),
    (5, "c.com", "merge sort hash join quick ends with join"),
]

IDX_DIR = "/tmp/stractt_test_goggle_lowered_idx"


@pytest.fixture(scope="module")
def lowered(spark):
    docs = spark.createDataFrame(
        ROWS, "doc_id long, site string, text string"
    )
    shutil.rmtree(IDX_DIR, ignore_errors=True)
    build_index_fused(
        spark, docs, IDX_DIR, text_col="text", docs_per_segment=4,
        positions=True, attr_cols=["site"],
    )
    return SegmentIndex(spark, IDX_DIR), docs


def _both(spark, idx, docs, goggle, query="hash join", mode="should"):
    lowered_rows = [
        (r["doc_id"], r["score"])
        for r in idx.search_goggle(
            query, goggle, k=10, mode=mode, site_col="site"
        ).collect()
    ]
    base = idx.search(query, k=10**6, mode=mode)
    scan_rows = [
        (r["doc_id"], r["score"])
        for r in apply_goggle(
            base, docs, "text", "doc_id", goggle, k=10, site_col="site"
        ).collect()
    ]
    return lowered_rows, scan_rows


GOGGLES = [
    "$discard,site=b.com\n$boost=10,site=a.com",
    "merge sort$boost=2\n$downrank=1,site=b.com",
    "$discard\n$site=a.com,boost=6\n$site=b.com,boost=1",
    "@bm25 = 0\n$boost=2,site=a.com",
    "@bm25 = 2.5\nmerge sort$boost=3,site=c.com",
    "merge * join$boost=4",          # wildcard pattern
    "|hash join$boost=2",            # leading anchor
    "join|$boost=2",                 # trailing anchor (needs exact dl)
    "merge sort$discard",            # pattern discard
    "$downrank=2,site=c.com\nmerge notes$boost=1,site=b.com",
]


@pytest.mark.parametrize("goggle", GOGGLES)
def test_lowered_matches_corpus_scan(spark, lowered, goggle):
    idx, docs = lowered
    got, expected = _both(spark, idx, docs, goggle)
    assert got == expected, goggle


def test_trailing_anchor_semantics(spark, lowered):
    """'join|' matches only docs whose LAST token is 'join' (the exact
    num_tokens check the reference reads from its fast field,
    pattern_query.rs:290,330-336)."""
    idx, docs = lowered
    out = idx.search_goggle(
        "hash join", "join|$boost=2", k=10, mode="should", site_col="site"
    ).collect()
    by_id = {r["doc_id"]: r["score"] for r in out}
    plain = {
        r["doc_id"]: r["score"]
        for r in idx.search("hash join", k=10, mode="should").collect()
    }
    boosted = {d for d in by_id if by_id[d] > plain[d] + 999}
    assert boosted == {4, 5}  # exactly the docs whose last token is "join"
    assert 1 in by_id and 1 not in boosted  # contains "join" mid-doc only


@pytest.mark.usefixtures("spark_site")
def test_lowered_plan_never_scans_documents(spark, lowered):
    """The whole point: the goggle query reads ONLY the index — no
    documents-table scan per instruction (round-2's apply_goggle path
    re-tokenized the full corpus text per pattern)."""
    idx, _ = lowered
    df = idx.search_goggle(
        "hash join", "merge sort$boost=2\n$discard,site=b.com",
        k=10, mode="should", site_col="site",
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "index.parquet" in plan
    assert "documents" not in plan
    # and the term IN predicate (incl. the goggle's attr/pattern terms)
    # reaches the parquet scan
    assert "PushedFilters" in plan


def test_lowered_requires_indexed_site_col(spark, lowered):
    idx, _ = lowered
    with pytest.raises(ValueError, match="attr"):
        idx.search_goggle(
            "hash join", "$boost=1,site=a.com", k=10, site_col="nope"
        )


def test_lowered_requires_positions_for_patterns(spark):
    docs = spark.createDataFrame(ROWS, "doc_id long, site string, text string")
    d = "/tmp/stractt_test_goggle_nopos_idx"
    shutil.rmtree(d, ignore_errors=True)
    build_index_fused(
        spark, docs, d, text_col="text", docs_per_segment=4,
        attr_cols=["site"],
    )
    idx = SegmentIndex(spark, d)
    with pytest.raises(ValueError, match="positions"):
        idx.search_goggle(
            "hash join", "merge sort$boost=2", k=10, site_col="site"
        )


def test_bare_discard_only_program_returns_empty(spark, lowered):
    """A goggle whose ONLY instruction is the bare `$discard` keeps only
    docs matched by some other instruction — there is none, so the
    result is empty (parity with apply_goggle's limit(0) fallback).
    Regression: the kernel used to skip the restriction entirely when no
    const clause lowered."""
    idx, docs = lowered
    got, expected = _both(spark, idx, docs, "$discard")
    assert got == expected == []
    # and with only site-only discards beside it (they lower to MustNot
    # terms, not clauses) the restriction still applies
    got2, expected2 = _both(spark, idx, docs, "$discard\n$discard,site=b.com")
    assert got2 == expected2 == []
