"""Spark engine vs pure-Python oracle: rank-identical top-k, score-equal.

The correctness core of the north rule (BASELINE.md "rank-identity rate =
1.0", scores within float tolerance). Covers every query class of
FIXTURES.md §3 on the synthetic code corpus, plus the real documents table.
"""

import math

import pytest

from stractt_spark.operators.postings import assign_doc_ids, build_postings, global_stats
from stractt_spark.oracle import build_oracle
from stractt_spark.plans.engine import SearchEngine
from stractt_spark.sources.corpus import make_corpus

QUERIES = [
    "the",                    # common term (skew class)
    "buffer",                 # common identifier
    "dtu",                    # rare identifier (single-digit df)
    "merge sort",             # two-term AND
    "read file into buffer",  # multi-term
    "foo.bar",                # punctuation-splitting
    "c++",                    # single-char punctuation tokens
    "scan -merge",            # NOT
    "zzz_nonsense_zzz",       # zero hits
    "result",                 # top-k boundary (matches many docs)
]


@pytest.fixture(scope="module")
def corpus_pair(spark):
    rows = make_corpus(600)
    pdf_rows = [(i, r["content"]) for i, r in enumerate(rows)]
    oracle = build_oracle(pdf_rows, analyzer="ascii")
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows)], "doc_id long, content string"
    )
    engine = SearchEngine.from_docs(docs, "content", "doc_id", analyzer="ascii")
    return oracle, engine


@pytest.mark.parametrize("query", QUERIES)
def test_rank_identity(corpus_pair, query):
    oracle, engine = corpus_pair
    expected = oracle.search(query, k=10)
    got = engine.search_list(query, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected], f"rank mismatch for {query!r}"
    for (d1, s1), (d2, s2) in zip(got, expected):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-9), (query, d1, s1, s2)


def test_rank_identity_should_mode(corpus_pair):
    oracle, engine = corpus_pair
    for q in ["merge sort", "read file into buffer"]:
        expected = oracle.search(q, k=10, mode="should")
        got = engine.search_list(q, k=10, mode="should")
        assert [d for d, _ in got] == [d for d, _ in expected]


def test_global_stats_match_oracle(corpus_pair, spark):
    oracle, engine = corpus_pair
    assert engine.num_docs == oracle.num_docs
    assert math.isclose(engine.avgdl, oracle.avgdl, rel_tol=1e-12)


def test_real_documents_table(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    engine = SearchEngine.from_docs(docs, "text", "doc_id", analyzer="ascii")
    rows = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    oracle = build_oracle(rows, analyzer="ascii")
    for q in ["the", "merge sort", "spark -join"]:
        got = engine.search_list(q, k=10)
        expected = oracle.search(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in expected], q


def test_assign_doc_ids_partition_invariant(spark):
    rows = make_corpus(300)
    data = [(r["repo"], r["path"], r["commit"]) for r in rows]
    df = spark.createDataFrame(data, "repo string, path string, commit string")
    a = assign_doc_ids(df.repartition(3), ["repo", "path", "commit"], num_partitions=4)
    b = assign_doc_ids(df.repartition(11), ["repo", "path", "commit"], num_partitions=7)
    pa = {(r["repo"], r["path"]): r["doc_id"] for r in a.collect()}
    pb = {(r["repo"], r["path"]): r["doc_id"] for r in b.collect()}
    assert pa == pb
    assert sorted(pa.values()) == list(range(300))


def test_assign_doc_ids_exact_past_sampling_size(spark):
    """At 20000 rows every run of repartitionByRange samples its own
    bounds; the count pass and the id pass must still see one partitioning,
    so the ids are exactly 0..n-1 in the key's total order."""
    n = 20000
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    df = spark.createDataFrame(
        [(i, -float((i * 7919) % 1009)) for i in range(n)],
        "orig_id long, neg_pre double",
    )
    got = assign_doc_ids(df, ["neg_pre", "orig_id"]).collect()
    assert sorted(r["doc_id"] for r in got) == list(range(n))
    by_id = sorted(got, key=lambda r: r["doc_id"])
    keys = [(r["neg_pre"], r["orig_id"]) for r in by_id]
    assert keys == sorted(keys)
