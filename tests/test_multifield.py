"""Multi-field boosted BM25: rank-identity vs the multi-field oracle and
reference-shaped behaviors (title/path boost dominance)."""

import math

import pytest

from stractt_spark.operators.multifield import (
    MultiFieldOracle,
    bm25_topk_multifield,
    build_postings_multifield,
    multifield_stats,
)
from stractt_spark.sources.corpus import make_corpus


@pytest.fixture(scope="module")
def mf(spark):
    rows = make_corpus(400)
    docs = spark.createDataFrame(
        [(i, r["path"], r["content"]) for i, r in enumerate(rows)],
        "doc_id long, path string, content string",
    )
    postings = build_postings_multifield(
        docs, {"path": "path", "content": "content"}
    ).cache()
    stats = multifield_stats(docs, postings)
    oracle = MultiFieldOracle()
    for i, r in enumerate(rows):
        oracle.add(i, {"path": r["path"], "content": r["content"]})
    return docs, postings, stats, oracle, rows


QUERIES = [
    ("buffer", "must"),
    ("merge sort", "must"),
    ("src scan", "must"),       # 'src' appears mostly in paths
    ("the buffer", "should"),
    ("scan -merge", "must"),
    ("zzz_nothing", "must"),
]


@pytest.mark.parametrize("query,mode", QUERIES)
def test_multifield_rank_identity(mf, query, mode):
    docs, postings, stats, oracle, _ = mf
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_multifield(
            postings, query, stats["num_docs"], stats["avgdl"], k=10, mode=mode
        ).collect()
    ]
    expected = oracle.search(query, k=10, mode=mode)
    assert [d for d, _ in got] == [d for d, _ in expected], (query, mode)
    for (d1, s1), (_, s2) in zip(got, expected):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12), (query, d1)


def test_path_match_counts_as_match(mf):
    """A Must term matched ONLY in the path field still satisfies the term
    (Should over fields inside the Must, parser.rs:54-91)."""
    docs, postings, stats, oracle, rows = mf
    # 'src' occurs in every path ('src/modX/...') but rarely in content
    res = oracle.search("src", k=400, mode="must")
    assert len(res) == 400  # every doc matches via its path


def test_path_boost_dominates(spark):
    """With title-like boost 10 vs body 4, a path match outranks a content
    match of the same term (reference boost ordering, schema.rs:294-315)."""
    rows = [
        (0, "alpha util", "filler words here three"),
        (1, "beta util", "alpha words here three"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, path string, content string")
    postings = build_postings_multifield(docs, {"path": "path", "content": "content"})
    stats = multifield_stats(docs, postings)
    got = [
        r["doc_id"]
        for r in bm25_topk_multifield(
            postings, "alpha", stats["num_docs"], stats["avgdl"], k=2, mode="must"
        ).collect()
    ]
    assert got == [0, 1]
    oracle = MultiFieldOracle()
    for i, p, c in rows:
        oracle.add(i, {"path": p, "content": c})
    assert [d for d, _ in oracle.search("alpha", k=2)] == [0, 1]


@pytest.fixture(scope="module")
def mf_persisted(spark, mf):
    """The SAME corpus through the persisted multi-field segment index."""
    import shutil

    from stractt_spark.operators.multifield import (
        MultiFieldSegmentIndex,
        build_index_fused_multifield,
    )

    docs, _, _, oracle, rows = mf
    d = "/tmp/stractt_test_mf_idx"
    shutil.rmtree(d, ignore_errors=True)
    build_index_fused_multifield(
        spark, docs, d, {"path": "path", "content": "content"},
        docs_per_segment=96,
    )
    return MultiFieldSegmentIndex(spark, d).cache(), oracle


@pytest.mark.parametrize("query,mode", QUERIES)
def test_persisted_multifield_rank_identity(mf_persisted, query, mode):
    """Persisted per-field posting blocks + cogrouped kernel must be
    rank-identical (and score-identical to 1e-9) to the MultiFieldOracle —
    same gate as the in-memory path."""
    idx, oracle = mf_persisted
    got = idx.search_list(query, k=10, mode=mode)
    expected = oracle.search(query, k=10, mode=mode)
    assert [d for d, _ in got] == [d for d, _ in expected], (query, mode)
    for (d1, s1), (_, s2) in zip(got, expected):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12), (query, d1)


def test_persisted_multifield_stats(mf_persisted, mf):
    idx, _ = mf_persisted
    _, _, stats, _, _ = mf
    assert idx.stats["num_docs"] == stats["num_docs"]
    for f_ in ("path", "content"):
        assert math.isclose(idx.avgdl[f_], stats["avgdl"][f_], rel_tol=1e-12)


@pytest.mark.usefixtures("spark_site")
def test_persisted_multifield_term_scan_pruned(spark, mf):
    """The physical-term filter reaches the parquet scan (PushedFilters) —
    per-field postings ride the ordinary segment machinery.  Dedicated
    UNCACHED index dir: cache substitution would erase the parquet scan."""
    import shutil

    from stractt_spark.operators.multifield import (
        MultiFieldSegmentIndex,
        build_index_fused_multifield,
    )

    docs, _, _, _, _ = mf
    d = "/tmp/stractt_test_mf_plans_idx"
    shutil.rmtree(d, ignore_errors=True)
    build_index_fused_multifield(
        spark, docs, d, {"path": "path", "content": "content"},
        docs_per_segment=192,
    )
    idx = MultiFieldSegmentIndex(spark, d)
    plan = idx.search("merge", k=10)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters" in plan
    # the physical-term predicate reaches the scan (In for multi-term,
    # EqualTo when only one physical term has postings)
    assert "In(term" in plan or "EqualTo(term" in plan


@pytest.fixture(scope="module")
def mf_positions(spark, mf):
    """Positions-enabled persisted multi-field index for phrase queries."""
    import shutil

    from stractt_spark.operators.multifield import (
        MultiFieldSegmentIndex,
        build_index_fused_multifield,
    )

    docs, _, _, oracle, rows = mf
    d = "/tmp/stractt_test_mf_pos_idx"
    shutil.rmtree(d, ignore_errors=True)
    build_index_fused_multifield(
        spark, docs, d, {"path": "path", "content": "content"},
        docs_per_segment=96, positions=True,
    )
    return MultiFieldSegmentIndex(spark, d).cache(), oracle


PHRASE_QUERIES_MF = [
    ("merge.sort", "must"),        # content-side method chain
    ("merge.sort", "should"),
    ("src/mod1", "must"),          # path-side phrase (slash-separated)
    ("buffer ()", "should"),
    ("scan_count", "must"),        # single token (underscore word) → term
]


@pytest.mark.parametrize("query,mode", PHRASE_QUERIES_MF)
def test_mf_phrase_rank_identity(mf_positions, query, mode):
    """Per-field phrases through the persisted multi-field index must be
    rank- and score-identical to the MultiFieldOracle (phrase matches in
    ANY field satisfy the unit; weight = boost_f·Σ idf_f·(K1+1))."""
    idx, oracle = mf_positions
    got = [
        (r["doc_id"], r["score"])
        for r in idx.search(query, k=10, mode=mode, phrase=True).collect()
    ]
    expected = oracle.search(query, k=10, mode=mode, phrase=True)
    assert [d for d, _ in got] == [d for d, _ in expected], (query, mode)
    for (d1, s1), (_, s2) in zip(got, expected):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12), (query, d1)


def test_mf_phrase_requires_positions(mf_persisted):
    idx, _ = mf_persisted
    with pytest.raises(ValueError, match="positions"):
        idx.search("merge.sort", phrase=True)


@pytest.mark.parametrize("query,mode", QUERIES)
def test_mf_positions_index_term_queries_unchanged(mf_positions, query, mode):
    """Term queries over the positions build stay identical to the oracle
    (positions are additive, never change term scoring)."""
    idx, oracle = mf_positions
    got = idx.search_list(query, k=10, mode=mode)
    expected = oracle.search(query, k=10, mode=mode)
    assert [d for d, _ in got] == [d for d, _ in expected], (query, mode)


from hypothesis import given, settings
from hypothesis import strategies as st

_WORDS = ["merge", "sort", "scan", "hash", "join", "read", "file", "src",
          "mod", "util", "the", "buffer"]


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_mf_kernel_equals_oracle_random(spark, data):
    """Property: the persisted multi-field kernel is rank- and
    score-identical to MultiFieldOracle on random two-field corpora and
    random queries (terms + phrases, must/should)."""
    import shutil

    from stractt_spark.operators.multifield import (
        MultiFieldSegmentIndex,
        build_index_fused_multifield,
    )

    rng_seed = data.draw(st.integers(0, 10**6))
    import random

    rng = random.Random(rng_seed)
    n = data.draw(st.integers(20, 60))
    rows = []
    for i in range(n):
        path = "/".join(rng.choices(_WORDS, k=rng.randint(1, 3)))
        content = " ".join(rng.choices(_WORDS, k=rng.randint(3, 30)))
        rows.append((i, path, content))
    docs = spark.createDataFrame(rows, "doc_id long, path string, content string")
    d = f"/tmp/stractt_mf_prop_{rng_seed % 8}"
    shutil.rmtree(d, ignore_errors=True)
    build_index_fused_multifield(
        spark, docs, d, {"path": "path", "content": "content"},
        docs_per_segment=16, positions=True,
    )
    idx = MultiFieldSegmentIndex(spark, d)
    oracle = MultiFieldOracle()
    for i, p, c in rows:
        oracle.add(i, {"path": p, "content": c})

    terms = rng.sample(_WORDS, k=data.draw(st.integers(1, 3)))
    use_phrase = data.draw(st.booleans())
    if use_phrase:
        a, b = rng.sample(_WORDS, k=2)
        terms.append(f"{a}/{b}")  # two-token phrase unit under ascii
    query = " ".join(terms)
    mode = data.draw(st.sampled_from(["must", "should"]))
    got = [
        (r["doc_id"], r["score"])
        for r in idx.search(query, k=10, mode=mode, phrase=True).collect()
    ]
    expected = oracle.search(query, k=10, mode=mode, phrase=True)
    assert [d_ for d_, _ in got] == [d_ for d_, _ in expected], (query, mode)
    for (_, s1), (_, s2) in zip(got, expected):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12), (query, mode)


@pytest.mark.parametrize("query,mode", [
    ("merge sort", "should"),   # pruned OR path
    ("merge sort", "must"),     # leapfrog path
    ("buffer", "should"),
])
def test_persisted_multifield_metrics(mf_persisted, query, mode):
    """search(with_metrics=True) returns the SAME top-k as search()
    plus sane blocks decoded/total counters (the metrics sentinels never
    leak into results) — the multi-field twin of the single-field
    search_with_metrics contract."""
    idx, oracle = mf_persisted
    got, metrics = idx.search(query, k=10, mode=mode, with_metrics=True)
    expected = oracle.search(query, k=10, mode=mode)
    assert [d for d, _ in got] == [d for d, _ in expected], (query, mode)
    for (_, s1), (_, s2) in zip(got, expected):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12)
    assert 0 <= metrics["blocks_decoded"] <= metrics["blocks_total"]
    if expected:
        assert metrics["blocks_total"] > 0
