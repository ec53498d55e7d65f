"""Multi-field index API parity with the single-field SegmentIndex
(VERDICT r3 #3): batch, count, goggles, diversity, paging, spell
fallback, and site:/-site: attr filters — the reference's index IS
multi-field by default (src/schema.rs:75-110, src/searcher/local.rs:
64-141), so every operator must be available on that flavor.

Oracles: MultiFieldOracle (per-field BM25 with identical fp association)
plus pure-Python goggle-clause evaluation over the raw field texts —
never the engine's own kernels.
"""

import math
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from stractt_spark.functions.goggles import (
    SCALE,
    compile_pattern,
    parse_goggle,
    pattern_phrase_count,
)
from stractt_spark.functions.tokenizer import get_analyzer
from stractt_spark.operators.multifield import (
    MultiFieldOracle,
    MultiFieldSegmentIndex,
    build_index_fused_multifield,
)
from stractt_spark.sources.corpus import make_corpus

BASE = "/tmp/stractt_mf_parity_test"
N = 60
SITES = ["a.com", "b.com", "c.com"]
BOOSTS = {"path": 10.0, "content": 4.0}


@pytest.fixture(scope="module")
def mf(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    rows = make_corpus(N)
    data = [
        (i, rows[i]["path"], rows[i]["content"], SITES[i % 3])
        for i in range(N)
    ]
    docs = spark.createDataFrame(
        data, "doc_id long, path string, content string, site string"
    )
    d = f"{BASE}/idx"
    build_index_fused_multifield(
        spark, docs, d, {"path": "path", "content": "content"},
        docs_per_segment=16, positions=True, field_boosts=BOOSTS,
        attr_cols=["site"],
    )
    oracle = MultiFieldOracle(field_boosts=BOOSTS)
    for i, p, c, _s in data:
        oracle.add(i, {"path": p, "content": c})
    return MultiFieldSegmentIndex(spark, d), oracle, data


QUERIES = [
    ("merge sort", "must"),
    ("hash join", "should"),
    ("read file buffer", "should"),
    ("buffer", "must"),
    ('"merge sort"', "should"),
]


def _close(a, b):
    assert [d for d, _ in a] == [d for d, _ in b]
    for (_, s1), (_, s2) in zip(a, b):
        assert math.isclose(s1, s2, rel_tol=1e-9)


# ------------------------------------------------------------- batch


def test_mf_batch_matches_single(spark, mf):
    idx, _, _ = mf
    batch = idx.search_batch(
        [(f"q{i}", q, m) for i, (q, m) in enumerate(QUERIES)], k=10
    ).collect()
    by_qid: dict = {}
    for r in batch:
        by_qid.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"])
        )
    for i, (q, m) in enumerate(QUERIES):
        want = idx.search_list(q, k=10, mode=m)
        _close(by_qid.get(f"q{i}", []), want)


@pytest.mark.usefixtures("spark_site")
def test_mf_batch_plan_has_two_scans(spark, mf):
    """The whole point of batching: N queries, ONE pruned index scan (+
    the norms-side scan) — not N."""
    idx, _, _ = mf
    import re

    df = idx.search_batch(
        [("a", "merge sort", "must"), ("b", "hash join", "should"),
         ("c", "buffer read", "should")], k=10,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", plan)) == 2, plan[:2000]
    assert "PushedFilters" in plan


# ------------------------------------------------------------- count


@pytest.mark.parametrize("query,mode", QUERIES[:4])
def test_mf_count(spark, mf, query, mode):
    idx, oracle, _ = mf
    top, total = idx.search_with_count(query, k=10, mode=mode)
    full = oracle.search(query, k=10**6, mode=mode)
    _close(top, full[:10])
    assert total == len(full)


# ------------------------------------------------------------ paging


def test_mf_offset_paging(spark, mf):
    idx, _, _ = mf
    full = idx.search_list("hash join", k=9, mode="should")
    page2 = idx.search_list("hash join", k=3, mode="should", offset=3)
    assert page2 == full[3:6]


# ------------------------------------------------------------ filters


def test_mf_site_filter(spark, mf):
    idx, oracle, data = mf
    got = idx.search_list("hash join site:a.com", k=10, mode="should")
    site_of = {i: s for i, _, _, s in data}
    want = [
        (d, s) for d, s in oracle.search("hash join", k=10**6, mode="should")
        if site_of[d] == "a.com"
    ][:10]
    _close(got, want)


def test_mf_neg_site_filter(spark, mf):
    idx, oracle, data = mf
    got = idx.search_list("hash join -site:b.com", k=10, mode="should")
    site_of = {i: s for i, _, _, s in data}
    want = [
        (d, s) for d, s in oracle.search("hash join", k=10**6, mode="should")
        if site_of[d] != "b.com"
    ][:10]
    _close(got, want)


# ------------------------------------------------------------ goggles


def _brute_goggle(oracle, data, goggle_src, query, mode, k=10,
                  pattern_field="content"):
    """Pure-Python goggle evaluation over the raw field texts."""
    g = parse_goggle(goggle_src)
    tokenize = get_analyzer("ascii")
    site_of = {i: s for i, _, _, s in data}
    field_text = {i: {"path": p, "content": c} for i, p, c, _ in data}
    coeff = g.alterations.get("bm25")
    base = oracle.search(query, k=10**6, mode=mode)
    out = []
    for d, s in base:
        if coeff is not None:
            s = s * coeff
        discarded = False
        matched_any = False
        for inst in g.instructions:
            if inst.is_empty_discard:
                continue
            ok = True
            if inst.site is not None and site_of[d] != inst.site:
                ok = False
            if ok and inst.patterns:
                f_ = pattern_field
                terms, ops = compile_pattern(inst.patterns, "ascii")
                toks = tokenize(field_text[d][f_])
                pos: dict = {}
                for j, t in enumerate(toks):
                    if t in set(terms):
                        pos.setdefault(t, []).append(j)
                c = pattern_phrase_count(
                    {t: np.asarray(p) for t, p in pos.items()},
                    ops, len(toks),
                )
                ok = c > 0
            if not ok:
                continue
            if inst.action == "discard":
                discarded = True
            else:
                s = s + float(inst.value) * (
                    SCALE if inst.action == "boost" else -SCALE
                )
                matched_any = True
        if discarded:
            continue
        if g.has_empty_discard and not matched_any:
            continue
        out.append((d, s))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


MF_GOGGLES = [
    "$discard,site=b.com\n$boost=10,site=a.com",
    "merge sort$boost=2\n$downrank=1,site=b.com",
    "$discard\n$site=a.com,boost=6\n$site=c.com,boost=1",
    "@bm25 = 2.5\nmerge sort$boost=3,site=c.com",
    "merge * sort$boost=4",
    "|def$boost=2",
    "merge sort$discard",
]


@pytest.mark.parametrize("goggle", MF_GOGGLES)
def test_mf_goggle_matches_brute_force(spark, mf, goggle):
    idx, oracle, data = mf
    got = [
        (r["doc_id"], r["score"])
        for r in idx.search_goggle(
            "hash join", goggle, k=10, mode="should", site_col="site"
        ).collect()
    ]
    want = _brute_goggle(oracle, data, goggle, "hash join", "should")
    _close(got, want)


def test_mf_goggle_field_selector(spark, mf):
    """A goggle with a field selector pattern targets the mapped field's
    postings (inurl → path here), not the default content field."""
    idx, oracle, data = mf
    goggle = "inurl:src$boost=5"
    got = [
        (r["doc_id"], r["score"])
        for r in idx.search_goggle(
            "hash join", goggle, k=10, mode="should", site_col="site",
            field_map={"inurl": "path"},
        ).collect()
    ]
    want = _brute_goggle(
        oracle, data, goggle, "hash join", "should", pattern_field="path"
    )
    _close(got, want)


@pytest.mark.usefixtures("spark_site")
def test_mf_goggle_plan_never_scans_documents(spark, mf):
    idx, _, _ = mf
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
    assert "PushedFilters" in plan


def test_mf_goggle_requires_indexed_site_col(spark, mf):
    idx, _, _ = mf
    with pytest.raises(ValueError, match="attr"):
        idx.search_goggle(
            "hash join", "$boost=1,site=a.com", k=10, site_col="nope"
        )


# ---------------------------------------------------------- diversity


def test_mf_diverse(spark, mf):
    from stractt_spark.operators.collector import (
        DEFAULT_SCALES,
        rerank_diverse,
    )

    idx, _, _ = mf
    got = idx.search_diverse("hash join", k=6, mode="should")
    dps = idx.stats["docs_per_segment"]
    base = idx.search_list("hash join", k=18, mode="should")
    want = rerank_diverse(
        base, [lambda d: d // dps], DEFAULT_SCALES[:1], 6
    )
    assert got == want
    assert len(got) == 6


# ------------------------------------------------------------- spell


def test_mf_spell_fallback(spark, mf):
    idx, _, _ = mf
    rows, corrected = idx.search_corrected("mergee sort", k=5, mode="must")
    assert corrected == "merge sort"
    assert rows == idx.search_list("merge sort", k=5, mode="must")
    # a query with hits returns unchanged
    rows2, corr2 = idx.search_corrected("merge sort", k=5, mode="must")
    assert corr2 is None and rows2 == rows


# ------------------------------------------- attr compaction roundtrip


def test_mf_attr_delete_compact_byte_identical(spark, mf):
    """Deletes + compaction on an attr-bearing MF index: the compacted
    unified table must be byte-identical to a fresh build over the
    survivors (exercises the \\x01 pass-through in the MF re-encode)."""
    from stractt_spark.operators.deletes import compact_index, delete_docs

    _, _, data = mf
    docs = spark.createDataFrame(
        data, "doc_id long, path string, content string, site string"
    )
    d = f"{BASE}/del_idx"
    build_index_fused_multifield(
        spark, docs, d, {"path": "path", "content": "content"},
        docs_per_segment=16, positions=True, field_boosts=BOOSTS,
        attr_cols=["site"],
    )
    dels = list(range(0, N, 7))
    assert delete_docs(spark, d, dels) == len(dels)
    out = f"{BASE}/del_idx_compacted"
    compact_index(spark, d, out)
    fresh = f"{BASE}/del_idx_fresh"
    build_index_fused_multifield(
        spark, docs.filter(~F.col("doc_id").isin(dels)), fresh,
        {"path": "path", "content": "content"},
        docs_per_segment=16, positions=True, field_boosts=BOOSTS,
        attr_cols=["site"],
    )

    def rows_of(dd):
        return sorted(
            (
                (r["segment_id"], r["term"], r["block_id"],
                 r["first_doc_id"], r["last_doc_id"], r["num_docs"],
                 bytes(r["id_bytes"]), bytes(r["tf_bytes"]),
                 bytes(r["pos_bytes"]) if r["pos_bytes"] is not None
                 else None, r["max_tf"], r["min_norm_id"])
                for r in spark.read.parquet(f"{dd}/index.parquet").collect()
            ),
            key=lambda t: (t[0], t[1], t[2]),
        )

    assert rows_of(out) == rows_of(fresh)
    # and the attr filter still works post-compaction
    idx2 = MultiFieldSegmentIndex(spark, out)
    got = idx2.search_list("hash join site:a.com", k=5, mode="should")
    assert got  # non-empty


# ---------------------------------------------------------- proximity


def test_mf_proximity_matches_brute_force(spark, mf):
    """MF two-phase proximity: base per-field BM25 + ladder bonuses over
    the content field's positions, verified against a pure-Python
    recomputation (oracle base + sloppy_chain_count + quantized dl)."""
    from stractt_spark.functions.bm25 import K1
    from stractt_spark.functions.bm25 import idf as idf_fn
    from stractt_spark.functions.bm25 import tf_component
    from stractt_spark.functions.fieldnorm import (
        FIELD_NORMS_TABLE,
        fieldnorm_to_id,
    )
    from stractt_spark.functions.tokenizer import get_analyzer
    from stractt_spark.operators.wand import (
        PROXIMITY_LADDER,
        sloppy_chain_count,
    )

    idx, oracle, data = mf
    terms = ["hash", "join"]
    got = idx.search_proximity("hash join", k=10, mode="should")

    tok = get_analyzer("ascii")
    # FULL-SCAN oracle (single-phase semantics): every matching doc is
    # rescored, so the oracle could catch an overfetch-window miss
    base = oracle.search("hash join", k=10**6, mode="should")
    # per-field df of the physical content terms + content avgdl
    content_idx = oracle.fields["content"]
    w_phrase = idx.boosts["content"] * sum(
        idf_fn(len(content_idx.postings.get(t, {})), oracle.num_docs)
        for t in terms
    ) * (K1 + 1.0)
    avgdl_c = idx.avgdl["content"]
    text_of = {i: c for i, _p, c, _s in data}
    rescored = []
    for d, s in base:
        toks = tok(text_of[d])
        pos = {}
        for j, t in enumerate(toks):
            if t in set(terms):
                pos.setdefault(t, []).append(j)
        bonus = 0.0
        if all(t in pos for t in terms):
            arrs = [np.asarray(pos[t]) for t in terms]
            dl_q = float(
                FIELD_NORMS_TABLE[fieldnorm_to_id(
                    np.array([len(toks)]))[0]]
            )
            for b, slop in PROXIMITY_LADDER:
                f = sloppy_chain_count(arrs, slop)
                if f:
                    bonus += b * w_phrase * float(
                        tf_component(f, dl_q, avgdl_c)
                    )
        rescored.append((d, s + bonus))
    rescored.sort(key=lambda r: (-r[1], r[0]))
    want = rescored[:10]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert math.isclose(s1, s2, rel_tol=1e-9)


def test_mf_proximity_requires_positions(spark, mf):
    from stractt_spark.operators.multifield import (
        MultiFieldSegmentIndex,
        build_index_fused_multifield,
    )

    _, _, data = mf
    docs = spark.createDataFrame(
        data, "doc_id long, path string, content string, site string"
    )
    d = f"{BASE}/nopos"
    build_index_fused_multifield(
        spark, docs, d, {"path": "path", "content": "content"},
        docs_per_segment=16, field_boosts=BOOSTS,
    )
    with pytest.raises(ValueError, match="positions"):
        MultiFieldSegmentIndex(spark, d).search_proximity("hash join")


def test_mf_dense_union_fallback_bit_identical(spark):
    """The dense-shape gate (every physical term expensive + posting
    mass covering the segment) must route coverage-heavy MF ORs to the
    exact branch with BIT-identical results — same contract as the
    single-field TAAT fallback."""
    # every doc contains both tokens in both fields → maximal coverage
    rows = [
        (i, f"alpha beta p{i}", f"alpha beta beta x{i} y{i % 7}")
        for i in range(64)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, path string, content string"
    )
    d = f"{BASE}/dense"
    build_index_fused_multifield(
        spark, docs, d, {"path": "path", "content": "content"},
        docs_per_segment=32, positions=True, field_boosts=BOOSTS,
    )
    idx = MultiFieldSegmentIndex(spark, d)
    got = idx.search_list("alpha beta", k=10, mode="should")
    oracle = MultiFieldOracle(field_boosts=BOOSTS)
    for i, p, c in rows:
        oracle.add(i, {"path": p, "content": c})
    want = oracle.search("alpha beta", k=10, mode="should")
    assert [d_ for d_, _ in got] == [d_ for d_, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert s1 == s2  # bit-identical, not just close


def test_mf_bare_discard_only_program_returns_empty(spark, mf):
    idx, oracle, data = mf
    got = idx.search_goggle(
        "hash join", "$discard", k=10, mode="should", site_col="site"
    ).collect()
    assert got == []
    want = _brute_goggle(oracle, data, "$discard", "hash join", "should")
    assert want == []


def test_mf_proximity_catches_overfetch_miss(spark):
    """MF twin of the single-field regression: a doc whose base MF rank
    falls far outside any overfetch window but whose content terms sit
    perfectly adjacent must still win — the failure mode the former
    two-phase k×4 rescoring structurally missed (r5 review)."""
    from stractt_spark.operators.multifield import (
        MultiFieldSegmentIndex,
        build_index_fused_multifield,
    )

    filler = " ".join(
        ["alpha " + " ".join(["x"] * 40) + " beta " + " ".join(["y"] * 40)]
        * 6
    )
    winner = "alpha beta " + " ".join(["pad"] * 40)
    rows = [(i, f"p{i}", filler) for i in range(80)] + [
        (80, "p80", winner)]
    docs = spark.createDataFrame(
        rows, "doc_id long, path string, content string")
    d = "/tmp/stractt_mf_prox_overfetch_idx"
    shutil.rmtree(d, ignore_errors=True)
    build_index_fused_multifield(
        spark, docs, d, {"path": "path", "content": "content"},
        docs_per_segment=32, positions=True, field_boosts=BOOSTS,
    )
    idx = MultiFieldSegmentIndex(spark, d)
    base = idx.search_list("alpha beta", k=81, mode="must")
    assert [r[0] for r in base].index(80) >= 40
    prox = idx.search_proximity("alpha beta", k=10, mode="must")
    assert prox[0][0] == 80


def test_mf_facet_counts(mf):
    """Facets over the MF match set: a doc matches a term when ANY
    field contains it (Term → per-field Should) — brute-forced over
    the raw (path, content) pairs."""
    from stractt_spark.functions.tokenizer import get_analyzer

    index, _oracle, data = mf
    tok = get_analyzer(index.analyzer)
    for terms, mode in ((["merge", "sort"], "must"), (["hash", "join"], "should")):
        q = " ".join(terms)
        got = {r["facet_value"]: r["match_count"]
               for r in index.facet_counts(q, "site", mode=mode).collect()}
        exp = {}
        for i, p, c, s in data:
            toks = set(tok(p)) | set(tok(c))
            ok = (all(t in toks for t in terms) if mode == "must"
                  else any(t in toks for t in terms))
            if ok:
                exp[s] = exp.get(s, 0) + 1
        assert got == exp, (q, mode)
        assert got  # non-trivial


def test_mf_facet_counts_guard(mf):
    index, _oracle, _data = mf
    import pytest as _pt

    with _pt.raises(ValueError, match="not an attr column"):
        index.facet_counts("merge", "nosuch")
