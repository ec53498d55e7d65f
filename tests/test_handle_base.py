"""Both query handles share one base (``plans.build.IndexHandle``): the
option guards raise the same way on either handle, and the
spell-correction retry keeps the query's ``-term`` exclusions and
``site:`` filters on either handle."""

import shutil

import pytest

from stractt_spark.operators.deletes import delete_docs
from stractt_spark.operators.multifield import (
    MultiFieldSegmentIndex,
    build_index_fused_multifield,
)
from stractt_spark.plans.build import SegmentIndex, build_index_fused
from stractt_spark.sources.corpus import make_corpus

BASE = "/tmp/stractt_handle_base_test"
FIELDS = {"path": "path", "content": "content"}
HANDLES = {"sf": SegmentIndex, "mf": MultiFieldSegmentIndex}


@pytest.fixture(scope="module")
def roots(spark):
    """Per kind: a plain doc-id-ordered index without positions whose
    only attr column is ``site``, and a presorted index with two
    tombstones."""
    shutil.rmtree(BASE, ignore_errors=True)
    rows = make_corpus(200)
    docs = spark.createDataFrame(
        [(i, r["path"], r["content"], f"s{i % 4}.com",
          float((i * 7919) % 1000)) for i, r in enumerate(rows)],
        "doc_id long, path string, content string, site string, "
        "pre_score double",
    )
    pre = docs.select("doc_id", "pre_score")
    out = {}
    for kind in HANDLES:
        plain, tomb = f"{BASE}/{kind}", f"{BASE}/{kind}_tomb"
        if kind == "sf":
            build_index_fused(spark, docs, plain, docs_per_segment=64,
                              attr_cols=["site"])
            build_index_fused(spark, docs, tomb, docs_per_segment=64,
                              pre_scores=pre)
        else:
            build_index_fused_multifield(spark, docs, plain, FIELDS,
                                         docs_per_segment=64,
                                         attr_cols=["site"])
            build_index_fused_multifield(spark, docs, tomb, FIELDS,
                                         docs_per_segment=64,
                                         pre_scores=pre)
        assert delete_docs(spark, tomb, [3, 5]) == 2
        out[kind] = {"plain": plain, "tomb": tomb}
    return out


GUARDS = [
    ("phrase_without_positions", "plain",
     lambda h: h.search("merge.sort", phrase=True), "positions=True"),
    ("pre_score_not_presorted", "plain",
     lambda h: h.search("merge", with_pre_score=True), "presorted index"),
    ("orig_ids_not_presorted", "plain",
     lambda h: h.search("merge", orig_ids=True), "presorted index"),
    ("quota_doc_id_ordered", "plain",
     lambda h: h.search("merge", max_docs_per_segment=8), "doc-id-ordered"),
    ("quota_tombstoned", "tomb",
     lambda h: h.search("merge", with_pre_score=True,
                        max_docs_per_segment=8), "TOMBSTONED"),
    ("facet_non_attr", "plain",
     lambda h: h.facet_counts("merge", "path"), "attr column"),
    ("site_col_not_attr", "plain",
     lambda h: h.search_goggle("merge", "$boost=2,site=s1.com",
                               site_col="path"), "attr column"),
]


@pytest.mark.parametrize("case", GUARDS, ids=[g[0] for g in GUARDS])
@pytest.mark.parametrize("kind", list(HANDLES))
def test_shared_guards(spark, roots, kind, case):
    _, root, call, match = case
    h = HANDLES[kind](spark, roots[kind][root])
    with pytest.raises(ValueError, match=match):
        call(h)


@pytest.mark.parametrize("kind", list(HANDLES))
def test_spell_retry_keeps_exclusions_and_filters(spark, roots, kind):
    h = HANDLES[kind](spark, roots[kind]["plain"])
    heap_docs = {d for d, _ in h.search_list("heap", k=1000)}
    unexcluded = {d for d, _ in h.search_list("buffer site:s1.com", k=1000)}
    assert unexcluded & heap_docs  # the exclusion has docs to drop

    rows, corrected = h.search_corrected("bufer -heap site:s1.com", k=1000)
    assert corrected == "buffer -heap site:s1.com"
    got = {d for d, _ in rows}
    assert got and got == unexcluded - heap_docs
    assert all(d % 4 == 1 for d in got)  # site s1.com ⇔ doc_id % 4 == 1
