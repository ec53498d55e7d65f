"""Both dispatch sites of ``wand.per_segment`` return the same results.

Every query shape runs once on the Spark site (``DRIVER_SITE_POSTINGS``
set to 0: the cogroup job) and once at the default constant, where these
small indexes score on the driver.  Rows, (top, count), (top, metrics)
and batch rows must be identical — same kernel, same cut, so bit-equal
scores.  The driver site must start no Spark job on ``collect()``; a
Spark-site request starts at least one.  Fixtures cover the index
flavours whose files differ: presorted with a streamed batch (pre +
bm25, quota, orig ids), tombstoned doc-id order and its compaction, a
tombstoned multi-field index with site attrs and positions (goggle,
ladder, must_fields, phrase), and its compaction.
"""

import itertools
import shutil

import pytest
from pyspark.sql import functions as F

from stractt_spark.operators import wand
from stractt_spark.operators.deletes import compact_index, delete_docs
from stractt_spark.operators.multifield import (
    MultiFieldSegmentIndex,
    build_index_fused_multifield,
)
from stractt_spark.plans.build import SegmentIndex, build_index_fused
from stractt_spark.sources.corpus import make_corpus
from stractt_spark.streaming.ingest import append_batch

BASE = "/tmp/stractt_dispatch_sites_test"
N = 240
DPS = 64
SITES = ["a.com", "b.com", "c.com"]
QUERIES = [
    ("q0", "merge tree", "should"),
    ("q1", "chunk heap -merge", "must"),
    ("q2", "tree segment site:b.com", "must"),
]
# site instructions ride attr postings; the pattern needs positions (MF)
SITE_GOGGLE = "$boost=3,site=a.com\n$discard,site=b.com"
GOGGLE = "merge sort$boost=2\n$discard,site=b.com"
DELETED = [1, 5, 70, 71, 130, 200]
_group = itertools.count()


def _docs(spark, lo, hi):
    rows = make_corpus(N)
    return spark.createDataFrame(
        [(i, rows[i]["path"], rows[i]["content"], SITES[i % 3])
         for i in range(lo, hi)],
        "doc_id long, path string, content string, site string",
    ).withColumn(
        "pre_score", ((F.col("doc_id") * 7919) % 1000).cast("double")
    )


@pytest.fixture(scope="module")
def indexes(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    docs = _docs(spark, 0, N)
    # presorted, then a streamed batch on top
    head = _docs(spark, 0, 180)
    build_index_fused(spark, head, f"{BASE}/pre", text_col="content",
                      docs_per_segment=DPS, attr_cols=["site"],
                      pre_scores=head.select("doc_id", "pre_score"))
    append_batch(spark, _docs(spark, 180, N), 0, f"{BASE}/pre",
                 pre_score_col="pre_score")
    build_index_fused(spark, docs, f"{BASE}/del", text_col="content",
                      docs_per_segment=DPS, attr_cols=["site"])
    assert delete_docs(spark, f"{BASE}/del", DELETED) == len(DELETED)
    compact_index(spark, f"{BASE}/del", f"{BASE}/del_compacted")
    # multi-field tombstones ride the norms side
    build_index_fused_multifield(
        spark, docs, f"{BASE}/mf", {"path": "path", "content": "content"},
        docs_per_segment=DPS, positions=True, attr_cols=["site"],
    )
    assert delete_docs(spark, f"{BASE}/mf", DELETED) == len(DELETED)
    compact_index(spark, f"{BASE}/mf", f"{BASE}/compacted")
    return {
        "pre": SegmentIndex(spark, f"{BASE}/pre").cache(),
        "del": SegmentIndex(spark, f"{BASE}/del"),
        "del_compacted": SegmentIndex(spark, f"{BASE}/del_compacted"),
        "mf": MultiFieldSegmentIndex(spark, f"{BASE}/mf"),
        "compacted": MultiFieldSegmentIndex(spark, f"{BASE}/compacted"),
    }


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _outputs(h, kind):
    """One fixed query list: rows of every query and of the batch, a
    (top, count) fold where tombstones change counts, a (top, metrics)
    fold where pruning runs, and each fixture's own shapes.  Kept short:
    every Spark-site call is one Python-UDF job."""
    mf = kind in ("mf", "compacted")
    kw = {"with_pre_score": True} if kind == "pre" else {}
    out = {qid: _rows(h.search(q, k=10, mode=mode, **kw))
           for qid, q, mode in QUERIES}
    out["batch"] = _rows(h.search_batch(QUERIES, k=5))
    if kind in ("del", "del_compacted", "mf"):
        out["count"] = h.search_with_count("chunk heap -merge", k=10,
                                           mode="must")
    if kind in ("pre", "mf"):
        out["metrics"] = (
            h.search("merge tree", k=10, mode="should", with_metrics=True)
            if mf else
            h.search_with_metrics("merge tree", k=10, mode="should", **kw)
        )
    if kind == "pre":
        out["quota"] = _rows(h.search("merge tree", k=10, mode="should",
                                      max_docs_per_segment=8, **kw))
        out["orig"] = _rows(h.search("merge tree", k=10, mode="should",
                                     orig_ids=True))
        out["goggle"] = _rows(h.search_goggle(
            "hash join", SITE_GOGGLE, k=10, mode="should", site_col="site"))
    if kind == "mf":
        out["goggle"] = _rows(h.search_goggle(
            "hash join", GOGGLE, k=10, mode="should", site_col="site"))
        out["ladder"] = h.search_proximity("merge tree", k=10, mode="should")
        out["must_fields"] = _rows(h.search("merge tree", k=10, mode="must",
                                            must_fields=["content"]))
        out["phrase"] = _rows(h.search("index.merge", k=10, mode="must",
                                       phrase=True))
    return out


def _on_spark_site(monkeypatch, h, fn):
    with monkeypatch.context() as m:
        m.setattr(wand, "DRIVER_SITE_POSTINGS", 0)
        h._plan_memo.clear()
        try:
            return fn()
        finally:
            h._plan_memo.clear()


def _jobs(spark, fn):
    """→ (fn(), number of Spark jobs it started), via a job group."""
    sc = spark.sparkContext
    gid = f"dispatch-sites-{next(_group)}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.mark.parametrize(
    "kind", ["pre", "del", "del_compacted", "mf", "compacted"]
)
def test_sites_return_identical_results(indexes, monkeypatch, kind):
    h = indexes[kind]
    assert h.driver is not None  # fused + local files: driver-eligible
    assert wand.driver_result(h.search("merge tree", k=10, mode="should"))
    on_driver = _outputs(h, kind)
    on_spark = _on_spark_site(monkeypatch, h, lambda: _outputs(h, kind))
    assert on_driver.keys() == on_spark.keys()
    for key in on_driver:
        assert on_driver[key] == on_spark[key], key
    # the fixtures are not vacuous: queries match, tombstones are gone
    assert all(on_driver[qid] for qid, _, _ in QUERIES[:2])
    assert on_driver.get("count", (None, 1))[1] > 0
    if kind in ("del", "del_compacted", "mf"):
        assert not {r[0] for r in on_driver["q0"]} & set(DELETED)


def test_driver_site_starts_no_job(spark, indexes, monkeypatch):
    h = indexes["pre"]
    for q, mode in [("merge tree", "should"), ("zzabsentzz merge", "must")]:
        rows, jobs = _jobs(spark, lambda: h.search(q, k=10, mode=mode).collect())
        assert jobs == 0, q
        assert bool(rows) == (mode == "should")
    _, jobs = _jobs(spark, lambda: h.search_batch(QUERIES, k=5).collect())
    assert jobs == 0
    _, jobs = _jobs(spark, lambda: h.search_with_count("merge tree", k=10,
                                                       mode="should"))
    assert jobs == 0
    _, jobs = _jobs(spark, lambda: _on_spark_site(
        monkeypatch, h,
        lambda: h.search("merge tree", k=10, mode="should").collect(),
    ))
    assert jobs >= 1


def test_driver_site_orig_ids_start_no_job(spark, indexes, monkeypatch):
    """A driver-site top-k maps back to original ids with a pyarrow read
    of the docmaps (the build's and the streamed batch's): the rows equal
    the Spark site's broadcast join, and no job starts."""
    h = indexes["pre"]

    def search(orig_ids=True):
        return _rows(h.search("merge tree", k=10, mode="should",
                              with_pre_score=True, orig_ids=orig_ids))

    rows, jobs = _jobs(spark, search)
    assert rows and jobs == 0
    assert rows == _on_spark_site(monkeypatch, h, search)
    internal = search(orig_ids=False)
    assert [s for _, s in rows] == [s for _, s in internal]
    assert [d for d, _ in rows] != [d for d, _ in internal]


def test_fresh_handle_first_batch_starts_no_job(spark, indexes):
    """The first ``term_df`` of a handle reads term_stats with pyarrow
    and never opens the Spark table, so on the driver site even a fresh
    handle's first request starts no job."""
    h = SegmentIndex(spark, f"{BASE}/pre")
    rows, jobs = _jobs(spark, lambda: h.search_batch(QUERIES, k=5).collect())
    assert rows and jobs == 0
    assert h._term_stats_df is None


def test_driver_results_are_not_memoized(indexes, monkeypatch):
    h = indexes["del"]
    first = h.search("merge tree", k=5, mode="should")
    assert wand.driver_result(first)
    assert h.search("merge tree", k=5, mode="should") is not first
    assert not h._plan_memo
    # the Spark site keeps memoizing its plans
    plans = _on_spark_site(monkeypatch, h, lambda: [
        h.search("merge tree", k=5, mode="should") for _ in range(2)
    ])
    assert plans[0] is plans[1] and not wand.driver_result(plans[0])


def test_estimate_at_constant_takes_spark_site(spark, indexes, monkeypatch):
    h = indexes["del"]
    assert h.driver.segments == N // DPS + 1
    dfs = h.term_df(["merge", "tree"])
    est = (dfs["merge"] + dfs["tree"]
           + wand.KERNEL_CALL_POSTINGS * h.driver.segments)
    monkeypatch.setattr(wand, "DRIVER_SITE_POSTINGS", est + 1)
    assert wand.driver_result(h.search("merge tree", k=5, mode="should"))
    monkeypatch.setattr(wand, "DRIVER_SITE_POSTINGS", est)
    h._plan_memo.clear()
    assert not wand.driver_result(h.search("merge tree", k=5, mode="should"))


def test_kernel_calls_count_toward_the_estimate(indexes):
    """A batch with few postings but many (segment, query) kernel calls
    takes the Spark site at the default constant."""
    h = indexes["del"]
    calls = -(-wand.DRIVER_SITE_POSTINGS // wand.KERNEL_CALL_POSTINGS)
    batch = [(f"q{i}", "zzabsentzz", "should")
             for i in range(-(-calls // h.driver.segments))]
    assert wand.driver_result(h.search_batch(batch[:1], k=5))
    assert not wand.driver_result(h.search_batch(batch, k=5))


def test_unreadable_pinned_file_falls_back_to_spark(spark, indexes):
    h = SegmentIndex(spark, f"{BASE}/del")
    want = _rows(h.search("merge tree", k=10, mode="should"))
    h.driver = h.driver._replace(
        files=h.driver.files + (f"{BASE}/gone/part-0.parquet",)
    )
    h._plan_memo.clear()
    df = h.search("merge tree", k=10, mode="should")
    assert not wand.driver_result(df)
    assert _rows(df) == want


@pytest.mark.parametrize("uris", [
    ["hdfs://nn:8020/idx/index.parquet/part-0.parquet"],
    ["s3a://bucket/idx/index.parquet/part-0.parquet"],
    ["gs://bucket/part-0.parquet", "abfss://c@acct.dfs.core.windows.net/p"],
    ["file:///tmp/idx/part-0.parquet", "s3://bucket/part-1.parquet"],
    ["file://otherhost/idx/part-0.parquet"],
    ["/tmp/idx/part-0.parquet"],
    [],
])
def test_local_paths_refuses_non_file_uris(uris):
    assert wand.local_paths(uris) is None


def test_local_paths_maps_file_uris():
    assert wand.local_paths([
        "file:///tmp/idx/part-0.parquet", "file:/tmp/a%20b/part-1.parquet",
        "file://localhost/tmp/c.parquet",
    ]) == ("/tmp/idx/part-0.parquet", "/tmp/a b/part-1.parquet",
           "/tmp/c.parquet")
