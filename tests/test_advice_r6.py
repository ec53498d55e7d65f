"""Regression tests for the round-6 ADVICE findings: cache() drops plans
memoized over the uncached scans, the driver-side term_df lookup falls
back to Spark on a corrupt parquet footer, and a non-numeric
``spark.sql.shuffle.partitions`` falls back to defaultParallelism."""

import os
import shutil
from types import SimpleNamespace

import pytest

from stractt_spark.operators.multifield import (
    MultiFieldSegmentIndex,
    build_index_fused_multifield,
)
from stractt_spark.plans.build import (
    SegmentIndex,
    _local_term_df,
    build_index_fused,
)
from stractt_spark.session import shuffle_partitions
from stractt_spark.sources.corpus import make_corpus

BASE = "/tmp/stractt_advice_r6_test"


@pytest.fixture(scope="module")
def roots(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    rows = make_corpus(120)
    docs = spark.createDataFrame(
        [(i, r["path"], r["content"]) for i, r in enumerate(rows)],
        "doc_id long, path string, content string",
    )
    build_index_fused(spark, docs, f"{BASE}/sf", docs_per_segment=48)
    build_index_fused_multifield(
        spark, docs, f"{BASE}/mf", {"path": "path", "content": "content"},
        docs_per_segment=48,
    )
    return {"sf": f"{BASE}/sf", "mf": f"{BASE}/mf"}


@pytest.mark.usefixtures("spark_site")
@pytest.mark.parametrize("kind", ["sf", "mf"])
def test_cache_drops_plans_memoized_before_it(spark, roots, kind):
    cls = SegmentIndex if kind == "sf" else MultiFieldSegmentIndex
    idx = cls(spark, roots[kind])
    before = idx.search("merge tree", k=5, mode="should")
    assert idx.search("merge tree", k=5, mode="should") is before
    want = before.collect()
    idx.cache()
    after = idx.search("merge tree", k=5, mode="should")
    assert after is not before
    assert "InMemoryRelation" in after._jdf.queryExecution().optimizedPlan().toString()
    assert after.collect() == want


def test_local_term_df_falls_back_on_corrupt_parquet(spark, roots):
    idx = SegmentIndex(spark, roots["sf"])
    want = _local_term_df(lambda: idx.term_stats, idx.paths.term_stats,
                          ["merge", "tree"])
    assert want["merge"] > 0
    bad = f"{BASE}/corrupt_term_stats"
    shutil.rmtree(bad, ignore_errors=True)
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file" * 4)
    # the Spark reader (opened only on this fallback) still reads the
    # real table
    got = _local_term_df(lambda: idx.term_stats, bad, ["merge", "tree"])
    assert got == want


@pytest.mark.parametrize("conf,want", [("12", 12), ("auto", 7)])
def test_shuffle_partitions_parses_or_falls_back(conf, want):
    spark = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: conf),
        sparkContext=SimpleNamespace(defaultParallelism=7),
    )
    assert shuffle_partitions(spark) == want
