"""Posting construction: docs → (doc_id, term, tf, dl, norm_id) in ONE pass.

Spark-first shape of the reference's per-segment posting build
(``/root/reference/src/inverted_index.rs:166-170`` via
``IndexRecordOption::WithFreqsAndPositions``, SURVEY.md §2.3):

* tokenization + term-frequency counting happen **map-side inside one
  Arrow-batched ``mapInPandas``** — tf is a per-document quantity, so no
  shuffle is needed to compute it (the reference's indexing writer does the
  same work single-threaded per segment; here every input split does it in
  parallel).
* each posting row carries the doc's exact token count ``dl`` and its
  byte-quantized fieldnorm id ``norm_id`` (4 small ints per row, ~1 byte
  each after parquet dictionary+RLE) so the query path needs **no join
  against a doc-stats table** — at 100 TB a postings⋈doc_stats join would
  be a full shuffle of the largest table in the system.
* doc ids are assigned deterministically from sorted partition metadata
  (offsets = prefix sums over partition counts), never from task
  scheduling order (SURVEY.md §7 hard part (d)).

No per-row Python anywhere: the UDFs receive pandas batches and the inner
loops are dict-counting over token lists (C-speed) — per BASELINE.json
input_hint.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import shuffle_partitions

POSTINGS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("term", StringType(), False),
        StructField("tf", IntegerType(), False),
        StructField("dl", IntegerType(), False),
        StructField("norm_id", IntegerType(), False),
    ]
)

POSTINGS_POS_SCHEMA = StructType(
    POSTINGS_SCHEMA.fields
    + [StructField("positions", ArrayType(IntegerType(), False), False)]
)


def assign_doc_ids(
    df: DataFrame, order_cols: list[str], num_partitions: int | None = None
) -> DataFrame:
    """Add a deterministic global ``doc_id`` = rank in the total order of
    ``order_cols`` (must be a unique key, e.g. (repo, path, commit)).

    Scale shape: range-repartition on the key, sort within partitions, then
    ``doc_id = partition_offset + local_index`` where offsets are prefix
    sums of per-partition counts — the same deferred docID remap the
    reference applies at segment merge
    (``/root/reference/src/inverted_index.rs:308-355``).  The id depends
    only on the total order, not on the partition count.

    The range-sorted intermediate is materialized ONCE
    (``localCheckpoint``): every run of ``repartitionByRange`` samples its
    own bounds, so a counts pass and an id pass that each re-ran it would
    disagree on where partitions split — duplicate and skipped ids.  The
    checkpoint also pins the partitions for every downstream read of the
    result, and pays the sample + shuffle + sort once.
    """
    spark = df.sparkSession
    n = num_partitions or shuffle_partitions(spark)
    part = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .localCheckpoint(eager=True)
    )
    counts = (
        part.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .count()
        .collect()
    )
    sizes = {r["_pid"]: r["count"] for r in counts}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in range(n):
        offsets[pid] = acc
        acc += sizes.get(pid, 0)
    out_schema = StructType(part.schema.fields + [StructField("doc_id", LongType(), False)])

    def add_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen = offsets.get(pid, 0)
        for pdf in batches:
            pdf = pdf.copy()
            pdf["doc_id"] = range(seen, seen + len(pdf))
            seen += len(pdf)
            yield pdf

    return part.mapInPandas(add_ids, out_schema)


def build_postings(
    docs: DataFrame,
    text_col: str = "content",
    id_col: str = "doc_id",
    analyzer: str = "ascii",
    stopwords: frozenset[str] = frozenset(),
    include_positions: bool = False,
) -> DataFrame:
    """docs → postings ``(doc_id, term, tf, dl, norm_id [, positions])``,
    one Arrow pass.

    ``include_positions`` mirrors the reference's per-field
    ``IndexRecordOption::WithFreqsAndPositions`` (schema.rs:117-122) —
    needed for PhraseQuery / proximity, ~doubles posting size.

    Narrow transformation: Catalyst prunes the scan to (id_col, text_col)
    (``ReadSchema`` shows only those two), and no shuffle happens here.
    """
    from ..functions.fieldnorm import fieldnorm_to_id
    from ..functions.tokenizer import get_analyzer

    tokenize = get_analyzer(analyzer)
    needs_stops = analyzer in ("normal", "code")
    src = docs.select(
        F.col(id_col).cast(LongType()).alias("doc_id"), F.col(text_col).alias("_text")
    )

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        from collections import Counter

        for pdf in batches:
            doc_ids: list[int] = []
            terms: list[str] = []
            tfs: list[int] = []
            dls: list[int] = []
            poss: list[list[int]] = []
            for doc_id, text in zip(pdf["doc_id"].values, pdf["_text"].values):
                toks = (
                    tokenize(text or "", stopwords)
                    if needs_stops
                    else tokenize(text or "")
                )
                if include_positions:
                    pos: dict[str, list[int]] = {}
                    for i, t in enumerate(toks):
                        pos.setdefault(t, []).append(i)
                    doc_ids.extend([doc_id] * len(pos))
                    terms.extend(pos.keys())
                    tfs.extend(len(v) for v in pos.values())
                    poss.extend(pos.values())
                    dls.extend([len(toks)] * len(pos))
                else:
                    tf = Counter(toks)  # C fast-path
                    doc_ids.extend([doc_id] * len(tf))
                    terms.extend(tf.keys())
                    tfs.extend(tf.values())
                    dls.extend([len(toks)] * len(tf))
            dl_arr = np.asarray(dls, dtype=np.int64)
            norm_ids = fieldnorm_to_id(dl_arr) if len(dls) else dl_arr
            out = {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "term": pd.Series(terms, dtype="object"),
                "tf": pd.Series(tfs, dtype="int32"),
                "dl": pd.Series(dl_arr, dtype="int32"),
                "norm_id": pd.Series(norm_ids, dtype="int32"),
            }
            if include_positions:
                out["positions"] = pd.Series(poss, dtype="object")
            yield pd.DataFrame(out)

    schema = POSTINGS_POS_SCHEMA if include_positions else POSTINGS_SCHEMA
    return src.mapInPandas(emit, schema)


def doc_stats(postings: DataFrame) -> DataFrame:
    """(doc_id, dl, norm_id) — one row per doc (dl is constant per doc)."""
    return postings.groupBy("doc_id").agg(
        F.first("dl").alias("dl"), F.first("norm_id").alias("norm_id")
    )


def global_stats(docs: DataFrame, postings: DataFrame, id_col: str = "doc_id") -> dict:
    """N (incl. empty docs), total token count, avgdl — exact lengths, like
    the reference (bm25.rs:66-73). One tiny two-row job."""
    n_docs = docs.count()
    row = doc_stats(postings).agg(F.sum("dl").alias("t")).collect()[0]
    total = int(row["t"] or 0)
    return {
        "num_docs": n_docs,
        "total_tokens": total,
        "avgdl": (total / n_docs) if n_docs else 0.0,
    }
