"""Incremental index ingest with Structured Streaming.

The reference has no streaming surface (batch crawl → batch index,
SURVEY.md §2.10); this is the Spark-native extension a continuously-
crawled corpus needs: ``readStream`` over an arriving-files directory →
``foreachBatch`` → each micro-batch becomes NEW segments appended to the
index.

Exactly-once without transactions (parquet stand-in for Iceberg):

* each batch writes its unified rows to its OWN directory
  ``batches/b{batch_id}.parquet`` with ``mode("overwrite")`` — a retried
  batch overwrites the identical content instead of double-appending;
* a batch becomes visible only when its id is committed to the
  ``stream_batches`` ledger inside stats.json, in the SAME atomic
  ``os.replace`` that updates num_docs/avgdl — readers
  (:class:`~stractt_spark.plans.build.SegmentIndex`) union only the main
  table plus LEDGERED batch dirs, so a crash between data write and
  ledger commit leaves an invisible orphan that the retry overwrites;
* term_stats updates INCREMENTALLY: old (term, df) ⊎ the new batch's
  dfs (doc spaces are disjoint, so addition is exact) — per-batch cost
  is O(vocabulary + batch), never a full-index pass; the folded-batch
  ledger rides inside the term_stats directory so a crashed retry never
  double-merges (an Iceberg deployment collapses all of this into one
  snapshot commit).

Build parameters (analyzer, positions, attr_cols, docs_per_segment) are
READ FROM THE INDEX'S stats.json, never from the caller — appending with
mismatched tokenization or position options would silently corrupt query
semantics.

Micro-batch doc ids: assigned deterministically from ``order_cols``
(a unique key) starting at a fresh segment boundary after the high-water
mark, so existing segments are never rewritten (the deferred-remap
invariant of operators/merge.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.segments import NORMS_SENTINEL, build_segments_fused
from ..plans.build import IndexPaths


def batch_dir(index_dir: str, batch_id: int) -> str:
    return os.path.join(index_dir, "batches", f"b{batch_id}.parquet")


def batch_docmap_dir(index_dir: str, batch_id: int) -> str:
    return os.path.join(index_dir, "batches", f"b{batch_id}_docmap.parquet")


def registered_paths(index_dir: str, stats: dict) -> list[str]:
    paths = IndexPaths(index_dir)
    return [paths.index] + [
        batch_dir(index_dir, b) for b in stats.get("stream_batches", [])
    ]


def registered_docmaps(index_dir: str, stats: dict) -> list[str]:
    """A presorted index's docmap dirs: the build's map ∪ every LEDGERED
    streamed batch's map (the same visibility rule as the segment dirs)."""
    dirs = [IndexPaths(index_dir).docmap] + [
        batch_docmap_dir(index_dir, b) for b in stats.get("stream_batches", [])
    ]
    return [d for d in dirs if os.path.isdir(d)]


def append_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    order_cols: tuple[str, ...] = ("repo", "path", "commit"),
    pre_score_col: str | None = None,
) -> None:
    """Append one micro-batch of docs as new segments (idempotent).

    PRESORTED indexes: the batch must carry its docs' pre-computed scores
    (``pre_score_col``) and a numeric original-id column named like the
    build's ``id_col``.  New internal ids are assigned by pre-score rank
    WITHIN the batch's fresh segments only — the deferred-remap
    discipline: every segment stays internally pre-ordered (which is what
    the per-segment quota soundness needs), global re-sort is deferred to
    a future full merge exactly like the reference's deferred docID remap
    (src/inverted_index.rs:100-106 sort order is per-segment at commit).
    The batch's (doc_id, orig_id, pre_score) rows land in a per-batch
    docmap dir, visible only once the batch id is ledgered."""
    paths = IndexPaths(index_dir)
    stats = paths.read_stats()
    if batch_id in set(stats.get("stream_batches", [])):
        return  # already committed
    mf = stats.get("multifield")
    if mf is not None and "field_cols" not in mf:
        # indexes written before field_cols landed in stats: appending
        # would have to guess which batch columns feed which fields
        raise ValueError(
            "this MULTI-FIELD index predates streaming support (stats has "
            "no multifield.field_cols); rebuild with "
            "build_index_fused_multifield to enable appends"
        )
    presorted = bool(stats.get("presorted"))
    if presorted and pre_score_col is None:
        raise ValueError(
            "this index is PRESORTED: streaming appends must supply "
            "pre_score_col so new segments stay internally pre-ordered "
            "(quota soundness premise)"
        )
    if not presorted and pre_score_col is not None:
        raise ValueError(
            "pre_score_col given but the index is not presorted"
        )
    # build options come from the index itself
    text_col = stats.get("text_col", "content")
    analyzer = stats["analyzer"]
    # a batch tokenized under a CHANGED definition of the same analyzer
    # would silently mix incompatible postings into the index — same
    # guard as SegmentIndex open
    from ..plans.build import _check_analyzer_fp

    _check_analyzer_fp(stats)
    positions = bool(stats.get("positions"))
    attr_cols = stats.get("attr_cols") or None
    dps = stats["docs_per_segment"]
    hwm = stats.get("next_doc_id", stats["num_docs"])

    n_new = batch_df.count()
    if n_new == 0:
        return
    # ids start at a fresh segment boundary after the high-water mark
    base = ((hwm + dps - 1) // dps) * dps
    from ..operators.postings import assign_doc_ids

    pre_col = None
    if presorted:
        id_col = stats.get("id_col", "doc_id")
        if id_col not in batch_df.columns:
            raise ValueError(
                f"presorted append needs the original id column {id_col!r} "
                "in the batch (docmap orig_id)"
            )
        pre_col = "_pre"
        ranked = (
            batch_df.withColumnRenamed(id_col, "_orig")
            .withColumn(pre_col, F.col(pre_score_col).cast("double"))
            .withColumn("_neg_pre", -F.col(pre_col))
        )
        docs = assign_doc_ids(ranked, ["_neg_pre", "_orig"]).withColumn(
            "doc_id", F.col("doc_id") + F.lit(base)
        )
        bdocmap = batch_docmap_dir(index_dir, batch_id)
        (
            docs.select(
                "doc_id", F.col("_orig").cast("long").alias("orig_id"),
                F.col(pre_col).alias("pre_score"),
            )
            .write.mode("overwrite").parquet(bdocmap)
        )
    else:
        src = batch_df.drop("doc_id") if "doc_id" in batch_df.columns else batch_df
        docs = assign_doc_ids(src, list(order_cols)).withColumn(
            "doc_id", F.col("doc_id") + F.lit(base)
        )

    if mf is not None:
        # per-field namespaces: the batch tokenizes the SAME columns into
        # the SAME '\x02field\x1ftoken' terms as the build, with per-field
        # norm sentinel rows — one shared encoder guarantees it
        from ..operators.multifield import build_segments_fused_multifield

        fields = sorted(mf["fields"])
        fcols = mf["field_cols"]
        src = docs.select(
            "doc_id",
            *[F.col(fcols[f_]).alias(f"_f_{f_}") for f_ in fields],
            *[F.col(c).cast("string").alias(f"_a_{c}")
              for c in (attr_cols or [])],
            *([F.col(pre_col).alias("_pre")] if pre_col else []),
        ).withColumn(
            "segment_id", (F.col("doc_id") / F.lit(dps)).cast("int")
        )
        unified = build_segments_fused_multifield(
            src, fields, analyzer, dps,
            positions=positions, with_pre=pre_col is not None,
            attr_cols=attr_cols,
        )
    else:
        unified = build_segments_fused(
            docs, text_col, "doc_id", analyzer, dps,
            include_positions=positions, attr_cols=attr_cols, pre_col=pre_col,
        )
    bdir = batch_dir(index_dir, batch_id)
    (
        unified.sortWithinPartitions("segment_id", "term", "block_id")
        .write.mode("overwrite")  # idempotent claim: retry rewrites in place
        .parquet(bdir)
    )

    # INCREMENTAL derived tables: doc spaces are disjoint, so the new
    # term_stats is old ⊎ batch-delta (sum of dfs) — the job reads the
    # existing term_stats table (vocabulary-sized) and the NEW batch dir
    # only, never the full index (a full-index pass per micro-batch would
    # make ingest cost grow with index size).  Unlike the old full
    # recompute, a merge is NOT naturally idempotent, so the set of
    # already-folded batch ids travels INSIDE the term_stats directory
    # (_folded.json, swapped atomically with the data): a retry after a
    # crash between the swap and the ledger commit skips the re-merge.
    batch_unified = spark.read.parquet(bdir)
    _recover_dir(paths.term_stats)
    folded_marker = os.path.join(paths.term_stats, "_folded.json")
    folded: list[int] = []
    if os.path.exists(folded_marker):
        with open(folded_marker) as f:
            folded = json.load(f)
    ledger = set(stats.get("stream_batches", []))
    if set(folded) != ledger:
        # a previous fold landed but its ledger commit never did (or the
        # marker is missing): the incremental state may include a batch
        # whose retried content differs — self-heal with a FULL recompute
        # from the ledgered paths plus this batch (the round-2 incremental
        # path had no rebuild story for this divergence)
        full = spark.read.parquet(*registered_paths(index_dir, stats))
        tmp_dir = paths.term_stats + ".tmp"
        merged_term_stats(
            full.filter(~F.col("term").startswith("\x00"))
            .groupBy("term").agg(F.sum("num_docs").cast("long").alias("df")),
            batch_unified,
        ).write.mode("overwrite").parquet(tmp_dir)
        with open(os.path.join(tmp_dir, "_folded.json"), "w") as f:
            json.dump(sorted(ledger) + [batch_id], f)
        _swap_dir(paths.term_stats)
    elif batch_id not in folded:
        tmp_dir = paths.term_stats + ".tmp"
        merged_term_stats(
            spark.read.parquet(paths.term_stats), batch_unified
        ).write.mode("overwrite").parquet(tmp_dir)
        with open(os.path.join(tmp_dir, "_folded.json"), "w") as f:
            json.dump(folded + [batch_id], f)
        _swap_dir(paths.term_stats)

    from ..functions.codec import varint_decode

    meta = (
        batch_unified.filter(F.col("term") == NORMS_SENTINEL)
        .select("tf_bytes").collect()
    )
    batch_tokens = sum(int(varint_decode(bytes(r["tf_bytes"]))[0]) for r in meta)

    # single atomic commit: ledger + stats together
    stats["num_docs"] = int(stats["num_docs"] + n_new)
    stats["next_doc_id"] = int(base + n_new)
    stats["total_tokens"] = int(stats.get("total_tokens", 0) + batch_tokens)
    stats["avgdl"] = (
        stats["total_tokens"] / stats["num_docs"] if stats["num_docs"] else 0.0
    )
    if mf is not None:
        # per-field avgdl from exact integer token totals: the batch's
        # per-field norm sentinel rows carry [field_tokens, n_docs]
        from ..operators.multifield import MF_NORMS_PREFIX

        for r in (
            batch_unified.filter(F.col("term").startswith(MF_NORMS_PREFIX))
            .select("term", "tf_bytes").collect()
        ):
            f_ = r["term"][len(MF_NORMS_PREFIX):]
            mf["field_totals"][f_] += int(
                varint_decode(bytes(r["tf_bytes"]))[0]
            )
        mf["avgdl"] = {
            f_: mf["field_totals"][f_] / stats["num_docs"]
            for f_ in mf["field_totals"]
        }
    stats.setdefault("stream_batches", []).append(batch_id)
    tmp = paths.stats + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=2)
    os.replace(tmp, paths.stats)


def merged_term_stats(old_stats: DataFrame, batch_unified: DataFrame) -> DataFrame:
    """old (term, df) ⊎ the new batch's per-term dfs — exact because the
    batch's doc space is disjoint from everything ledgered.  All
    ``\\x00``-prefixed rows are metadata (the main sentinel AND the
    multi-field per-field norm rows), never countable terms."""
    delta = (
        batch_unified.filter(~F.col("term").startswith("\x00"))
        .groupBy("term")
        .agg(F.sum("num_docs").cast("long").alias("df"))
    )
    return (
        old_stats.unionByName(delta)
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )


def _recover_dir(target: str) -> None:
    """Heal a crash inside :func:`_swap_dir`'s window (target renamed aside
    but the new dir not yet in place): restore ``.old`` as target."""
    old = target + ".old"
    if not os.path.isdir(target) and os.path.isdir(old):
        os.replace(old, target)


def _swap_dir(target: str) -> None:
    """Swap ``target.tmp`` into place via rename-aside: the load-bearing
    term_stats state is never in a deleted-but-not-yet-replaced window (a
    crash leaves either the old dir, or the new dir + a stale ``.old``)."""
    import shutil

    tmp = target + ".tmp"
    old = target + ".old"
    if os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(target):
        os.replace(target, old)
    os.replace(tmp, target)
    if os.path.isdir(old):
        shutil.rmtree(old)


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    schema: str,
    checkpoint_dir: str,
    order_cols: tuple[str, ...] = ("repo", "path", "commit"),
    available_now: bool = True,
    pre_score_col: str | None = None,
    **_compat,
):
    """readStream(parquet files in input_dir) → incremental index appends.

    ``available_now=True`` drains everything currently present and stops
    (test/backfill mode); False runs continuously per micro-batch.
    Tokenizer/positions/attr options always come from the target index's
    stats.json.  ``pre_score_col``: required when the target index is
    PRESORTED (see append_batch).
    """
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(spark, batch_df, batch_id, index_dir,
                     order_cols=order_cols, pre_score_col=pre_score_col)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()
