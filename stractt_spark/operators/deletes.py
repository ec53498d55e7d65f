"""Document deletes (tombstones) + compaction.

Reference semantics (tantivy-style): a delete does NOT rewrite posting
data — it records a tombstone set that every query masks BEFORE the
top-k cut, and the space/statistics are reclaimed at the next merge
("compaction").  Until compaction, global stats (num_docs, avgdl, dfs)
keep their pre-delete values — exactly the reference behavior, where
deleted docs still count toward idf until segments are merged.

Spark-native layout: tombstones are extra rows in the unified index
parquet (term = ``\\x00__del__``, ``id_bytes`` = raw sorted int64 doc
ids, one row per touched segment per delete batch), written with a
plain parquet append.  They ride the existing pruned scan (every query
adds the tombstone term to its ``term IN (...)`` pushdown) and arrive
in the per-segment kernel with zero plan changes — no driver-side
delete set, no broadcast, bounded by the deletes that actually live in
that segment.

``merge_indexes`` applies tombstones during its decode (postings of
deleted docs are dropped, doc maps shrink, stats are recomputed from
the exact per-doc token counts), so a single-source merge IS the
compaction: ``compact_index`` is sugar for it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    doc_ids,
) -> int:
    """Tombstone ``doc_ids`` (the caller's id space: original ids on a
    presorted index, internal ids otherwise).  Returns the number of NEW
    tombstones written (ids already deleted or unknown are skipped).

    CONTRACT: only LIVE doc slots (≥1 indexed token) are tombstoned —
    gap slots inside the id span and zero-token docs are skipped (they
    are indistinguishable in the index layout, match no query, and a
    phantom tombstone would corrupt compaction's num_docs/avgdl
    accounting); purge zero-token docs by filtering the source at the
    next rebuild instead.  Deletes compose with streaming appends (ids
    past the build high-water mark resolve through the batch docmaps)
    and with
    multi-field indexes (the per-field sentinels' exact dl tails let
    compaction recompute exact per-field stats).  A quota query on a
    tombstoned index raises until compaction — truncated posting lists
    can no longer guarantee ``max_docs`` live higher-pre matches above
    the cut."""
    import json
    import os

    from ..plans.build import IndexPaths
    from .segments import DELETES_TERM

    from pyspark.sql import functions as F

    paths = IndexPaths(index_dir)
    stats = paths.read_stats()
    ids = sorted({int(i) for i in doc_ids})
    if not ids:
        return 0
    dps = int(stats["docs_per_segment"])

    if stats.get("presorted"):
        # caller speaks ORIGINAL ids; tombstones store INTERNAL ids
        from ..streaming.ingest import registered_docmaps

        dm = spark.read.parquet(*registered_docmaps(index_dir, stats))
        req = spark.createDataFrame(
            [(i,) for i in ids], "orig_id long"
        )
        rows = (
            dm.join(req, "orig_id", "left_semi")
            .select("doc_id").collect()
        )
        internal = sorted(int(r["doc_id"]) for r in rows)
    else:
        cand = [i for i in ids if 0 <= i < stats.get(
            "next_doc_id", stats["num_docs"]
        )]
        # validate against LIVE doc slots, not just the id range: streamed
        # / aligned builds leave gap slots (dl=0, no postings) inside the
        # span, and compaction's delete accounting joins tombstones
        # against decode_exact_dls — which emits every slot — so a
        # phantom tombstone would be subtracted from num_docs/avgdl.
        # Bounded: the scan is filtered to sentinel rows and the result
        # to the candidate ids (O(len(ids)) driver rows).
        internal = []
        if cand:
            from ..streaming.ingest import registered_paths

            unified = spark.read.parquet(*registered_paths(index_dir, stats))
            if stats.get("multifield"):
                from .merge import decode_mf_norms
                from .multifield import MF_NORMS_PREFIX

                dls = decode_mf_norms(unified.filter(
                    F.col("term").startswith(MF_NORMS_PREFIX)
                )).groupBy("doc_id").agg(F.sum("dl").alias("dl"))
            else:
                from .merge import decode_exact_dls
                from .segments import split_unified

                _, nrm = split_unified(unified)
                dls = decode_exact_dls(nrm)
            req = spark.createDataFrame(
                [(i,) for i in cand], "doc_id long"
            )
            live_rows = (
                dls.filter(F.col("dl") > 0)
                .join(req, "doc_id", "left_semi")
                .select("doc_id").collect()
            )
            internal = sorted(int(r["doc_id"]) for r in live_rows)
    # drop ids already tombstoned (idempotent re-delete)
    existing = read_tombstones(spark, index_dir)
    if existing.size:
        internal = [i for i in internal if i not in set(existing.tolist())]
    if not internal:
        return 0

    arr = np.asarray(internal, dtype=np.int64)
    segs = (arr // dps).astype(np.int64)
    out_rows = []
    for seg in np.unique(segs):
        seg_ids = arr[segs == seg]
        out_rows.append({
            "segment_id": int(seg),
            "term": DELETES_TERM,
            "block_id": -1,
            "first_doc_id": int(seg_ids.min()),
            "last_doc_id": int(seg_ids.max()),
            "num_docs": int(seg_ids.size),
            "id_bytes": seg_ids.tobytes(),
            "tf_bytes": b"",
            "pos_bytes": None,
            "max_tf": 0,
            "min_norm_id": 0,
        })
    from .segments import SEGMENTS_SCHEMA

    pdf = pd.DataFrame(out_rows)
    (
        spark.createDataFrame(pdf, SEGMENTS_SCHEMA)
        .write.mode("append").parquet(paths.index)
    )
    stats["deleted_docs"] = int(stats.get("deleted_docs", 0) + arr.size)
    tmp = paths.stats + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=2)
    os.replace(tmp, paths.stats)
    return int(arr.size)


def read_tombstones(spark: SparkSession, index_dir: str) -> np.ndarray:
    """All tombstoned INTERNAL ids of an index (sorted, deduped) — a
    driver-side array for compaction-time bookkeeping and tests; query
    kernels never call this (they read the per-segment rows off the
    scan)."""
    from ..plans.build import IndexPaths
    from ..streaming.ingest import registered_paths
    from .segments import DELETES_TERM

    from pyspark.sql import functions as F

    stats = IndexPaths(index_dir).read_stats()
    rows = (
        spark.read.parquet(*registered_paths(index_dir, stats))
        .filter(F.col("term") == DELETES_TERM)
        .select("id_bytes").collect()
    )
    if not rows:
        return np.zeros(0, dtype=np.int64)
    return np.unique(np.concatenate([
        np.frombuffer(bytes(r["id_bytes"]), dtype=np.int64) for r in rows
    ]))


def compact_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    docs_per_segment: int | None = None,
):
    """Rewrite the index without its tombstoned docs — a single-source
    ``merge_indexes`` (the reference reclaims deletes the same way: at
    segment merge).  Stats are recomputed over the surviving docs, so
    post-compaction scores are bit-identical to an index built fresh
    without the deleted docs."""
    from .merge import merge_indexes

    return merge_indexes(spark, [index_dir], out_dir,
                         docs_per_segment=docs_per_segment)
