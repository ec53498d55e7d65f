"""Document deletes (tombstones) + compaction.

Reference semantics (tantivy-style): a delete does NOT rewrite posting
data — it records a tombstone set that every query masks BEFORE the
top-k cut, and the space/statistics are reclaimed at the next merge
("compaction").  Until compaction, global stats (num_docs, avgdl, dfs)
keep their pre-delete values — exactly the reference behavior, where
deleted docs still count toward idf until segments are merged.

Spark-native layout: tombstones are extra rows in the unified index
parquet (term = ``\\x00__del__``, ``id_bytes`` = raw sorted int64 doc
ids, one row per touched segment per delete batch).  They ride the
existing pruned scan (every query adds the tombstone term to its
``term IN (...)`` pushdown) and arrive in the per-segment kernel with
zero plan changes — no driver-side delete set, no broadcast, bounded by
the deletes that actually live in that segment.

A delete starts no Spark job: an index root is a driver path
(``stats.json`` is opened with ``open()``), so :func:`delete_docs` reads
the sentinel rows, docmap rows and tombstones it needs with pyarrow and
writes its tombstone rows as ONE parquet file in the index's own schema:
under a ``.``-prefixed name that no reader lists, then ``os.replace`` to
its final name, then the ``deleted_docs`` count in ``stats.json``.
Handles opened after that see it; an open handle keeps its snapshot.

``merge_indexes`` applies tombstones during its decode (postings of
deleted docs are dropped, doc maps shrink, stats are recomputed from
the exact per-doc token counts), so a single-source merge IS the
compaction: ``compact_index`` is sugar for it.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from ..plans.build import IndexPaths
from ..streaming.ingest import driver_dataset, read_docmap, registered_paths
from .merge import exact_dls_frame, mf_norms_frame
from .multifield import MF_NORMS_PREFIX
from .segments import DELETES_TERM, UNIFIED_NORMS, NormsSplit


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
    and with multi-field indexes (the per-field sentinels' exact dl
    tails let compaction recompute exact per-field stats).  A quota
    query on a tombstoned index raises until compaction — truncated
    posting lists can no longer guarantee ``max_docs`` live higher-pre
    matches above the cut.  Runs on the driver with pyarrow; ``spark``
    is unused."""
    paths = IndexPaths(index_dir)
    stats = paths.read_stats()
    ids = sorted({int(i) for i in doc_ids})
    if not ids:
        return 0
    dps = int(stats["docs_per_segment"])
    if stats.get("presorted"):
        # caller speaks ORIGINAL ids; tombstones store INTERNAL ids
        internal = read_docmap(index_dir, stats, "orig_id", ids)["doc_id"]
    else:
        # validate against LIVE doc slots, not just the id range: streamed
        # / aligned builds leave gap slots (dl=0, no postings) inside the
        # span, and compaction's delete accounting joins tombstones
        # against decode_exact_dls — which emits every slot — so a
        # phantom tombstone would be subtracted from num_docs/avgdl.
        # Bounded: only the candidates' segments' sentinel rows are read.
        hi = stats.get("next_doc_id", stats["num_docs"])
        cand = np.asarray([i for i in ids if 0 <= i < hi], dtype=np.int64)
        internal = _live(index_dir, stats, cand, dps) if cand.size else []
    arr = np.setdiff1d(np.asarray(internal, dtype=np.int64),
                       read_tombstones(spark, index_dir))
    if not arr.size:
        return 0
    segs = arr // dps
    useg = np.unique(segs)
    seg_ids = [arr[segs == s] for s in useg]
    n = len(useg)
    schema = pads.dataset(paths.index, format="parquet").schema
    rows = pa.Table.from_pydict({
        "segment_id": useg.astype(np.int32),
        "term": [DELETES_TERM] * n,
        "block_id": np.full(n, -1, dtype=np.int32),
        "first_doc_id": [int(a[0]) for a in seg_ids],
        "last_doc_id": [int(a[-1]) for a in seg_ids],
        "num_docs": np.asarray([a.size for a in seg_ids], dtype=np.int32),
        "id_bytes": [a.tobytes() for a in seg_ids],
        "tf_bytes": [b""] * n,
        "pos_bytes": pa.nulls(n, pa.binary()),
        "max_tf": np.zeros(n, dtype=np.int32),
        "min_norm_id": np.zeros(n, dtype=np.int32),
    }, schema=schema)
    name = f"part-del-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(paths.index, "." + name)
    try:
        pq.write_table(rows, tmp)
        os.replace(tmp, os.path.join(paths.index, name))
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    stats["deleted_docs"] = int(stats.get("deleted_docs", 0) + arr.size)
    tmp = paths.stats + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=2)
    os.replace(tmp, paths.stats)
    return int(arr.size)


def _live(index_dir: str, stats: dict, cand: np.ndarray, dps: int):
    """The ``cand`` ids (internal) that are live slots: a positive exact
    token count in their segments' sentinel rows (summed over fields on
    a multi-field index)."""
    mf = bool(stats.get("multifield"))
    split = NormsSplit(MF_NORMS_PREFIX, True, tuple(
        (c, c) for c in ("term", "first_doc_id", "id_bytes", "tf_bytes")
    )) if mf else UNIFIED_NORMS
    rows = driver_dataset(registered_paths(index_dir, stats)).to_table(
        columns=[src for _, src in split.cols],
        filter=split.arrow_rows() & pads.field("segment_id").isin(
            pa.array(np.unique(cand // dps).astype(np.int32))),
    ).to_pandas()
    if not len(rows):
        return []
    rows.columns = [alias for alias, _ in split.cols]
    dls = (mf_norms_frame(rows).groupby("doc_id", as_index=False)["dl"].sum()
           if mf else exact_dls_frame(rows))
    live = dls["doc_id"].to_numpy()[dls["dl"].to_numpy() > 0]
    return np.intersect1d(cand, live)


def read_tombstones(spark: SparkSession, index_dir: str) -> np.ndarray:
    """All tombstoned INTERNAL ids of an index (sorted, deduped) — a
    driver-side array read with pyarrow, for deletes, compaction-time
    bookkeeping and tests; query kernels never call this (they read the
    per-segment rows off the scan).  ``spark`` is unused."""
    stats = IndexPaths(index_dir).read_stats()
    rows = driver_dataset(registered_paths(index_dir, stats)).to_table(
        columns=["id_bytes"], filter=pads.field("term") == DELETES_TERM,
    ).column("id_bytes").to_pylist()
    return np.unique(np.concatenate(
        [np.zeros(0, dtype=np.int64)]
        + [np.frombuffer(b, dtype=np.int64) for b in rows]
    ))


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
