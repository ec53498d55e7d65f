"""Segment build: docs → the unified index table of compressed
per-segment posting blocks plus one sentinel row per segment.

Spark-first re-expression of the reference's segment writer + posting
format ([tantivy contract]; usage /root/reference/src/inverted_index.rs:
130-177, SURVEY.md §2.3):

* a **segment** is a doc-id range (``segment_id = doc_id // docs_per_
  segment``) holding the full posting lists for its docs — the same
  addressing unit the reference searches per-thread and merges
  (src/inverted_index.rs:54-76).  Doc-range segmentation also splits any
  globally-hot term's postings across segments, which is exactly the
  salting the north rule asks for — the shuffle key is (segment_id, term),
  never a bare hot term.
* posting lists are **128-doc blocks of delta-encoded, varint-packed doc
  ids** plus varint tfs.  The delta chain is contiguous across blocks of
  one (segment, term): block i's first delta is relative to block i-1's
  last doc, and each block's absolute ``first_doc_id``/``last_doc_id``
  live in its row, so (a) a full list decodes with ONE vectorized pass
  over the concatenated bytes, and (b) any block subset decodes
  independently (skip-friendly).
* per block we keep **max_tf and min_norm_id** — the exact skip data
  block-max WAND needs (max-tf-per-block is the tantivy skip-list payload
  the reference's early termination relies on). A build-time
  ``max_impact`` is NOT stored: idf/avgdl change under merge, so the query
  computes bounds from (max_tf, min_norm_id) + current global stats.
* fieldnorms are packed one byte per doc per segment
  (``norm_bytes[local_id]``), mirroring the reference's fieldnorm cache
  (src/fastfield_cache.rs).

Shuffle accounting: exactly ONE wide exchange — the repartition on
segment_id that brings each segment's docs together (the reference's
pairwise index-merge fold, replaced by a single shuffle, SURVEY.md §4);
none with ``aligned_input``.  Encoding is a narrow Arrow pass per
segment, and merges re-encode through the same :func:`segment_rows`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import shuffle_partitions

BLOCK_SIZE = 128  # docs per posting block [tantivy contract]

SEGMENTS_SCHEMA = StructType(
    [
        StructField("segment_id", IntegerType(), False),
        StructField("term", StringType(), False),
        StructField("block_id", IntegerType(), False),
        StructField("first_doc_id", LongType(), False),
        StructField("last_doc_id", LongType(), False),
        StructField("num_docs", IntegerType(), False),
        StructField("id_bytes", BinaryType(), False),
        StructField("tf_bytes", BinaryType(), False),
        # per-block position stream (delta+varint, chain reset per doc) —
        # present when the index is built WithFreqsAndPositions, else null
        StructField("pos_bytes", BinaryType(), True),
        StructField("max_tf", IntegerType(), False),
        StructField("min_norm_id", IntegerType(), False),
    ]
)

def encode_segment_arrays(
    seg: int,
    term_codes: np.ndarray,
    uniq_terms: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norm_ids: np.ndarray,
    positions_flat: np.ndarray | None = None,
) -> pd.DataFrame:
    """Encode ONE segment's postings (already sorted by (term_code,
    doc_id); ``term_codes`` index into sorted ``uniq_terms``) into block
    rows — fully vectorized: one delta pass with per-term chain resets, ONE
    varint encode of the whole segment id/tf streams (sliced at block
    boundaries via per-value byte lengths), and reduceat for the per-block
    max_tf / min_norm skip metadata.  The only Python-level loop is the
    final per-block byte slicing.  Integer term codes keep every
    comparison/sort off the string path (pandas object sorts measurably
    bottlenecked the stage)."""
    from ..functions.codec import varint_encode

    n = len(doc_ids)
    ids = doc_ids.astype(np.uint64)
    term_change = np.empty(n, dtype=bool)
    term_change[0] = True
    np.not_equal(term_codes[1:], term_codes[:-1], out=term_change[1:])
    term_starts = np.flatnonzero(term_change)
    # delta chain contiguous within each term; absolute at term start
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=deltas[1:])
    deltas[term_starts] = ids[term_starts]

    term_lens = np.diff(np.append(term_starts, n))
    bpt = (term_lens + BLOCK_SIZE - 1) // BLOCK_SIZE  # blocks per term
    total_blocks = int(bpt.sum())
    # block_id within term, block start/end row offsets
    first_block = np.cumsum(bpt) - bpt
    block_id = np.arange(total_blocks, dtype=np.int64) - np.repeat(first_block, bpt)
    block_starts = np.repeat(term_starts, bpt) + block_id * BLOCK_SIZE
    block_ends = np.minimum(
        block_starts + BLOCK_SIZE, np.repeat(term_starts + term_lens, bpt)
    )

    id_stream, id_nbytes = varint_encode(deltas, return_lengths=True)
    tf_stream, tf_nbytes = varint_encode(tfs.astype(np.uint64), return_lengths=True)
    id_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(id_nbytes, out=id_off[1:])
    tf_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tf_nbytes, out=tf_off[1:])

    max_tf = np.maximum.reduceat(tfs, block_starts)
    min_norm = np.minimum.reduceat(norm_ids, block_starts)
    id_bytes = [id_stream[id_off[s]:id_off[e]] for s, e in zip(block_starts, block_ends)]
    tf_bytes = [tf_stream[tf_off[s]:tf_off[e]] for s, e in zip(block_starts, block_ends)]

    if positions_flat is not None:
        # positions delta-encoded with chain reset per posting row; block
        # byte ranges derived from cumulative tf (value space) + per-value
        # byte lengths — same one-pass-encode / slice-at-boundaries trick
        pos = positions_flat.astype(np.uint64)
        cumtf = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(tfs, out=cumtf[1:])
        pdeltas = np.empty(len(pos), dtype=np.uint64)
        if len(pos):
            pdeltas[0] = pos[0]
            np.subtract(pos[1:], pos[:-1], out=pdeltas[1:])
            row_starts_v = cumtf[:-1][tfs > 0]
            pdeltas[row_starts_v] = pos[row_starts_v]
        pos_stream, pos_nbytes = varint_encode(pdeltas, return_lengths=True)
        pos_off = np.zeros(len(pos) + 1, dtype=np.int64)
        np.cumsum(pos_nbytes, out=pos_off[1:])
        pos_bytes = [
            pos_stream[pos_off[cumtf[s]]:pos_off[cumtf[e]]]
            for s, e in zip(block_starts, block_ends)
        ]
    else:
        pos_bytes = [None] * total_blocks

    return pd.DataFrame(
        {
            "segment_id": pd.Series(np.full(total_blocks, seg), dtype="int32"),
            "term": pd.Series(
                np.repeat(uniq_terms[term_codes[term_starts]], bpt), dtype="object"
            ),
            "block_id": pd.Series(block_id, dtype="int32"),
            "first_doc_id": pd.Series(ids[block_starts].astype(np.int64), dtype="int64"),
            "last_doc_id": pd.Series(ids[block_ends - 1].astype(np.int64), dtype="int64"),
            "num_docs": pd.Series(block_ends - block_starts, dtype="int32"),
            "id_bytes": pd.Series(id_bytes, dtype="object"),
            "tf_bytes": pd.Series(tf_bytes, dtype="object"),
            "pos_bytes": pd.Series(pos_bytes, dtype="object"),
            "max_tf": pd.Series(max_tf, dtype="int32"),
            "min_norm_id": pd.Series(min_norm, dtype="int32"),
        }
    )


# Sentinel "term" for per-segment metadata rows in the fused unified table:
# sorts before every real token (no real token starts with \x00) and carries
# the packed norm bytes + exact token totals of its segment.
NORMS_SENTINEL = "\x00__seg_meta__"
# tombstone rows (operators/deletes.py): id_bytes = raw sorted int64 doc
# ids, one row per (segment, delete batch); ride the segments side of the
# unified table and are masked pre-cut by every query kernel
DELETES_TERM = "\x00__del__"

# Reserved namespace for attribute filter terms: the reference implements
# site:/domain: filters as term queries on identity-tokenized fields
# (site_no_tokenizer, src/query/parser.rs:193-216, tokenizer.rs:157-202);
# here attribute values become "\x01field:value" terms — they flow through
# posting lists, intersection and pruning like any term, carry tf=1, and
# are excluded from dl/fieldnorms and scoring.
ATTR_PREFIX = "\x01"


def attr_term(fieldname: str, value: str) -> str:
    return f"{ATTR_PREFIX}{fieldname}:{value}"


def segment_rows(
    seg: int,
    base: int,
    terms: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    positions,
    narr: np.ndarray,
    dl_span: np.ndarray,
    n_docs: int,
    pre: np.ndarray | None,
) -> pd.DataFrame:
    """ONE segment's unified rows — its NORMS_SENTINEL row, then its
    posting blocks — from its postings (``terms`` / ``doc_ids`` / ``tfs``
    per posting, in any order; ``positions``: per-posting position lists
    or None) and its span-aligned doc side: packed norm ids ``narr``,
    exact token counts ``dl_span`` and, for presorted indexes, float32
    pre-scores ``pre`` (``[local_id]``, 0 for absent docs).  The
    single-field build, its streamed batches and every single-field merge
    write through here, so a merged segment is the segment a one-shot
    build over the same docs writes.

    The sentinel row: ``id_bytes`` = ``narr``, ``pos_bytes`` = ``pre``
    (None when not presorted), ``tf_bytes`` = varint [exact total tokens,
    ``n_docs``, postings, blocks, compressed bytes, then ``dl_span``].
    All per-segment build metrics ride there so the stats/lineage stage
    reads ONLY pruned sentinel columns, never the block binaries; the dl
    tail is the reference's num_tokens fast field
    (src/ranking/goggles/pattern_query.rs:243,290 reads it for
    trailing-anchor pattern matching) — quantized norms alone cannot
    answer "is this the document's last token"."""
    from ..functions.codec import varint_encode

    span = len(narr)

    def sentinel(n_postings: int, n_blocks: int, nbytes: int) -> pd.DataFrame:
        stats_vals = np.concatenate([
            np.array(
                [int(dl_span.sum()), n_docs, n_postings, n_blocks, nbytes],
                dtype=np.uint64,
            ),
            dl_span.astype(np.uint64),
        ])
        return pd.DataFrame({
            "segment_id": pd.Series([seg], dtype="int32"),
            "term": pd.Series([NORMS_SENTINEL], dtype="object"),
            "block_id": pd.Series([-1], dtype="int32"),
            "first_doc_id": pd.Series([base], dtype="int64"),
            "last_doc_id": pd.Series([base + span - 1], dtype="int64"),
            "num_docs": pd.Series([span], dtype="int32"),
            "id_bytes": pd.Series([narr.tobytes()], dtype="object"),
            "tf_bytes": pd.Series([varint_encode(stats_vals)], dtype="object"),
            "pos_bytes": pd.Series(
                [None if pre is None else pre.tobytes()], dtype="object"
            ),
            "max_tf": pd.Series([0], dtype="int32"),
            "min_norm_id": pd.Series([0], dtype="int32"),
        })

    if not len(doc_ids):
        return sentinel(0, 0, 0)
    # integer sort: factorize terms (sort=True → codes follow
    # lexicographic term order), then ONE lexsort on (code, doc_id)
    codes, uniq = pd.factorize(terms, sort=True)
    order = np.lexsort((doc_ids, codes))
    ids = doc_ids[order]
    tfs = tfs[order]
    positions_flat = None
    if positions is not None:
        pos_obj = np.empty(len(ids), dtype=object)
        pos_obj[:] = positions
        positions_flat = np.fromiter(
            (v for sub in pos_obj[order] for v in sub),
            dtype=np.int64, count=int(tfs.sum()),
        )
    blocks = encode_segment_arrays(
        seg, codes[order], np.asarray(uniq, dtype=object), ids, tfs,
        narr[ids - base].astype(np.int64), positions_flat,
    )
    nbytes = int(
        blocks["id_bytes"].str.len().sum() + blocks["tf_bytes"].str.len().sum()
    )
    return pd.concat(
        [sentinel(len(ids), len(blocks), nbytes), blocks], ignore_index=True
    )


def build_segments_fused(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    analyzer: str,
    docs_per_segment: int,
    stopwords: frozenset[str] = frozenset(),
    include_positions: bool = False,
    attr_cols: list[str] | None = None,
    pre_col: str | None = None,
    aligned_input: bool = False,
) -> DataFrame:
    """Docs → unified index rows in ONE shuffle + ONE Arrow pass
    (``aligned_input=True``: ZERO shuffles — see encode_partition below).

    ``attr_cols``: document attribute columns (e.g. repo, lang) indexed as
    identity filter terms ``\\x01col:value`` (see :func:`attr_term`) —
    tf=1, excluded from dl/norm stats, usable as Must/MustNot filters.

    ``pre_col``: per-doc query-independent pre-computed score column
    (reference ``pre_computed_score``, src/ranking/signal.rs:296-333).
    Packed as a float32 array into the sentinel row's otherwise-unused
    ``pos_bytes`` (``pre[local_id]``), mirroring the packed-norms layout —
    the query kernel adds it to the final score and the build's
    pre-score-ordered doc ids make the max-docs quota sound (the
    reference's sorted-by-score segments, src/inverted_index.rs:100-106).

    This is the reference's build shape verbatim re-expressed: each task
    receives a complete doc-range segment and builds its full posting
    blocks locally (the reference's indexing worker does the same per job,
    /root/reference/src/entrypoint/indexer.rs:80-184, writer commit
    src/inverted_index.rs:166-177).  No row-oriented postings table is
    ever persisted (at 10^12 files that would be two full extra passes
    over the largest intermediate in the system): raw doc text is shuffled
    once, grouped by segment — the only wide exchange in the build.

    Output: SEGMENTS_SCHEMA rows, per segment its NORMS_SENTINEL row and
    its posting blocks (:func:`segment_rows`).
    """
    from ..functions.fieldnorm import fieldnorm_to_id
    from ..functions.tokenizer import get_analyzer

    tokenize = get_analyzer(analyzer)
    needs_stops = analyzer in ("normal", "code")
    attr_cols = attr_cols or []
    pre_cols = (
        [F.col(pre_col).cast("double").alias("_pre")] if pre_col else []
    )
    src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("_text"),
        *[F.col(c).cast("string").alias(f"_a_{c}") for c in attr_cols],
        *pre_cols,
    ).withColumn("segment_id", (F.col("doc_id") / F.lit(docs_per_segment)).cast("int"))

    def encode_segment(seg: int, pdf: pd.DataFrame) -> pd.DataFrame:
        base = seg * docs_per_segment
        doc_ids_in = pdf["doc_id"].to_numpy(dtype=np.int64)
        texts = pdf["_text"].values
        attr_vals = {c: pdf[f"_a_{c}"].values for c in attr_cols}
        # tokenize + tf per doc (dict counting is C-speed), flatten
        all_terms: list[str] = []
        all_docs: list[np.ndarray] = []
        all_tfs: list[list[int]] = []
        all_pos: list[list[int]] = []  # per posting row, when positions on
        dls = np.zeros(len(texts), dtype=np.int64)
        from collections import Counter

        for i, text in enumerate(texts):
            toks = (
                tokenize(text or "", stopwords) if needs_stops else tokenize(text or "")
            )
            dls[i] = len(toks)
            atoks = [
                attr_term(c, attr_vals[c][i])
                for c in attr_cols
                if attr_vals[c][i] is not None
            ]
            if include_positions:
                pos: dict[str, list[int]] = {}
                for j, t in enumerate(toks):
                    pos.setdefault(t, []).append(j)
                for at in atoks:
                    pos.setdefault(at, []).append(0)
                all_terms.extend(pos.keys())
                all_tfs.append([len(v) for v in pos.values()])
                all_pos.extend(pos.values())
                all_docs.append(np.full(len(pos), doc_ids_in[i], dtype=np.int64))
            else:
                tf = Counter(toks)  # C fast-path, ~2× the dict.get loop
                for at in atoks:
                    tf[at] = 1
                all_terms.extend(tf.keys())
                all_tfs.append(list(tf.values()))
                all_docs.append(np.full(len(tf), doc_ids_in[i], dtype=np.int64))
        local = doc_ids_in - base
        span = int(local.max()) + 1 if len(local) else 0
        narr = np.zeros(span, dtype=np.uint8)
        narr[local] = fieldnorm_to_id(dls).astype(np.uint8)
        dl_span = np.zeros(span, dtype=np.uint64)
        dl_span[local] = dls.astype(np.uint64)
        pre = None
        if pre_col:
            pre = np.zeros(span, dtype=np.float32)
            pre[local] = pdf["_pre"].to_numpy(dtype=np.float64).astype(np.float32)
        return segment_rows(
            seg, base, np.array(all_terms, dtype=object),
            np.concatenate(all_docs),
            np.fromiter((v for sub in all_tfs for v in sub), dtype=np.int64,
                        count=len(all_terms)),
            all_pos if include_positions else None,
            narr, dl_span, len(texts), pre,
        )

    def encode(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return encode_segment(int(key[0]), pdf)

    if not aligned_input:
        # Explicit hash repartition on the group key BEFORE the cogroup-free
        # groupBy: AQE's post-shuffle coalescing targets
        # advisoryPartitionSizeInBytes of SHUFFLE bytes, but the reduce-side
        # cost here is the Arrow→Python encode kernel, which AQE cannot see
        # — measured locally it folded a 4-segment corpus into 3 tasks (two
        # segments serialized on one core).  A user-specified repartition is
        # exempt from AQE coalescing, so the kernel keeps
        # spark.sql.shuffle.partitions-way parallelism (cluster-configured;
        # segments per task still bounded below by the segment layout).
        n_shuffle = shuffle_partitions(src.sparkSession)
        return (
            src.repartition(n_shuffle, "segment_id")
            .groupBy("segment_id")
            .applyInPandas(encode, SEGMENTS_SCHEMA)
        )

    # ZERO-SHUFFLE path: the caller guarantees every input partition holds
    # only WHOLE segments (range-partitioned by id with segment-aligned
    # boundaries — an Iceberg table sorted/split on the id column, or
    # corpus_spark_df(align=docs_per_segment)).  Each partition encodes
    # its segments in place; build_index_fused verifies the contract after
    # the write (a segment spanning two partitions would emit two sentinel
    # rows).  This removes the build's only wide exchange — at 100 TB the
    # difference between one pass and two over the corpus bytes.
    def encode_partition(batches):
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        whole = pd.concat(parts, ignore_index=True)
        for seg, g in whole.groupby("segment_id", sort=True):
            yield encode_segment(int(seg), g.reset_index(drop=True))

    return src.mapInPandas(encode_partition, SEGMENTS_SCHEMA)


class NormsSplit(NamedTuple):
    """How a unified table yields its norms side: the sentinel rows
    (``term == sentinel``, or every term starting with it when
    ``prefix``), each column renamed ``(alias, source)``; every other row
    is a block row.  Both query sites use the ONE definition a handle
    holds — the Spark views through :meth:`rows` / :meth:`select`, the
    driver-side pyarrow read through :meth:`arrow_rows` and ``cols``."""

    sentinel: str
    prefix: bool
    cols: tuple[tuple[str, str], ...]

    def rows(self):
        """The norms-row predicate as a Spark column."""
        t = F.col("term")
        return t.startswith(self.sentinel) if self.prefix else t == self.sentinel

    def arrow_rows(self):
        """The same predicate as a pyarrow dataset expression (a prefix
        is the range [sentinel, sentinel with its last char bumped))."""
        import pyarrow.dataset as pads

        t = pads.field("term")
        if not self.prefix:
            return t == self.sentinel
        hi = self.sentinel[:-1] + chr(ord(self.sentinel[-1]) + 1)
        return (t >= self.sentinel) & (t < hi)

    def select(self, unified: DataFrame) -> DataFrame:
        return unified.filter(self.rows()).select(*[
            F.col(src) if alias == src else F.col(src).alias(alias)
            for alias, src in self.cols
        ])


# the single-field fused table: one NORMS_SENTINEL row per segment.  The
# norms view carries ``pre_bytes`` (packed float32 pre-computed scores)
# when the build was presorted, else null, and ``meta_bytes`` — varint
# [5 metrics, then exact per-doc token counts]; the query kernel decodes
# the tail for trailing-anchor goggle patterns
UNIFIED_NORMS = NormsSplit(NORMS_SENTINEL, False, (
    ("segment_id", "segment_id"),
    ("base_doc_id", "first_doc_id"),
    ("n_docs", "num_docs"),
    ("norm_bytes", "id_bytes"),
    ("pre_bytes", "pos_bytes"),
    ("meta_bytes", "tf_bytes"),
))


def split_unified(unified: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Unified fused table → (segments view, norms view) — pure filters,
    pushed to the parquet scan (:data:`UNIFIED_NORMS`)."""
    return unified.filter(~UNIFIED_NORMS.rows()), UNIFIED_NORMS.select(unified)


@dataclass(frozen=True, eq=False)
class TermBlocks:
    """One (segment, term)'s posting blocks as read-only numpy columns,
    ascending by ``block_id`` — the array form every decode and every
    per-segment kernel indexes (:func:`term_blocks` builds them).  Block
    metadata is int64; the byte streams are object arrays of ``bytes``
    (``pos_bytes`` None when the scan read no positions).  ``postings``
    is the term's total posting count (Σ ``num_docs``); ``len()`` is its
    block count.  A block subset is an index take (:meth:`take`), not a
    frame filter."""

    block_id: np.ndarray
    first_doc_id: np.ndarray
    last_doc_id: np.ndarray
    num_docs: np.ndarray
    max_tf: np.ndarray
    min_norm_id: np.ndarray
    id_bytes: np.ndarray
    tf_bytes: np.ndarray
    pos_bytes: np.ndarray | None
    postings: int

    def __len__(self) -> int:
        return self.block_id.size

    def take(self, rows: np.ndarray | slice) -> TermBlocks:
        """The blocks at positions ``rows`` (ascending keeps block order)."""
        nd = self.num_docs[rows]
        return TermBlocks(
            self.block_id[rows], self.first_doc_id[rows],
            self.last_doc_id[rows], nd, self.max_tf[rows],
            self.min_norm_id[rows], self.id_bytes[rows], self.tf_bytes[rows],
            None if self.pos_bytes is None else self.pos_bytes[rows],
            int(nd.sum()),
        )


_INT_COLS = ("block_id", "first_doc_id", "last_doc_id", "num_docs",
             "max_tf", "min_norm_id")


def term_blocks(blocks: pd.DataFrame) -> dict[str, TermBlocks]:
    """Block rows of ONE segment → term → :class:`TermBlocks`: one
    lexsort on (term, block_id), then each term's slice of the sorted
    columns (views of read-only arrays, so no kernel can mutate them).
    Rows need every :data:`SEGMENTS_SCHEMA` column except the optional
    ``pos_bytes``."""
    if not len(blocks):
        return {}
    codes, uniq = pd.factorize(blocks["term"].to_numpy(), sort=True)
    order = np.lexsort((blocks["block_id"].to_numpy(), codes))
    codes = codes[order]
    cols: list[np.ndarray | None] = []
    for c in _INT_COLS + ("id_bytes", "tf_bytes", "pos_bytes"):
        if c == "pos_bytes" and c not in blocks.columns:
            cols.append(None)
            continue
        a = blocks[c].to_numpy()[order]
        if c in _INT_COLS:
            a = a.astype(np.int64, copy=False)
        a.flags.writeable = False
        cols.append(a)
    starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
    ends = np.r_[starts[1:], codes.size]
    totals = np.add.reduceat(cols[3], starts)
    return {
        uniq[codes[s]]: TermBlocks(
            *(None if a is None else a[s:e] for a in cols), int(n)
        )
        for s, e, n in zip(starts.tolist(), ends.tolist(), totals.tolist())
    }


def decode_term_blocks(tb: TermBlocks) -> tuple[np.ndarray, np.ndarray]:
    """Decode ALL blocks of one (segment, term) — the complete contiguous
    block set.  One vectorized varint pass over the concatenated byte
    stream, then a single cumsum.

    → (doc_ids uint64, tfs uint64)
    """
    from ..functions.codec import varint_decode

    deltas = varint_decode(b"".join(tb.id_bytes))
    ids = np.cumsum(deltas, dtype=np.uint64)
    return ids, varint_decode(b"".join(tb.tf_bytes))


def decode_block_subset(tb: TermBlocks) -> tuple[np.ndarray, np.ndarray]:
    """Decode an arbitrary subset of blocks of one (segment, term).

    Uses each block's absolute ``first_doc_id`` to re-anchor the delta
    chain: ids = cumsum(deltas) - cumsum[start] + first_doc_id per block.
    Vectorized: one decode + one repeat-based correction.
    """
    from ..functions.codec import varint_decode

    deltas = varint_decode(b"".join(tb.id_bytes))
    raw = np.cumsum(deltas, dtype=np.uint64)
    counts = tb.num_docs
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    # correction so each block's first id equals its stored first_doc_id
    corr = tb.first_doc_id.astype(np.uint64) - raw[starts]
    ids = raw + np.repeat(corr, counts)
    return ids, varint_decode(b"".join(tb.tf_bytes))


def decode_subset_positions(
    tb: TermBlocks, tfs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode the position streams of a block subset (any contiguity —
    the delta chain resets at every posting row, so blocks are
    independent).  ``tfs`` must be the subset's decoded tf array.

    → (positions_flat, row_offsets) where row r's positions are
    ``positions_flat[row_offsets[r]:row_offsets[r+1]]``.
    """
    from ..functions.codec import varint_decode

    pos_stream = b"".join(tb.pos_bytes)
    deltas = varint_decode(pos_stream)
    raw = np.cumsum(deltas, dtype=np.uint64)
    offsets = np.zeros(len(tfs) + 1, dtype=np.int64)
    np.cumsum(tfs.astype(np.int64), out=offsets[1:])
    if len(raw):
        row_starts = offsets[:-1]  # every posting row has tf ≥ 1
        corr = raw[row_starts] - deltas[row_starts]
        pos = raw - np.repeat(corr, tfs.astype(np.int64))
    else:
        pos = raw
    return pos.astype(np.int64), offsets
