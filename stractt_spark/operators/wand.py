"""Distributed top-k retrieval over compressed segments.

Query shape (mirrors the reference's per-segment search + merge,
src/inverted_index.rs:179-190 and src/collector.rs:105-211):

1. estimate the work the request scores — Σ ``term_df`` over each
   query's scan terms plus a fixed weight per (segment, query) kernel
   call, known before any read — and pick the site in
   :func:`per_segment`: below :data:`DRIVER_SITE_POSTINGS` on a handle
   whose pinned files are all local runs on the DRIVER, anything else
   (larger scans, non-``file:`` paths, bare DataFrames) launches the
   Spark job;
2. scan the segment blocks filtered to the query terms — the ``term IN``
   predicate reaches the parquet read on both sites (pyarrow filter on
   the driver, PushedFilters in Spark);
3. per segment, its blocks paired with its norms rows (a cogroup on the
   Spark site, the same frames read in-process on the driver) become ONE
   columnar :class:`SegmentView` — a read-only :class:`~.segments.
   TermBlocks` of numpy block arrays per term, built with one lexsort —
   shared by every query of the request; a kernel scores candidates over
   those arrays and returns that segment's top-k as numpy arrays
   (:class:`SegmentTopK`), and the dispatch builds one pandas frame per
   segment per request;
4. global top-k by (score desc, doc_id asc) over the tiny per-segment
   results — Catalyst's TakeOrderedAndProject on the Spark site, a
   driver-side sort into a local relation (no Spark job on ``collect()``)
   on the driver site.

Per-segment kernel (numpy, no per-posting Python and no pandas: block
subsets are index takes on the view's arrays; both the single-field and
the multi-field kernel share this array block core):

* **must (AND)** — block-granular leapfrog intersection, rarest term
  first (the reference orders docsets by size_hint,
  src/query/intersection.rs:46-47): decode the rarest term fully, then for
  every other term decode ONLY blocks whose [first_doc_id, last_doc_id]
  ranges intersect surviving candidates (searchsorted on block fences —
  this is the skip); candidates missing from any term are dropped before
  the next term is touched.  No impact-bound pruning here: every AND
  survivor is scored (required-term blocks filter candidates, so
  skipping them would change the result set).
* **should (OR)** — multi-term block-max pruning
  (:func:`_should_topk_blockmax`): cheap (low-df) terms are decoded fully
  and their docs scored exactly (banking a true k-th-best threshold),
  then the expensive terms' blocks are processed in descending order of a
  cross-term envelope bound ``ub_t(b) + Σ_{t'≠t} max(ub_{t'} over blocks
  overlapping b's doc range)`` and the scan stops when no remaining block
  can beat the banked threshold — the reference's score-ordered early
  termination (src/collector.rs:187-194) expressed over the stored
  (max_tf, min_norm_id) skip metadata.  Results are EXACT (bit-identical
  to the dense TAAT path): every banked doc's score is computed over all
  its terms in canonical order, and a skipped block provably contains no
  top-k doc.  Dense TAAT remains the fallback for the shapes pruning does
  not cover (phrases / filters / quota in OR mode).

Scores are computed in the same canonical term order as the exhaustive
path and the oracle (sorted terms, count-folded), so the three engines are
last-ulp identical.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from types import MappingProxyType
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.bm25 import B, K1, weight
from ..functions.fieldnorm import FIELD_NORMS_TABLE
from ..functions.query_parse import ParsedQuery, parse_query
from .segments import (
    ATTR_PREFIX,
    DELETES_TERM,
    NormsSplit,
    TermBlocks,
    attr_term,
    decode_block_subset,
    decode_subset_positions,
    decode_term_blocks,
    term_blocks,
)

_RESULT_SCHEMA = "segment_id int, doc_id long, score double"
_BATCH_SCHEMA = "query_id string, doc_id long, score double"


class SegmentView(NamedTuple):
    """One segment's cogrouped inputs as read-only numpy columns,
    prepared ONCE per segment and shared by every query scored against
    it: ``by_term`` maps each scanned term to its :class:`TermBlocks`
    (no tombstone rows), ``deleted`` holds the sorted tombstoned doc ids
    (operators/deletes.py) or None, ``norms`` maps each norms-side column
    to its array (one entry per norms row, in cogroup order).  Every
    array is non-writeable and both mappings are read-only proxies."""

    seg: int
    by_term: Mapping[str, TermBlocks]
    deleted: np.ndarray | None
    norms: Mapping[str, np.ndarray]


def segment_view(blocks: pd.DataFrame, norms: pd.DataFrame) -> SegmentView | None:
    """→ the segment's :class:`SegmentView`, or None when a cogroup side
    is empty (nothing to score).  Tombstones are raw int64 id rows under
    DELETES_TERM: the single-field scan carries them with the blocks
    (``id_bytes``); the multi-field handle routes every \\x00 row to the
    norms side (``sentinel`` / ``norm_bytes``)."""
    if len(blocks) == 0 or len(norms) == 0:
        return None
    by_term = term_blocks(blocks)
    tomb = by_term.pop(DELETES_TERM, None)
    raw = list(tomb.id_bytes) if tomb is not None else []
    cols = {}
    for c in norms.columns:
        a = norms[c].to_numpy()
        a.flags.writeable = False
        cols[c] = a
    if "sentinel" in cols:
        raw += list(cols["norm_bytes"][cols["sentinel"] == DELETES_TERM])
    deleted = None
    if raw:
        deleted = np.unique(np.concatenate(
            [np.frombuffer(bytes(b), dtype=np.int64) for b in raw]
        ))
        deleted.flags.writeable = False
    return SegmentView(int(blocks["segment_id"].iloc[0]),
                       MappingProxyType(by_term), deleted,
                       MappingProxyType(cols))


class SegmentTopK(NamedTuple):
    """One kernel call's result: the segment's top-k ``ids`` / ``scores``
    ranked (score desc, doc_id asc), the pre-cut match ``count`` when the
    call asked for it (``with_count``), and ``metrics`` = (tf blocks
    decoded, tf blocks total) when it asked for them
    (``with_metrics``)."""

    ids: np.ndarray
    scores: np.ndarray
    count: int | None = None
    metrics: tuple[int, int] | None = None

    def rows(self) -> tuple[np.ndarray, np.ndarray]:
        """(doc_id, score) rows: the top-k, then the sentinel rows —
        doc_id −1 carries the count, −2 / −3 the blocks decoded / total.
        Negative ids never collide with real docs; the fold helpers
        split them off."""
        ids, scores = [self.ids], [self.scores]
        if self.count is not None:
            ids.append(np.array([-1], dtype=np.int64))
            scores.append(np.array([float(self.count)]))
        if self.metrics is not None:
            ids.append(np.array([-2, -3], dtype=np.int64))
            scores.append(np.array(self.metrics, dtype=np.float64))
        if len(ids) == 1:
            return self.ids, self.scores
        return np.concatenate(ids), np.concatenate(scores)


_NO_MATCH = SegmentTopK(np.zeros(0, dtype=np.int64), np.zeros(0))


def _ranked(
    ids: np.ndarray,
    score: np.ndarray,
    k: int,
    count: int | None = None,
    metrics: tuple[int, int] | None = None,
) -> SegmentTopK:
    """The bounded top-k with the FULL tie order (score desc, doc_id
    asc): a bare argpartition cut breaks score ties at the k boundary by
    array position, dropping the lower doc_id the oracle would keep."""
    ordr = np.lexsort((ids, -score))[:k]
    return SegmentTopK(ids[ordr].astype(np.int64, copy=False),
                       score[ordr].astype(np.float64, copy=False),
                       count, metrics)


def result_frame(seg: int, res: SegmentTopK) -> pd.DataFrame:
    """A single query's per-segment rows (``_RESULT_SCHEMA``), sentinel
    rows included — the one pandas frame of the call."""
    ids, scores = res.rows()
    return pd.DataFrame({
        "segment_id": np.full(ids.size, seg, dtype=np.int32),
        "doc_id": ids, "score": scores,
    })


_DL_TABLE = FIELD_NORMS_TABLE.astype(np.float64)
_DL_TABLE.flags.writeable = False


def _tf_comp(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    norm = K1 * (1.0 - B + B * (dl / avgdl))
    tf = tf.astype(np.float64)
    return tf / (tf + norm)


def _blocks_for_candidates(g: TermBlocks, cand: np.ndarray) -> np.ndarray:
    """Block skip: the positions of the blocks whose [first,last] doc
    range contains a candidate (searchsorted on the sorted candidate
    ids), ascending."""
    lo = np.searchsorted(cand, g.first_doc_id, side="left")
    hi = np.searchsorted(cand, g.last_doc_id, side="right")
    return np.flatnonzero(hi > lo)


def sloppy_chain_count(pos_lists: list[np.ndarray], slop: int) -> int:
    """In-order chain matches with per-step gap ≤ slop+1: greedy count of
    chains p0<p1<…  with p_{i+1} − p_i ∈ [1, slop+1].  slop=0 ⇒ exact
    adjacency (the reference's proximity-ladder phrase semantics,
    query/mod.rs:45-93; goggles intersection_with_slop treats slop=1 as
    adjacent — we keep 0-based slop and document it)."""
    count = 0
    for p0 in pos_lists[0]:
        prev = int(p0)
        ok = True
        for nxt in pos_lists[1:]:
            j = int(np.searchsorted(nxt, prev + 1))
            if j >= len(nxt) or int(nxt[j]) > prev + slop + 1:
                ok = False
                break
            prev = int(nxt[j])
        count += ok
    return count


def _candidate_positions(
    by_term: Mapping[str, TermBlocks], terms: list[str], cand: np.ndarray
):
    """Decode candidate-intersecting blocks of each term WITH positions →
    per term (sorted doc ids, positions flat, row offsets), or None if a
    term is absent."""
    out = []
    for t in terms:
        g = by_term.get(t)
        rows = _blocks_for_candidates(g, cand) if g is not None else None
        if rows is None or not rows.size:
            return None
        sub = g.take(rows)
        ids, tfs = decode_block_subset(sub)
        pos, offs = decode_subset_positions(sub, tfs)
        out.append((ids.astype(np.int64), pos, offs))
    return out


def _phrase_freqs(
    by_term: Mapping[str, TermBlocks], ph: list[str], cand: np.ndarray
) -> np.ndarray:
    """Exact-adjacency phrase frequency per candidate doc (slop 0) from the
    compressed position streams — decodes only candidate-intersecting
    blocks of each member term.  Candidates are the AND survivors, so the
    per-doc loop is short by construction."""
    member = _candidate_positions(by_term, ph, cand)
    if member is None:
        return np.zeros(len(cand), dtype=np.int64)
    pf = np.zeros(len(cand), dtype=np.int64)
    for ci, d in enumerate(cand):
        starts: np.ndarray | None = None
        for i, (ids, pos, offs) in enumerate(member):
            j = int(np.searchsorted(ids, d))
            if j >= len(ids) or ids[j] != d:
                starts = None
                break
            p = pos[offs[j]:offs[j + 1]] - i
            starts = p if starts is None else np.intersect1d(starts, p, assume_unique=True)
            if starts.size == 0:
                break
        pf[ci] = 0 if starts is None else starts.size
    return pf


# the reference's proximity ladder: Should-phrases over all query terms at
# (boost, slop) pairs (src/query/mod.rs:45-93)
PROXIMITY_LADDER: tuple[tuple[float, int], ...] = (
    (6.0, 0), (5.0, 1), (4.0, 2), (3.0, 4), (2.0, 16), (1.0, 32),
)


def _chain_max_gaps(pos_lists: list[np.ndarray]) -> np.ndarray:
    """Per chain start p0: the greedy in-order chain's MAXIMUM step gap,
    or +inf when the chain breaks.  The greedy step is slop-independent
    (always the first position ≥ prev+1; a slop only changes the failure
    threshold), so `sloppy_chain_count(pos_lists, s) ==
    (gaps ≤ s+1).sum()` for every s — one vectorized multi-term walk
    replaces one Python chain walk per (start, rung)."""
    prev = pos_lists[0].astype(np.int64)
    gmax = np.zeros(prev.size, dtype=np.float64)
    alive = np.ones(prev.size, dtype=bool)
    for nxt in pos_lists[1:]:
        nxt = np.asarray(nxt, dtype=np.int64)
        j = np.searchsorted(nxt, prev + 1)
        ok = j < nxt.size
        j_c = np.minimum(j, max(nxt.size - 1, 0))
        step = nxt[j_c] - prev if nxt.size else np.zeros(prev.size, dtype=np.int64)
        alive &= ok
        gmax = np.maximum(gmax, np.where(alive, step, np.inf))
        prev = np.where(alive & ok, nxt[j_c] if nxt.size else prev, prev)
    gmax[~alive] = np.inf
    return gmax


def _gather_ranges(flat: np.ndarray, starts: np.ndarray,
                   lens: np.ndarray) -> np.ndarray:
    """Vectorized ``concat(flat[s:s+l] for s, l in zip(starts, lens))``
    (the standard repeat+cumsum range-gather — no Python loop)."""
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=flat.dtype)
    idx = np.repeat(starts + lens, lens)
    off = np.arange(total) - np.repeat(np.cumsum(lens), lens)
    return flat[(idx + off).astype(np.int64)]


def _ladder_freqs(
    by_term: Mapping[str, TermBlocks],
    terms: list[str],
    cand: np.ndarray,
    slops: list[int],
) -> np.ndarray:
    """(len(cand) × len(slops)) sloppy-chain counts for the full query-term
    sequence — ONE positions decode shared by every rung, then ONE
    global vectorized greedy walk for ALL docs at once: every doc's
    positions are lifted into a disjoint stride band (doc_rank ×
    2^20 + pos), the per-term bands concatenate into one globally
    sorted array, and the slop-independent greedy step (first position
    ≥ prev+1, see :func:`_chain_max_gaps`) runs as a single searchsorted
    per term.  A chain that would cross into another doc's band shows a
    gap ≥ 2^19, which no rung threshold (≤ 33) accepts — so cross-doc
    chains auto-fail with no masking logic.  Exact equivalence with
    :func:`sloppy_chain_count` is property-tested."""
    member = _candidate_positions(by_term, terms, cand)
    out = np.zeros((len(cand), len(slops)), dtype=np.int64)
    if member is None:
        return out
    cand = np.asarray(cand, dtype=np.int64)
    # per term: row index of each candidate doc (or -1 when absent)
    rows_per_term = []
    present = np.ones(cand.size, dtype=bool)
    for ids, _pos, _offs in member:
        if ids.size == 0:
            present[:] = False
            rows_per_term.append(np.zeros(cand.size, dtype=np.int64))
            continue
        j = np.searchsorted(ids, cand)
        j_c = np.minimum(j, ids.size - 1)
        present &= (ids[j_c] == cand) & (j < ids.size)
        rows_per_term.append(j_c)
    pidx = np.flatnonzero(present)
    if pidx.size == 0:
        return out
    # stride must exceed any in-doc position so bands stay disjoint —
    # adaptive for pathological giant docs (>1M tokens)
    max_pos = max(
        (int(np.asarray(pos).max()) if len(pos) else 0)
        for _ids, pos, _offs in member
    )
    STRIDE = np.int64(max(1 << 20, max_pos + 64))
    bands = pidx.astype(np.int64) * STRIDE  # one band per present doc
    glob: list[np.ndarray] = []
    lens0 = None
    for (ids, pos, offs), j in zip(member, rows_per_term):
        starts = offs[j[pidx]].astype(np.int64)
        lens = (offs[j[pidx] + 1] - offs[j[pidx]]).astype(np.int64)
        g = _gather_ranges(np.asarray(pos, dtype=np.int64), starts, lens)
        g = g + np.repeat(bands, lens)
        glob.append(g)
        if lens0 is None:
            lens0 = lens
    thresholds = np.asarray([s + 1 for s in slops], dtype=np.float64)
    if len(glob) == 1:
        counts = lens0[:, None] * np.ones(
            (1, len(slops)), dtype=np.int64)
    else:
        prev = glob[0]
        gmax = np.zeros(prev.size, dtype=np.float64)
        alive = np.ones(prev.size, dtype=bool)
        for nxt in glob[1:]:
            j = np.searchsorted(nxt, prev + 1)
            ok = j < nxt.size
            j_c = np.minimum(j, max(nxt.size - 1, 0))
            step = (nxt[j_c] - prev) if nxt.size else np.zeros(
                prev.size, dtype=np.int64)
            alive &= ok
            gmax = np.maximum(gmax, np.where(alive, step, np.inf))
            prev = np.where(alive, nxt[j_c] if nxt.size else prev, prev)
        gmax[~alive] = np.inf
        hits = gmax[:, None] <= thresholds[None, :]  # (Σ lens0, n_slops)
        offs0 = np.concatenate(([0], np.cumsum(lens0)))[:-1]
        # per-doc sums over each doc's p0 range; reduceat needs non-empty
        # input and strictly covers empty ranges via equal offsets
        if hits.shape[0]:
            # reduceat quirk-guard: clip (lens0 is ≥1 for present docs —
            # tf ≥ 1 ⇒ ≥1 position — so empty ranges can't occur, but
            # stay defensive) and zero any empty range afterwards
            offs0_c = np.minimum(offs0, hits.shape[0] - 1).astype(np.int64)
            counts = np.add.reduceat(hits.astype(np.int64), offs0_c, axis=0)
            counts[lens0 == 0] = 0
        else:
            counts = np.zeros((pidx.size, len(slops)), dtype=np.int64)
    out[pidx, :] = counts
    return out


def _cache_term_blocks(
    g: TermBlocks, rows: list[int], tcache: dict[int, tuple]
) -> None:
    """Decode the blocks of one term at positions ``rows`` (ascending) in
    one vectorized pass and store each block's (ids, tfs) under its
    position.  Already-cached blocks must be filtered out by the
    caller."""
    sub = g.take(np.asarray(rows, dtype=np.int64))
    ids_new, tfs_new = decode_block_subset(sub)
    ids_new = ids_new.astype(np.int64)
    tfs_new = tfs_new.astype(np.int64)
    offs = np.concatenate(([0], np.cumsum(sub.num_docs))).tolist()
    for i, r in enumerate(rows):
        tcache[r] = (ids_new[offs[i]:offs[i + 1]],
                     tfs_new[offs[i]:offs[i + 1]])


def _cached_ids(g: TermBlocks, tcache: dict[int, tuple]) -> np.ndarray:
    """Every doc id of one term, its blocks decoded into ``tcache``
    (those not cached yet in one pass)."""
    rows = range(len(g))
    need = [r for r in rows if r not in tcache]
    if need:
        _cache_term_blocks(g, need, tcache)
    return np.concatenate([tcache[r][0] for r in rows])


def _lookup_tfs(
    by_term: Mapping[str, TermBlocks],
    t: str,
    cand: np.ndarray,
    cache: dict[str, dict],
) -> np.ndarray | None:
    """tf of term ``t`` aligned to the sorted candidate ids (0 where the
    doc lacks the term), decoding ONLY candidate-intersecting blocks that
    are not already in the per-term block cache."""
    g = by_term.get(t)
    if g is None:
        return None
    rows = _blocks_for_candidates(g, cand).tolist()
    if not rows:
        return None
    tcache = cache.setdefault(t, {})
    need = [r for r in rows if r not in tcache]
    if need:
        _cache_term_blocks(g, need, tcache)
    # blocks are ascending doc ranges, so concatenation in block order is
    # globally sorted
    ids = np.concatenate([tcache[r][0] for r in rows])
    tfs = np.concatenate([tcache[r][1] for r in rows])
    pos = np.searchsorted(ids, cand)
    pos_c = np.minimum(pos, ids.size - 1)
    match = ids[pos_c] == cand
    out = np.zeros(cand.size, dtype=np.int64)
    out[match] = tfs[pos_c[match]]
    return out


def _score_candidates(
    by_term: Mapping[str, TermBlocks],
    present_sorted: list[str],
    qweights: dict[str, float],
    cand: np.ndarray,
    dl_for,
    avgdl_for,
    cache: dict[str, dict],
) -> np.ndarray:
    """EXACT OR-scores for the sorted candidate ids: per-doc sum over its
    present terms in the given canonical order — the same fp association
    as the dense TAAT path and the oracle.  ``dl_for(t, ids)`` /
    ``avgdl_for(t)`` allow per-term (per-field) length statistics for the
    multi-field physical-term layout."""
    score = np.zeros(cand.size, dtype=np.float64)
    for t in present_sorted:
        tfs = _lookup_tfs(by_term, t, cand, cache)
        if tfs is None:
            continue
        m = tfs > 0
        if m.any():
            dls = dl_for(t, cand)
            score[m] += qweights[t] * _tf_comp(
                tfs[m].astype(np.float64), dls[m], avgdl_for(t)
            )
    return score


def _sparse_max_table(a: np.ndarray) -> list[np.ndarray]:
    """Doubling sparse table over ``a`` for O(1) vectorized range-max.

    ``tables[j][i] == max(a[i : i + 2**j])``; build is O(n log n) numpy."""
    tables = [a]
    j = 1
    while (1 << j) <= a.size:
        prev = tables[-1]
        half = 1 << (j - 1)
        tables.append(np.maximum(prev[:-half], prev[half:]))
        j += 1
    return tables


def _range_max(
    tables: list[np.ndarray], lo: np.ndarray, hi: np.ndarray
) -> np.ndarray:
    """Vectorized ``max(a[lo[i]:hi[i]])`` per element (0 where hi<=lo) via
    the sparse table — replaces the per-block Python interpreter loop the
    round-2 envelope used (O(T^2·B) slices)."""
    out = np.zeros(lo.size)
    valid = hi > lo
    if not valid.any():
        return out
    lov = lo[valid]
    hiv = hi[valid]
    # floor(log2(len)): frexp exponent - 1 (len=1 -> 0, len=3 -> 1, ...)
    j = np.frexp((hiv - lov).astype(np.float64))[1] - 1
    res = np.empty(lov.size)
    for jj in np.unique(j):
        m = j == jj
        t = tables[int(jj)]
        res[m] = np.maximum(t[lov[m]], t[hiv[m] - (1 << int(jj))])
    out[valid] = res
    return out


def _sorted_isin(sorted_arr: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """Membership mask of ``vals`` in the SORTED ``sorted_arr`` —
    O(m log n) searchsorted instead of np.isin's sort-per-call."""
    if sorted_arr.size == 0 or vals.size == 0:
        return np.zeros(vals.size, dtype=bool)
    pos = np.searchsorted(sorted_arr, vals)
    pos_c = np.minimum(pos, sorted_arr.size - 1)
    return sorted_arr[pos_c] == vals


def _sorted_merge_disjoint(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Linear merge of two sorted DISJOINT int64 arrays (no re-sort)."""
    if a.size == 0:
        return b
    if b.size == 0:
        return a
    out = np.empty(a.size + b.size, dtype=np.int64)
    ins = np.searchsorted(a, b) + np.arange(b.size)
    out[ins] = b
    mask = np.ones(out.size, dtype=bool)
    mask[ins] = False
    out[mask] = a
    return out


def _should_topk_blockmax(
    by_term: Mapping[str, TermBlocks],
    present: list[str],
    qweights: dict[str, float],
    avgdl: float,
    k: int,
    dl_of,
    dl_table: np.ndarray,
    seg_n: int,
    excluded: np.ndarray | None = None,
    metrics: dict | None = None,
    dl_of_term=None,
    avgdl_term=None,
    score_order: list[str] | None = None,
    pre: np.ndarray | None = None,
    base: int = 0,
    extra_ub: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Multi-term OR top-k with block-max pruning (exact).

    ``pre``: per-doc pre-computed scores (PRESORTED index: doc ids ascend
    as pre DESCENDS, so a block's max pre is its FIRST doc's) — banked
    scores become pre + bm25 and every block bound gains the block's max
    pre, keeping the skip sound for the combined rank score (the
    reference's sorted-segments early termination composed with BMW).

    1. **Seed**: terms with few postings ("cheap", ≤ max(2k, seg_n/16))
       are decoded fully; the union of their docs is scored EXACTLY over
       all query terms (candidate-intersecting block lookups into the
       expensive terms).  This banks a true k-th-best threshold and —
       critically — removes the cheap terms from the pruning bound, so a
       sparse term whose single block spans the whole segment cannot
       inflate every other block's envelope.
    2. **Prune**: each expensive term's blocks get the envelope bound
       ``ub_t(b) + Σ_{t'∈expensive, t'≠t} max(ub_{t'} over t'-blocks
       overlapping b)``; blocks are processed in bound-descending chunks,
       each chunk's not-yet-banked docs scored exactly, and the scan stops
       once the next bound is strictly below the banked k-th score.  A doc
       whose every containing block was skipped has true score ≤ its
       block's bound < kth, so it provably cannot enter the top-k.

    Reference: score-ordered early termination, src/collector.rs:187-194 +
    src/inverted_index.rs:100-106 ([tantivy contract] block-max skips).
    """
    present_s = score_order if score_order is not None else sorted(present)
    dl_for = dl_of_term or (lambda _t, ids: dl_of(ids))
    avgdl_for = avgdl_term or (lambda _t: avgdl)
    counts = {t: by_term[t].postings for t in present}
    cheap_limit = max(2 * k, seg_n // 16)
    cheap = [t for t in present if counts[t] <= cheap_limit]
    expensive = [t for t in present if counts[t] > cheap_limit]
    cache: dict[str, dict] = {}
    banked_ids: list[np.ndarray] = []
    banked_sc: list[np.ndarray] = []
    n_banked = 0
    kth = -np.inf

    excluded_sorted = np.sort(excluded) if excluded is not None else None

    def bank(cand: np.ndarray) -> None:
        nonlocal n_banked, kth
        if excluded_sorted is not None and cand.size:
            cand = cand[~_sorted_isin(excluded_sorted, cand)]
        if not cand.size:
            return
        sc = _score_candidates(
            by_term, present_s, qweights, cand, dl_for, avgdl_for, cache
        )
        if pre is not None:
            sc = sc + pre[(cand - base).astype(np.int64)]
        banked_ids.append(cand)
        banked_sc.append(sc)
        n_banked += cand.size
        if n_banked >= k:
            allsc = np.concatenate(banked_sc)
            kth = np.partition(allsc, allsc.size - k)[allsc.size - k]

    if cheap:
        seeds = [_cached_ids(by_term[t], cache.setdefault(t, {}))
                 for t in cheap]
        seed_ids = np.unique(np.concatenate(seeds))
        if pre is not None and seed_ids.size > k:
            # PRESORTED seed pruning: exact scoring of a seed doc costs
            # candidate-intersecting block decodes in every expensive
            # term — for a sparse-but-uniform seed set (e.g. the
            # title-field twins of a multi-field query) that touches
            # nearly every block.  Seed ids ascend ⇔ pre DESCENDS, so
            # bank the top-pre k exactly to establish the threshold,
            # then drop any remaining seed whose upper bound
            # pre + Σ_t max-block-ub(t) is STRICTLY below it: its true
            # score is ≤ the bound < kth ≤ all banked scores, so it
            # cannot reach the top-k.  (A dropped doc stays eligible
            # for exact banking from an expensive block later — it was
            # never added to scored_ids.)
            bank(seed_ids[:k])
            rest = seed_ids[k:]
            if rest.size and n_banked >= k:
                ub_sum = 0.0
                for t in present:
                    g = by_term[t]
                    t_ub = qweights[t] * _tf_comp(
                        g.max_tf, dl_table[g.min_norm_id], avgdl_for(t),
                    )
                    ub_sum += float(t_ub.max()) if t_ub.size else 0.0
                bound = pre[(rest - base).astype(np.int64)] + ub_sum + extra_ub
                rest = rest[bound >= kth]
            bank(rest)
        else:
            bank(seed_ids)

    if expensive:
        firsts = {t: by_term[t].first_doc_id for t in expensive}
        lasts = {t: by_term[t].last_doc_id for t in expensive}
        ubs = {
            t: qweights[t] * _tf_comp(
                by_term[t].max_tf, dl_table[by_term[t].min_norm_id],
                avgdl_for(t),
            )
            for t in expensive
        }
        ub_tables = {t: _sparse_max_table(ubs[t]) for t in expensive}
        flat_t: list[str] = []
        flat_row: list[int] = []
        flat_bound: list[float] = []
        for t in expensive:
            bound = ubs[t].copy()
            if pre is not None:
                # presorted: ids ascend ⇔ pre descends, so the block's
                # first doc carries its maximum pre-score
                bound = bound + pre[(firsts[t] - base).astype(np.int64)]
            for t2 in expensive:
                if t2 == t:
                    continue
                # t2-blocks overlapping [first, last] of each t-block form a
                # contiguous index range (both sides sorted by doc range);
                # range-max over it is O(1) per block via the sparse table
                lo = np.searchsorted(lasts[t2], firsts[t], side="left")
                hi = np.searchsorted(firsts[t2], lasts[t], side="right")
                bound += _range_max(ub_tables[t2], lo, hi)
            flat_t.extend([t] * bound.size)
            flat_row.extend(range(bound.size))
            flat_bound.extend(bound.tolist())
        bound_arr = np.array(flat_bound)
        order = np.argsort(-bound_arr, kind="stable")
        # already-banked seed docs must not be re-banked from an expensive
        # block (duplicate rows would corrupt the top-k)
        scored_ids: np.ndarray = (
            np.unique(np.concatenate(banked_ids)) if banked_ids
            else np.zeros(0, dtype=np.int64)
        )
        CHUNK = 8
        for c0 in range(0, order.size, CHUNK):
            chunk = order[c0:c0 + CHUNK]
            # strict <: an equal-bound block can still hold an equal-score
            # doc winning the doc_id tie-break; extra_ub extends the
            # envelope by the query-constant max additive bonus (ladder
            # rungs / positive const clauses) so the skip stays sound with
            # those passes pending
            if n_banked >= k and bound_arr[chunk[0]] + extra_ub < kth:
                break
            new_parts = []
            for j in chunk:
                t, row = flat_t[j], flat_row[j]
                tcache = cache.setdefault(t, {})
                if row not in tcache:
                    _cache_term_blocks(by_term[t], [row], tcache)
                new_parts.append(tcache[row][0])
            cand = np.unique(np.concatenate(new_parts))
            # sorted membership + linear merge keep the banked-id check
            # O(m log n) per chunk (round-2 used isin + concat: quadratic)
            if scored_ids.size:
                cand = cand[~_sorted_isin(scored_ids, cand)]
            scored_ids = _sorted_merge_disjoint(scored_ids, cand)
            bank(cand)
    if metrics is not None:
        metrics["blocks_total"] = int(sum(len(by_term[t]) for t in present))
        metrics["blocks_decoded"] = int(
            sum(len(c) for t, c in cache.items() if t in counts)
        )
    if not banked_ids:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    return np.concatenate(banked_ids), np.concatenate(banked_sc)


def _clause_match_mask(
    by_term: Mapping[str, TermBlocks],
    clause: dict,
    ids: np.ndarray,
    dl_exact: np.ndarray | None,
    base: int,
) -> np.ndarray:
    """Boolean mask over the (sorted) candidate ``ids`` matching one
    lowered goggle instruction — evaluated entirely over the PERSISTED
    index: the site predicate is an attr-term posting lookup, the token
    pattern runs over candidate-intersecting position blocks via the
    pattern automaton (reference execution:
    src/ranking/goggles/pattern_query.rs:271-342).  Never touches the
    document text."""
    from ..functions.goggles import pattern_phrase_count

    mask = np.ones(ids.size, dtype=bool)
    st = clause.get("site_term")
    if st is not None:
        g = by_term.get(st)
        if g is None:
            return np.zeros(ids.size, dtype=bool)
        rows = _blocks_for_candidates(g, ids)
        if not rows.size:
            return np.zeros(ids.size, dtype=bool)
        s_ids, _ = decode_block_subset(g.take(rows))
        mask &= _sorted_isin(s_ids.astype(np.int64), ids)
    pterms = clause.get("pattern_terms")
    if pterms:
        uniq_p = list(dict.fromkeys(pterms))
        cand = ids[mask]
        if cand.size == 0 or any(t not in by_term for t in uniq_p):
            return np.zeros(ids.size, dtype=bool)
        member = _candidate_positions(by_term, uniq_p, cand)
        if member is None:
            return np.zeros(ids.size, dtype=bool)
        ops = clause["pattern_ops"]
        needs_len = bool(ops) and ops[-1][0] == "anchor_end"
        if needs_len and dl_exact is None:
            raise ValueError(
                "trailing-anchor goggle patterns need exact doc lengths — "
                "rebuild the index (sentinel meta now stores num_tokens)"
            )
        pmask = np.zeros(cand.size, dtype=bool)
        for ci, d in enumerate(cand):
            posd: dict[str, np.ndarray] = {}
            ok = True
            for t, (t_ids, pos, offs) in zip(uniq_p, member):
                j = int(np.searchsorted(t_ids, d))
                if j >= len(t_ids) or t_ids[j] != d:
                    ok = False
                    break
                posd[t] = pos[offs[j]:offs[j + 1]].astype(np.int64)
            if not ok:
                continue
            ntok = int(dl_exact[d - base]) if needs_len else 0
            pmask[ci] = pattern_phrase_count(posd, ops, ntok) > 0
        out = np.zeros(ids.size, dtype=bool)
        out[np.flatnonzero(mask)[pmask]] = True
        return out
    return mask


def _segment_topk_kernel(
    view: SegmentView,
    terms: list[str],
    neg_terms: list[str],
    qweights: dict[str, float],
    avgdl: float,
    k: int,
    mode: str,
    phrases: list[list[str]] | None = None,
    pweights: list[float] | None = None,
    filter_terms: list[str] | None = None,
    max_docs: int | None = None,
    add_pre: bool = False,
    with_count: bool = False,
    const_clauses: list[dict] | None = None,
    has_empty_discard: bool = False,
    score_coeff: float | None = None,
    with_metrics: bool = False,
    ladder: tuple[tuple[float, int], ...] | None = None,
    ladder_w: float = 0.0,
) -> SegmentTopK:
    """Top-k of one query over one segment's ``view``.

    ``ladder``: (boost, slop) proximity rungs scored IN-RETRIEVAL as
    Should clauses over the full query-term sequence (reference
    src/query/mod.rs:45-93) — the bonus lands BEFORE the per-segment
    top-k cut, so a doc ranked low by base BM25 but lifted by tight
    phrase proximity wins here exactly as in the reference (no two-phase
    overfetch window to fall out of).  ``ladder_w`` is the shared phrase
    weight Σ idf × (K1+1).  Ladder mode routes through the exact paths
    (the block-max envelopes don't carry the bonus).

    ``max_docs``: early-termination quota — consider at most this many
    docs of the driving posting list per segment (the reference's
    total_docs/num_segments cap, src/collector.rs:39-42,116-127).  On a
    PRESORTED index (doc ids assigned by pre-score rank) the quota keeps
    the best-pre-score docs per term list, which makes it sound whenever
    the pre-score term dominates: any doc truncated from a term list has ≥
    max_docs same-segment docs with higher pre-score matching the query,
    so it cannot reach the top-k (reference soundness argument,
    src/collector.rs:39-42 + sorted segments src/inverted_index.rs:100-106).

    ``add_pre``: add the packed per-doc pre-computed score (sentinel
    ``pre_bytes``) to every result score — final rank = pre + bm25
    (signal.rs:296-333).  The bm25-threshold pruning branches are bypassed
    in this mode (their banked thresholds don't include pre).

    ``with_metrics``: the result carries the pruning win — tf blocks
    DECODED for the scoring terms and tf blocks TOTAL (position-stream
    decodes for phrase verification are not counted).  Paths that
    evaluate every block (TAAT fallback) honestly report decoded ==
    total.  ``with_count``: the result carries the pre-cut match
    count."""
    phrases = phrases or []
    pweights = pweights or []
    filter_terms = filter_terms or []
    _seg, by_term, deleted, norm_row = view
    base = int(norm_row["base_doc_id"][0])
    norms = np.frombuffer(norm_row["norm_bytes"][0], dtype=np.uint8)
    dl_table = _DL_TABLE
    pre: np.ndarray | None = None
    if add_pre:
        pb = norm_row["pre_bytes"][0] if "pre_bytes" in norm_row else None
        if pb is None:
            raise ValueError("add_pre requires a presorted index (pre_bytes)")
        pre = np.frombuffer(pb, dtype=np.float32).astype(np.float64)

    # MustNot docs of this segment, excluded BEFORE the top-k cut (a
    # post-hoc anti-join would under-fill truncated per-segment results)
    excluded: np.ndarray | None = None
    if neg_terms:
        ex = [decode_term_blocks(by_term[t])[0].astype(np.int64)
              for t in neg_terms if t in by_term]
        if ex:
            excluded = np.unique(np.concatenate(ex))
    if deleted is not None:
        # tombstones are masked exactly like MustNot — BEFORE the top-k cut
        excluded = deleted if excluded is None else np.unique(
            np.concatenate([excluded, deleted])
        )
    present = [t for t in terms if t in by_term]
    phrase_ok = all(all(t in by_term for t in ph) for ph in phrases)
    # Must-filters (attr terms): a segment lacking the filter term has no
    # matching docs at all
    if any(ft not in by_term for ft in filter_terms):
        return _NO_MATCH
    if mode == "must" and (len(present) < len(terms) or not phrase_ok):
        return _NO_MATCH
    if not present and not (phrases and phrase_ok):
        return _NO_MATCH

    kmetrics: dict | None = None
    if with_metrics:
        kmetrics = {
            "blocks_total": int(sum(len(by_term[t]) for t in present)),
            "blocks_decoded": 0,
        }

    def dl_of(ids: np.ndarray) -> np.ndarray:
        return dl_table[norms[(ids - base).astype(np.int64)]]

    def intersect_rest(
        order_: list[str],
        ids_: np.ndarray,
        tfs_: np.ndarray,
        track: list[str],
        count_metrics: bool = True,
    ):
        """Narrow candidate ids (the decoded first/rarest term) through
        the remaining terms' candidate-intersecting blocks; returns
        (ids, {t: aligned tf array for t in track}) or None."""
        first = order_[0]
        tracked: dict[str, np.ndarray] = {}
        if first in track:
            tracked[first] = tfs_
        for t in order_[1:]:
            if ids_.size == 0:
                return None
            rows = _blocks_for_candidates(by_term[t], ids_)
            if not rows.size:
                return None
            if kmetrics is not None and count_metrics and t in qweights:
                kmetrics["blocks_decoded"] += rows.size
            t_ids, t_tfs = decode_block_subset(by_term[t].take(rows))
            t_ids = t_ids.astype(np.int64)
            pos = np.searchsorted(t_ids, ids_)
            pos_c = np.minimum(pos, t_ids.size - 1)
            match = t_ids[pos_c] == ids_
            ids_ = ids_[match]
            sel = pos_c[match]
            for prev in tracked:
                tracked[prev] = tracked[prev][match]
            if t in track:
                tracked[t] = t_tfs[sel]
        return (ids_, tracked) if ids_.size else None

    def intersect_terms(required: list[str], track: list[str],
                        count_metrics: bool = True):
        """Rarest-first block-skip leapfrog AND over ``required`` terms;
        returns (ids, {t: aligned tf array for t in track}) or None.
        ``count_metrics=False`` for auxiliary rescoring passes (the
        proximity ladder) whose re-decodes would otherwise push
        blocks_decoded past blocks_total in the pruning metric."""
        order_ = sorted(required, key=lambda t: by_term[t].postings)
        first = order_[0]
        if kmetrics is not None and count_metrics and first in qweights:
            kmetrics["blocks_decoded"] += len(by_term[first])
        ids_, tfs_ = decode_term_blocks(by_term[first])
        ids_ = ids_.astype(np.int64)
        if max_docs is not None and ids_.size > max_docs:
            ids_, tfs_ = ids_[:max_docs], tfs_[:max_docs]
        return intersect_rest(order_, ids_, tfs_, track, count_metrics)

    # canonical phrase order: sorted by joined text (stable → query order
    # for equal text), matching the oracle and the exhaustive path
    ph_order = sorted(range(len(phrases)), key=lambda i: " ".join(phrases[i]))

    # Envelope extension for the post-retrieval ADDITIVE passes (proximity
    # ladder rungs, positive goggle const bonuses): their maximum possible
    # contribution per doc is a query-level constant —
    # Σ_rungs boost·ladder_w·sup(tf_comp) + Σ positive const bonuses, with
    # sup(tf_comp) < 1 — so block-max pruning stays SOUND with these
    # features on by adding ``extra_ub`` to every skip comparison: a
    # skipped block's best doc satisfies base_bound + extra_ub < banked
    # k-th (base scores only) ≤ final k-th (bonuses only raise scores), so
    # it provably cannot reach the top-k.  The argument needs every later
    # pass to be monotone non-decreasing on the banked set: any REMOVAL
    # (discard clauses, bare $discard) or shrink (negative bonus/rung,
    # @bm25 coeff rescale) invalidates the banked threshold, and those
    # query shapes keep the exhaustive path.  Reference: the in-query
    # ladder/const clauses enjoy the same per-clause max-weight bound
    # inside tantivy's block-max union (src/query/mod.rs:45-93).
    extra_ub = 0.0
    extras_additive = not has_empty_discard and score_coeff is None
    if ladder is not None:
        if any(b < 0 for b, _s in ladder):
            extras_additive = False
        extra_ub += ladder_w * sum(max(float(b), 0.0) for b, _s in ladder)
    for cl in const_clauses or []:
        if cl["action"] == "discard" or float(cl["bonus"]) < 0.0:
            extras_additive = False
        else:
            extra_ub += float(cl["bonus"])
    ladder_applied = False

    if mode == "must" and (
        pre is not None
        and max_docs is None
        and not with_count
        and extras_additive
    ):
        # PRESORTED early-terminating AND: doc ids ascend ⇔ pre DESCENDS
        # (production flavor — the reference's score-sorted segments,
        # src/inverted_index.rs:100-106).  Process the rarest term's
        # blocks in ascending chunks, bank exact pre+bm25+phrase scores,
        # and stop once the next chunk's best-possible score — its first
        # doc's pre plus the query's bm25 ceiling (tf_comp < 1 ⇒
        # bm25 < Σ qweights + Σ pweights) — falls below the banked k-th.
        # Exclusions are applied during banking so the threshold is
        # never inflated by a doc that would later drop.
        required = list(dict.fromkeys(
            present + [t for ph in phrases for t in ph] + filter_terms
        ))
        order_ = sorted(required, key=lambda t: by_term[t].postings)
        first = order_[0]
        g_first = by_term[first]
        ub_query = float(sum(qweights[t] for t in present) + sum(pweights))
        excluded_sorted = (
            np.sort(excluded) if excluded is not None else None
        )
        firsts_arr = g_first.first_doc_id
        bids: list[np.ndarray] = []
        bscs: list[np.ndarray] = []
        n_banked = 0
        kth = -np.inf
        CHUNK = 8
        for c0 in range(0, len(g_first), CHUNK):
            if n_banked >= k and (
                pre[int(firsts_arr[c0] - base)] + ub_query + extra_ub < kth
            ):
                break  # every remaining doc's score is below the k-th
            sub = g_first.take(slice(c0, c0 + CHUNK))
            if kmetrics is not None and first in qweights:
                kmetrics["blocks_decoded"] += len(sub)
            c_ids, c_tfs = decode_block_subset(sub)
            res = intersect_rest(
                order_, c_ids.astype(np.int64), c_tfs, track=present
            )
            if res is None:
                continue
            ids_c, tfs_c = res
            pfs_c: list[np.ndarray] = []
            dead = False
            for i in range(len(phrases)):
                pf = _phrase_freqs(by_term, phrases[i], ids_c)
                keep = pf > 0
                if not keep.any():
                    dead = True
                    break
                ids_c = ids_c[keep]
                for prev in tfs_c:
                    tfs_c[prev] = tfs_c[prev][keep]
                for j in range(len(pfs_c)):
                    pfs_c[j] = pfs_c[j][keep]
                pfs_c.append(pf[keep])
            if dead or ids_c.size == 0:
                continue
            if excluded_sorted is not None:
                m = ~_sorted_isin(excluded_sorted, ids_c)
                ids_c = ids_c[m]
                for prev in tfs_c:
                    tfs_c[prev] = tfs_c[prev][m]
                pfs_c = [p[m] for p in pfs_c]
            if ids_c.size == 0:
                continue
            dls_c = dl_of(ids_c)
            sc = np.zeros(ids_c.size, dtype=np.float64)
            for t in sorted(present):  # canonical fp order: terms first
                sc += qweights[t] * _tf_comp(
                    tfs_c[t].astype(np.float64), dls_c, avgdl
                )
            for i in ph_order:  # then phrases by text
                sc += pweights[i] * _tf_comp(
                    pfs_c[i].astype(np.float64), dls_c, avgdl
                )
            if ladder is not None:
                # rung bonuses land IN-BRANCH, before pre is folded, so the
                # fp association matches the exhaustive path exactly:
                # ((bm25 + Σ rungs) + pre) — in must mode every banked doc
                # matches all terms, so every chunk doc is a ladder
                # candidate
                slops_c = [s_ for _, s_ in ladder]
                freqs_c = _ladder_freqs(
                    by_term, list(terms), ids_c, slops_c
                )
                bonus_c = np.zeros(ids_c.size, dtype=np.float64)
                for si, (b_, _slop) in enumerate(ladder):
                    bonus_c += b_ * ladder_w * _tf_comp(
                        freqs_c[:, si].astype(np.float64), dls_c, avgdl
                    )
                sc = sc + bonus_c
            sc = sc + pre[(ids_c - base).astype(np.int64)]
            bids.append(ids_c)
            bscs.append(sc)
            n_banked += ids_c.size
            if n_banked >= k:
                allsc = np.concatenate(bscs)
                kth = np.partition(allsc, allsc.size - k)[allsc.size - k]
        ids = (
            np.concatenate(bids) if bids else np.zeros(0, dtype=np.int64)
        )
        score = np.concatenate(bscs) if bscs else np.zeros(0)
        excluded = None  # applied during banking
        pre = None       # folded into the banked scores
        ladder_applied = ladder is not None  # rungs scored in-branch
    elif mode == "must":
        required = list(dict.fromkeys(
            present + [t for ph in phrases for t in ph] + filter_terms
        ))
        res = intersect_terms(required, track=present)
        if res is None:
            return _NO_MATCH
        ids, cand_tfs = res
        # phrase adjacency verification narrows candidates further
        pfs: list[np.ndarray] = [np.zeros(0)] * len(phrases)
        for i in range(len(phrases)):
            pf = _phrase_freqs(by_term, phrases[i], ids)
            keep = pf > 0
            if not keep.any():
                return _NO_MATCH
            ids = ids[keep]
            for prev in cand_tfs:
                cand_tfs[prev] = cand_tfs[prev][keep]
            for j in range(i):
                pfs[j] = pfs[j][keep]
            pfs[i] = pf[keep]
        if ids.size == 0:
            return _NO_MATCH
        dls = dl_of(ids)
        score = np.zeros(ids.size, dtype=np.float64)
        for t in sorted(present):  # canonical fp order: terms first
            score += qweights[t] * _tf_comp(cand_tfs[t].astype(np.float64), dls, avgdl)
        for i in ph_order:  # then phrases by text
            score += pweights[i] * _tf_comp(pfs[i].astype(np.float64), dls, avgdl)
    elif (
        len(present) == 1
        and not phrases
        and not filter_terms
        and excluded is None
        and max_docs is None
        and pre is None
        and not with_count
        and extras_additive
    ):
        # single-term block-max pruning (exact): per-block upper bound
        # ub = w · tf_comp(max_tf, dl(min_norm_id)) dominates every doc in
        # the block; process blocks in ub-descending order and stop once
        # the running k-th best score ≥ the next block's ub — the
        # block-max skip the stored (max_tf, min_norm_id) metadata exists
        # for ([tantivy contract], SURVEY.md §4 block-max WAND row).
        t = present[0]
        g = by_term[t]
        w = qweights[t]
        ub = w * _tf_comp(g.max_tf, dl_table[g.min_norm_id], avgdl)
        order_b = np.argsort(-ub)
        ids_parts: list[np.ndarray] = []
        score_parts: list[np.ndarray] = []
        kth = -np.inf
        n_collected = 0
        CHUNK = 8
        for c0 in range(0, len(order_b), CHUNK):
            chunk = order_b[c0:c0 + CHUNK]
            # strict <: a block with ub == kth can still contain an
            # equal-score doc that wins the doc_id tie-break
            if n_collected >= k and ub[chunk[0]] + extra_ub < kth:
                break  # no remaining block can beat the k-th best
            sub = g.take(np.sort(chunk))
            if kmetrics is not None:
                kmetrics["blocks_decoded"] += len(sub)
            c_ids, c_tfs = decode_block_subset(sub)
            c_ids = c_ids.astype(np.int64)
            s = w * _tf_comp(c_tfs.astype(np.float64), dl_of(c_ids), avgdl)
            ids_parts.append(c_ids)
            score_parts.append(s)
            n_collected += c_ids.size
            if n_collected >= k:
                allsc = np.concatenate(score_parts)
                kth = (
                    np.partition(allsc, allsc.size - k)[allsc.size - k]
                    if allsc.size >= k
                    else -np.inf
                )
        ids = np.concatenate(ids_parts) if ids_parts else np.zeros(0, dtype=np.int64)
        score = np.concatenate(score_parts) if score_parts else np.zeros(0)
        if const_clauses and ids.size:
            # ub-ordered chunk decode leaves ids unsorted; the const-clause
            # pass (and every other post-pass) works on ascending ids
            o_ = np.argsort(ids)
            ids, score = ids[o_], score[o_]
    elif (
        # ≥2 terms, or a single term on a PRESORTED index: the combined
        # pre+bm25 envelope gives real skip even for one common term
        # (block bound = block-max pre + term ub; the doc-id-ordered
        # single-term case is handled by the dedicated branch above)
        (len(present) >= 2 or (len(present) == 1 and pre is not None))
        and not phrases
        and not filter_terms
        and max_docs is None
        and not with_count
        and extras_additive
        # presorted+ladder SHOULD keeps the exhaustive path: the union
        # banks pre into scores before the rung bonuses could land, which
        # would change the fp association vs the oracle's
        # ((bm25+rungs)+pre) order
        and (ladder is None or pre is None)
        and not (
            # dense-union fallback: when EVERY term is above the cheap
            # limit (no high-idf seed to bank a threshold from) and the
            # posting mass covers the segment, flat-bm25 block-max has
            # nothing to skip and its candidate-chunk scoring costs ~10×
            # a single dense accumulate (measured, 4×42%-df terms) —
            # take the TAAT branch below, which decodes each block
            # exactly once.  A presorted index keeps the pruned path:
            # the pre spread gives real skew regardless of tf.
            pre is None
            and all(
                by_term[t].postings > max(2 * k, norms.size // 16)
                for t in present
            )
            and sum(by_term[t].postings for t in present)
            >= (norms.size * 3) // 5
        )
    ):
        # multi-term OR: block-max pruned union (exact; MustNot handled
        # inside so exclusions land before the threshold is banked; on a
        # presorted index the bounds and banked scores include pre, so
        # pruning stays sound for the combined rank)
        ids, score = _should_topk_blockmax(
            by_term, present, qweights, avgdl, k, dl_of, dl_table,
            norms.size, excluded=excluded, pre=pre, base=base,
            metrics=kmetrics, extra_ub=extra_ub,
        )
        excluded = None  # already applied
        pre = None       # already folded into the banked scores
        if (ladder is not None or const_clauses) and ids.size:
            # banked chunks arrive in bound-descending order; the ladder /
            # const passes below address candidates by searchsorted over
            # ascending ids — restore doc-id order first
            o_ = np.argsort(ids)
            ids, score = ids[o_], score[o_]
    else:
        # exact TAAT: dense accumulator over the segment's doc range
        n = norms.size
        touched = np.zeros(n, dtype=bool)
        per_term: list[tuple[str, np.ndarray, np.ndarray]] = []
        for t in present:
            t_ids, t_tfs = decode_term_blocks(by_term[t])
            if max_docs is not None and t_ids.size > max_docs:
                t_ids, t_tfs = t_ids[:max_docs], t_tfs[:max_docs]
            local = (t_ids - np.uint64(base)).astype(np.int64)
            per_term.append((t, local, t_tfs))
            touched[local] = True
        score_dense = np.zeros(n, dtype=np.float64)
        dls_dense = dl_table[norms]
        for t, local, t_tfs in sorted(per_term, key=lambda x: x[0]):
            score_dense[local] += qweights[t] * _tf_comp(
                t_tfs.astype(np.float64), dls_dense[local], avgdl
            )
        for i in ph_order:
            ph = phrases[i]
            if not all(t in by_term for t in ph):
                continue
            res = intersect_terms(list(dict.fromkeys(ph)), track=[])
            if res is None:
                continue
            ph_ids, _ = res
            pf = _phrase_freqs(by_term, ph, ph_ids)
            hit = pf > 0
            if not hit.any():
                continue
            local = (ph_ids[hit] - base).astype(np.int64)
            touched[local] = True
            score_dense[local] += pweights[i] * _tf_comp(
                pf[hit].astype(np.float64), dls_dense[local], avgdl
            )
        # Must-filters restrict the union: keep only docs present in every
        # filter term's posting list
        for ft in filter_terms:
            f_ids, _ = decode_term_blocks(by_term[ft])
            allowed = np.zeros(n, dtype=bool)
            allowed[(f_ids - np.uint64(base)).astype(np.int64)] = True
            touched &= allowed
        idx = np.flatnonzero(touched)
        ids = idx + base
        score = score_dense[idx]
        if kmetrics is not None:
            # the dense-accumulator fallback decodes every scoring-term
            # block — report it as such (no pruning win to overstate)
            kmetrics["blocks_decoded"] = kmetrics["blocks_total"]

    if (
        ladder is not None and not ladder_applied
        and len(terms) >= 2 and ids.size
        and all(t in by_term for t in terms)
    ):
        # in-retrieval proximity ladder: Should-phrases over the FULL
        # query-term sequence at each (boost, slop) rung, scored before
        # the top-k cut (src/query/mod.rs:45-93).  Only all-terms docs
        # can match any rung, so candidates = the AND set — in must mode
        # that is every result; in should mode one narrowed intersection
        # pass finds them inside the (sorted) union.
        if mode == "must":
            cand = ids
            sel = np.arange(ids.size)
        else:
            res_l = intersect_terms(list(dict.fromkeys(terms)), track=[],
                                    count_metrics=False)
            if res_l is not None:
                cand = res_l[0]
                # the pruned union may have (soundly) skipped an AND-set
                # doc whose base + max-bonus envelope was below the banked
                # threshold — drop candidates absent from ids instead of
                # mis-addressing their neighbors
                pos_l = np.searchsorted(ids, cand)
                pos_lc = np.minimum(pos_l, max(ids.size - 1, 0))
                m_l = ids.size > 0
                m_l = (ids[pos_lc] == cand) if m_l else np.zeros(
                    cand.size, dtype=bool
                )
                cand = cand[m_l]
                sel = pos_lc[m_l]
            else:
                cand = np.zeros(0, dtype=np.int64)
                sel = cand
        if cand.size:
            slops_l = [s for _, s in ladder]
            freqs_l = _ladder_freqs(by_term, list(terms), cand, slops_l)
            dls_l = dl_of(cand)
            bonus = np.zeros(cand.size, dtype=np.float64)
            for si, (b, _slop) in enumerate(ladder):
                bonus += b * ladder_w * _tf_comp(
                    freqs_l[:, si].astype(np.float64), dls_l, avgdl
                )
            score[sel] = score[sel] + bonus
    if score_coeff is not None and ids.size:
        # @bm25 alteration: scales ONLY the relevance signal, before the
        # pre-computed signal and const bonuses land (signal.rs:343-387)
        score = score * score_coeff
    if excluded is not None and ids.size:
        keep = ~np.isin(ids, excluded, assume_unique=False)
        ids, score = ids[keep], score[keep]
    if pre is not None and ids.size:
        # final rank score = pre_computed + query score (signal.rs:296-333)
        score = score + pre[(ids - base).astype(np.int64)]
    if const_clauses and ids.size:
        # goggle instructions evaluated over the INDEX for this segment's
        # base-query matches only (reference: instructions are query-tree
        # clauses, goggles/mod.rs:166-260) — the collector below sees
        # FINAL scores, so no uncut base and no driver-side match sets
        dl_exact: np.ndarray | None = None
        mb = norm_row["meta_bytes"][0] if "meta_bytes" in norm_row else None
        if mb is not None:
            from ..functions.codec import varint_decode

            mvals = varint_decode(bytes(mb))
            if mvals.size > 5:
                dl_exact = mvals[5:].astype(np.int64)
        drop = np.zeros(ids.size, dtype=bool)
        keep_union = np.zeros(ids.size, dtype=bool)
        for cl in const_clauses:
            m = _clause_match_mask(by_term, cl, ids, dl_exact, base)
            if cl["action"] == "discard":
                drop |= m
            else:
                # + 0.0 on non-matches keeps the exact fp association of
                # the oracle's sequential CASE additions
                score = score + np.where(m, cl["bonus"], 0.0)
                keep_union |= m
        sel = ~drop
        if has_empty_discard:
            sel &= keep_union
        ids, score = ids[sel], score[sel]
    elif has_empty_discard and ids.size:
        # bare $discard with NO other lowered instruction (site-only
        # discards become MustNot terms, not clauses): nothing can match
        # "some other instruction", so every doc is discarded — the
        # reference and the DataFrame fallback both return empty here
        ids, score = ids[:0], score[:0]
    return _ranked(
        ids, score, k, int(ids.size) if with_count else None,
        None if kmetrics is None else
        (kmetrics["blocks_decoded"], kmetrics["blocks_total"]),
    )


def wand_topk(
    segments: DataFrame,
    norms: DataFrame,
    query: str | ParsedQuery,
    num_docs: int,
    avgdl: float,
    term_df: dict[str, int],
    k: int = 10,
    mode: str = "must",
    analyzer: str = "ascii",
    max_docs_per_segment: int | None = None,
    add_pre: bool = False,
    const_clauses: list[dict] | None = None,
    has_empty_discard: bool = False,
    score_coeff: float | None = None,
    extra_neg_terms: list[str] | None = None,
    with_metrics: bool = False,
    ladder: tuple[tuple[float, int], ...] | None = None,
    driver: DriverScan | None = None,
) -> DataFrame:
    """→ (doc_id, score) global top-k from the segment index.

    ``driver``: the handle's pinned local files (:class:`DriverScan`);
    with it a small request is scored on the driver (:func:`per_segment`)
    and the result is a local relation.  Without it (bare DataFrames)
    the Spark site always runs.

    ``ladder``: (boost, slop) proximity rungs scored in-retrieval inside
    the per-segment kernel (single-phase — reference parity with the
    Should-phrase ladder of src/query/mod.rs:45-93).  Needs a
    positions=True index; incompatible with the max-docs quota (the
    quota's pre-dominance soundness argument doesn't cover the bonus).

    ``with_metrics=True`` changes the return into a driver-side
    ``(top_list, metrics)`` tuple where metrics sums the per-segment
    pruning sentinels — ``{"blocks_decoded": d, "blocks_total": n}`` over
    the scoring terms' tf blocks (the bench's measured pruning win; the
    collected row count stays bounded at segments × (k+2)).

    ``term_df`` is the global document frequency of each query term (from
    the term_stats table — a driver-side dict of ≤ a few entries).

    ``const_clauses``: lowered goggle instructions
    (operators.goggles.lower_goggle) — site attr-term predicates and token
    patterns evaluated INSIDE the per-segment kernel against the base
    query's matches, adding ±n·SCALE const bonuses / discarding before the
    top-k cut (reference lowering goggles/mod.rs:166-260).  ``score_coeff``
    scales the bm25 signal (@bm25 alteration)."""
    spark = segments.sparkSession
    if has_empty_discard and not const_clauses:
        # bare $discard with NO other lowered instruction (site-only
        # discards become MustNot terms, not clauses): nothing can match
        # "some other instruction" — every doc is discarded, and the
        # fast paths would otherwise skip the restriction entirely
        if with_metrics:
            return [], {"blocks_decoded": 0, "blocks_total": 0}
        return empty_topk(spark)
    pq = parse_query(query, analyzer) if isinstance(query, str) else query
    spec = _query_spec(pq, mode, num_docs, avgdl, term_df, k, extra_neg_terms)
    if spec is None:
        return empty_topk(spark)
    ladder_w = 0.0
    if ladder is not None:
        if max_docs_per_segment is not None:
            raise ValueError(
                "proximity ladder + max-docs quota is unsupported: the "
                "quota's soundness argument does not bound the ladder "
                "bonus"
            )
        if len(pq.uniq_terms) < 2:
            ladder = None  # a 1-term query has no proximity rungs
        else:
            from ..functions.bm25 import idf as idf_fn

            ladder_w = sum(
                idf_fn(term_df.get(t, 0), num_docs) for t in pq.uniq_terms
            ) * (K1 + 1.0)

    # goggle clause terms join the pruned scan like any query term: site
    # attr terms + pattern terms (their positions are needed iff a clause
    # carries a pattern)
    clause_terms: list[str] = []
    clause_patterns = False
    for cl in const_clauses or []:
        if cl.get("site_term"):
            clause_terms.append(cl["site_term"])
        if cl.get("pattern_terms"):
            clause_terms.extend(cl["pattern_terms"])
            clause_patterns = True
    per_seg = per_segment(
        segments, norms,
        [pq.all_match_terms + spec["neg_terms"] + spec["filter_terms"]
         + clause_terms + [DELETES_TERM]],
        bool(pq.phrases) or clause_patterns or ladder is not None,
        lambda view: result_frame(view.seg, _segment_topk_kernel(
            view, **spec,
            max_docs=max_docs_per_segment,
            add_pre=add_pre,
            const_clauses=const_clauses,
            has_empty_discard=has_empty_discard,
            score_coeff=score_coeff,
            with_metrics=with_metrics,
            ladder=ladder,
            ladder_w=ladder_w,
        )),
        driver=driver,
    )
    if with_metrics:
        return fold_metrics_topk(per_seg, k)
    return topk_rows(per_seg, k, spark)


def wand_topk_batch(
    segments: DataFrame,
    norms: DataFrame,
    queries: list[tuple[str, str, str]],
    num_docs: int,
    avgdl: float,
    term_df: dict[str, int],
    k: int = 10,
    analyzer: str = "ascii",
    driver: DriverScan | None = None,
) -> DataFrame:
    """Evaluate MANY queries in ONE pass over the index → rows
    ``(query_id, doc_id, score)``, per-query top-k.

    ``queries``: (query_id, query_string, mode) triples.  The scan is
    pruned once to the UNION of every query's terms (one parquet read,
    one cogroup — the per-query fixed job cost is amortized across the
    whole batch).  This is the Spark-idiomatic answer to query
    throughput: the reference serves queries from a resident process
    (`src/…/search_server`), a batch engine serves them by making N
    queries cost one scan instead of N.

    Per-segment cost: grouping the blocks by term is O(union terms),
    paid once (:func:`segment_view`), plus each query's own scoring; the
    per-query top-k cut follows (:func:`batch_topk`).  With ``driver``
    a batch whose summed scan estimate is small runs on the driver
    (:func:`per_segment`).

    Results are identical to running :func:`wand_topk` per query —
    asserted by tests/test_batch_query.py.  ``term_df`` must cover the
    union of all queries' match terms."""
    specs = []
    scans = []
    for qid, q, mode in queries:
        pq = parse_query(q, analyzer) if isinstance(q, str) else q
        spec = _query_spec(pq, mode, num_docs, avgdl, term_df, k)
        if spec is not None:
            specs.append((qid, spec))
            scans.append(pq.all_match_terms + spec["neg_terms"]
                         + spec["filter_terms"] + [DELETES_TERM])
    if not specs:
        return empty_batch(segments.sparkSession)
    return batch_topk(
        segments, norms, specs, scans,
        any(spec["phrases"] for _, spec in specs), _segment_topk_kernel, k,
        driver,
    )


def _query_spec(
    pq: ParsedQuery,
    mode: str,
    num_docs: int,
    avgdl: float,
    term_df: dict[str, int],
    k: int,
    extra_neg: list[str] | None = None,
) -> dict | None:
    """Lower one parsed query into :func:`_segment_topk_kernel` keyword
    arguments, or None when it provably matches nothing.  ``term_df``
    holds the global document frequency of each match term."""
    from ..functions.bm25 import idf as idf_fn

    if not pq.all_match_terms or (mode == "must" and any(
        term_df.get(t, 0) == 0 for t in pq.all_match_terms
    )):
        return None
    counts = pq.term_counts
    return dict(
        terms=pq.uniq_terms,
        # attribute filters → reserved-namespace MustNot terms and Must
        # filter terms (site:/-site: semantics, parser.rs:193-216)
        neg_terms=sorted(
            set(pq.neg_terms)
            | {attr_term(f_, v) for f_, v in pq.anti_filters.items()}
            | set(extra_neg or [])
        ),
        qweights={
            t: counts[t] * weight(term_df.get(t, 0), num_docs)
            for t in pq.uniq_terms
        },
        avgdl=avgdl, k=k, mode=mode, phrases=pq.phrases,
        # PhraseQuery weight = Σ member idf × (K1+1) (bm25.rs:66-90)
        pweights=[
            sum(idf_fn(term_df.get(t, 0), num_docs) for t in ph) * (K1 + 1.0)
            for ph in pq.phrases
        ],
        filter_terms=sorted(attr_term(f_, v) for f_, v in pq.filters.items()),
    )


_SCAN_COLS = (
    "segment_id", "term", "block_id", "first_doc_id", "last_doc_id",
    "num_docs", "id_bytes", "tf_bytes", "max_tf", "min_norm_id",
)


def _scan_cols(need_positions: bool, available: list[str]) -> list[str]:
    """The block columns a scan reads: the position streams — the widest
    column — only when ``need_positions``."""
    cols = list(_SCAN_COLS)
    if need_positions:
        cols.insert(8, "pos_bytes")
    return [c for c in cols if c in available]


def seg_scan(
    segments: DataFrame, terms: list[str], need_positions: bool
) -> DataFrame:
    """The block scan pruned to ``terms`` (the ``term IN`` predicate is
    pushed to parquet; column pruning reaches the parquet ReadSchema)."""
    return segments.filter(F.col("term").isin(sorted(set(terms)))).select(
        *_scan_cols(need_positions, segments.columns)
    )


# The driver site scores a request in-process when its estimate is below
# DRIVER_SITE_POSTINGS; larger requests take the Spark job (0: never the
# driver).  The estimate, known before any read, is the postings the
# request scans — Σ over its queries of Σ term_df over each query's scan
# terms — plus KERNEL_CALL_POSTINGS per (segment, query) kernel call: on
# the driver every call runs one after the other, and its fixed cost
# (~0.5 ms over the columnar segment views) dominates once an index has
# more segments than the Spark site has cores.  Sweep on a 4-core host,
# local[4], perfbench corpus seed 1 (8192 docs), cached doc-id handle,
# search_batch of n distinct rare_or/and2/and3/or4 queries, median of 3
# (seconds, driver / Spark; two runs where the points repeat):
#   2 segments:  n=1 0.05/0.70  n=32 0.11/0.75  n=64 0.18/0.72
#                n=128 0.35/1.02  n=256 0.56/1.20  n=512 0.91/1.55
#   16 segments: n=16 0.26/0.57  n=32 0.46/0.76  n=64 0.51/0.80, 0.77/0.99
#                n=96 0.77/0.77, 0.89/1.30  n=128 1.77/1.35
#   64 segments: n=4 0.18/0.61  n=8 0.26/0.70, 0.36/1.02
#                n=16 0.64/0.61, 0.70/0.85  n=24 0.67/0.60, 0.81/0.91
# The crossovers sit at ~1000-1500 kernel calls (≈ 1.0M with the call
# weight, the lower end); with 2 segments the Spark site runs only 2
# tasks and loses up to n=512, so there the rule errs toward the Spark
# site above n≈400.
DRIVER_SITE_POSTINGS = 1_000_000
KERNEL_CALL_POSTINGS = 1_000


class DriverScan(NamedTuple):
    """What the driver site reads: the local parquet files a handle
    pinned at open (the files Spark listed for its table, so the driver
    sees the same snapshot as the Spark views), the handle's norms split,
    its ``term_df`` lookup and segment count for the estimate.  Every
    index directory holds the one fused table, so every handle over
    local files pins one."""

    files: tuple[str, ...]
    split: NormsSplit
    term_df: Callable[[list[str]], dict[str, int]]
    segments: int


def pin_driver_scan(
    files: tuple[str, ...],
    split: NormsSplit,
    term_df: Callable[[list[str]], dict[str, int]],
) -> DriverScan | None:
    """The handle's :class:`DriverScan` over ``files`` (from
    :func:`local_paths`), its segments counted from the norms rows — or
    None when pyarrow cannot read the files on the driver."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    try:
        seg = pads.dataset(list(files), format="parquet").to_table(
            columns=["segment_id"], filter=split.arrow_rows(),
        ).column("segment_id")
    except (OSError, pa.ArrowInvalid):
        return None
    return DriverScan(files, split, term_df, len(pc.unique(seg)))


def local_paths(uris: list[str]) -> tuple[str, ...] | None:
    """The driver-readable paths behind Spark's ``inputFiles()`` URIs, or
    None unless every one is a local ``file:`` URI (object stores, HDFS
    and friends are read by the Spark site only)."""
    from urllib.parse import urlparse
    from urllib.request import url2pathname

    out = []
    for uri in uris:
        u = urlparse(uri)
        if u.scheme != "file" or u.netloc not in ("", "localhost"):
            return None
        out.append(url2pathname(u.path))
    return tuple(out) or None


def read_driver(
    src: DriverScan, terms: list[str], need_positions: bool
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """→ (blocks, norms) frames of every segment, read with pyarrow from
    the pinned files — the columns and rows the Spark site's cogroup
    delivers: blocks are the non-norms rows with ``term IN terms``,
    norms the split's sentinel rows under their aliases."""
    import pyarrow.dataset as pads

    ds = pads.dataset(list(src.files), format="parquet")
    norms_rows = src.split.arrow_rows()
    blocks = ds.to_table(
        columns=_scan_cols(need_positions, ds.schema.names),
        filter=pads.field("term").isin(pa.array(terms, pa.string()))
        & ~norms_rows,
    ).to_pandas()
    norms = ds.to_table(
        columns=[c for _, c in src.split.cols], filter=norms_rows,
    ).to_pandas()
    norms.columns = [a for a, _ in src.split.cols]
    return blocks, norms


def _empty_frame(schema: str) -> pd.DataFrame:
    """An empty pandas frame typed like the DDL ``schema``."""
    dtypes = {"int": "int32", "long": "int64", "double": "float64",
              "string": "object"}
    return pd.DataFrame({
        name: pd.Series([], dtype=dtypes[typ])
        for name, typ in (c.split() for c in schema.split(","))
    })


def per_segment(
    segments: DataFrame,
    norms: DataFrame,
    scans: list[list[str]],
    need_positions: bool,
    score: Callable[[SegmentView], pd.DataFrame],
    schema: str = _RESULT_SCHEMA,
    driver: DriverScan | None = None,
) -> DataFrame | pd.DataFrame:
    """Run ``score`` once per segment over its :func:`segment_view` — the
    one dispatch point of every query shape.  ``scans`` holds each
    query's scan terms; the blocks read are their union.  ``score``
    returns the segment's rows typed like ``schema``, as ONE frame; a
    segment with an empty side (no view) has no rows.

    * **Driver site** — when ``driver`` is given and the request's
      estimate (Σ over ``scans`` of Σ term_df, plus
      :data:`KERNEL_CALL_POSTINGS` per segment and query) is below
      :data:`DRIVER_SITE_POSTINGS`: read the pinned files with pyarrow
      (:func:`read_driver`), score the segments in segment-id order
      in-process, and return the concatenated per-segment rows as a
      pandas frame.  A pyarrow ``OSError`` / ``ArrowInvalid`` falls back
      to the Spark site.
    * **Spark site** — otherwise (also when ``driver`` is None: files
      that are not all local, or bare DataFrames): cogroup the pruned
      block scan with the norms on ``segment_id`` in one Python-UDF job;
      returns that plan.

    The cut helpers (:func:`topk_rows`, :func:`fold_count_topk`,
    :func:`fold_metrics_topk`, :func:`batch_topk`) accept either."""
    terms = sorted({t for scan in scans for t in scan})
    if driver is not None and driver.files:
        dfs = driver.term_df(terms)
        est = sum(dfs.get(t, 0) for scan in scans for t in set(scan))
        est += KERNEL_CALL_POSTINGS * driver.segments * len(scans)
        if est < DRIVER_SITE_POSTINGS:
            try:
                blocks, norms_pdf = read_driver(driver, terms, need_positions)
            except (OSError, pa.ArrowInvalid):
                # unreadable on the driver (a file gone since open, a
                # corrupt footer): the Spark reader is the safe superset
                pass
            else:
                return _score_on_driver(blocks, norms_pdf, score, schema)

    def run(key: tuple, blocks_pdf: pd.DataFrame,
            norms_pdf: pd.DataFrame) -> pd.DataFrame:
        view = segment_view(blocks_pdf, norms_pdf)
        return _empty_frame(schema) if view is None else score(view)

    return (
        seg_scan(segments, terms, need_positions).groupBy("segment_id")
        .cogroup(norms.groupBy("segment_id"))
        .applyInPandas(run, schema)
    )


def _score_on_driver(
    blocks: pd.DataFrame,
    norms: pd.DataFrame,
    score: Callable[[SegmentView], pd.DataFrame],
    schema: str,
) -> pd.DataFrame:
    """The cogroup's semantics in-process: ``score`` once per segment id
    present on both sides (a segment with an empty side has no rows), in
    segment-id order."""
    by_blocks = dict(tuple(blocks.groupby("segment_id")))
    by_norms = dict(tuple(norms.groupby("segment_id")))
    outs = [
        score(segment_view(by_blocks[seg], by_norms[seg]))
        for seg in sorted(by_blocks.keys() & by_norms.keys())
    ]
    return pd.concat(outs, ignore_index=True) if outs else _empty_frame(schema)


_TOP_ARROW = pa.schema([("doc_id", pa.int64()), ("score", pa.float64())])
_BATCH_ARROW = pa.schema([
    ("query_id", pa.string()), ("doc_id", pa.int64()), ("score", pa.float64()),
])


def local_result(spark, pdf: pd.DataFrame, schema: pa.Schema) -> DataFrame:
    """A driver-side result as a DataFrame: a local relation built from
    Arrow (under ``spark.sql.execution.arrow.localRelationThreshold``),
    so its ``collect()`` starts no Spark job — unlike
    ``createDataFrame`` of a Python list, which ships the rows through a
    Python job.  The frame is marked so the handles' plan memo skips it
    (:func:`driver_result`) and keeps ``pdf`` (:func:`driver_frame`)."""
    df = spark.createDataFrame(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    )
    df._driver_frame = pdf
    return df


def driver_frame(df: DataFrame) -> pd.DataFrame | None:
    """The pandas rows a :func:`local_result` was built from, or None for
    any other DataFrame."""
    return vars(df).get("_driver_frame")


def driver_result(df: DataFrame) -> bool:
    """True for a result :func:`local_result` built (already scored)."""
    return driver_frame(df) is not None


def empty_topk(spark) -> DataFrame:
    """The no-match (doc_id, score) result, with no Spark job."""
    return local_result(spark, _empty_frame("doc_id long, score double"),
                        _TOP_ARROW)


def empty_batch(spark) -> DataFrame:
    """The no-match (query_id, doc_id, score) batch result, no Spark job."""
    return local_result(spark, _empty_frame(_BATCH_SCHEMA), _BATCH_ARROW)


def _driver_rank(pdf: pd.DataFrame) -> pd.DataFrame:
    """Rows in (score desc, doc_id asc) order — the engine-wide tie
    contract."""
    return pdf.iloc[np.lexsort((pdf["doc_id"].to_numpy(),
                                -pdf["score"].to_numpy()))]


def _driver_top(pdf: pd.DataFrame, k: int) -> list[tuple[int, float]]:
    top = _driver_rank(pdf[pdf["doc_id"] >= 0]).iloc[:k]
    return [(int(d), float(s)) for d, s in zip(top["doc_id"], top["score"])]


def _sentinel_sum(pdf: pd.DataFrame, doc_id: int) -> int:
    """Σ score over the kernel sentinel rows ``doc_id`` (−1 count, −2/−3
    blocks decoded/total)."""
    return int(pdf.loc[pdf["doc_id"] == doc_id, "score"].sum())


def topk_rows(per_seg: DataFrame | pd.DataFrame, k: int, spark) -> DataFrame:
    """The global top-k (doc_id, score) of :func:`per_segment`'s rows,
    ordered (score desc, doc_id asc): Catalyst's TakeOrderedAndProject on
    the Spark site, a driver-side sort into a local relation on the
    driver site."""
    if isinstance(per_seg, pd.DataFrame):
        top = _driver_rank(per_seg).iloc[:k]
        return local_result(spark, top[["doc_id", "score"]], _TOP_ARROW)
    return (
        per_seg
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def batch_segment_topk(
    view: SegmentView,
    specs: list[tuple[str, dict]],
    kernel: Callable[..., SegmentTopK],
) -> pd.DataFrame:
    """Per-segment body of a batch search → rows (query_id, doc_id,
    score): ``kernel(view, **spec)`` scores each (query_id, spec) of the
    non-empty ``specs`` against the ONE view built for the segment, and
    the results land in ONE frame."""
    rows = [kernel(view, **spec).rows() for _, spec in specs]
    return pd.DataFrame({
        "query_id": np.repeat(
            np.array([qid for qid, _ in specs], dtype=object),
            [ids.size for ids, _ in rows],
        ),
        "doc_id": np.concatenate([ids for ids, _ in rows]),
        "score": np.concatenate([sc for _, sc in rows]),
    })


def batch_topk(
    segments: DataFrame,
    norms: DataFrame,
    specs: list[tuple[str, dict]],
    scans: list[list[str]],
    need_positions: bool,
    kernel: Callable[..., SegmentTopK],
    k: int,
    driver: DriverScan | None = None,
) -> DataFrame:
    """The result behind both handles' ``search_batch``:
    :func:`batch_segment_topk` per segment through :func:`per_segment`
    (``scans`` holds each spec's scan terms, so the estimate counts
    every query), then the per-query cut — rows (query_id, doc_id,
    score) sorted (query_id, score desc, doc_id asc), each query's
    top-k.  On the Spark site the ≤ segments × queries × k candidate
    rows (never posting data) move to ONE partition, where row_number ≤
    k keeps each query's top-k — no range-sampling job of a global
    orderBy; on the driver site the same cut runs in pandas into a local
    relation."""
    per_seg = per_segment(
        segments, norms, scans, need_positions,
        lambda view: batch_segment_topk(view, specs, kernel), _BATCH_SCHEMA,
        driver,
    )
    if isinstance(per_seg, pd.DataFrame):
        qcode = pd.factorize(per_seg["query_id"], sort=True)[0]
        order = np.lexsort((
            per_seg["doc_id"].to_numpy(), -per_seg["score"].to_numpy(), qcode,
        ))
        rank = pd.Series(qcode[order]).groupby(qcode[order]).cumcount()
        cut = per_seg.iloc[order[rank.to_numpy() < k]]
        return local_result(segments.sparkSession, cut, _BATCH_ARROW)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        per_seg.repartition(1)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .sortWithinPartitions("query_id", F.desc("score"), F.asc("doc_id"))
    )


def wand_topk_count(
    segments: DataFrame,
    norms: DataFrame,
    query: str | ParsedQuery,
    num_docs: int,
    avgdl: float,
    term_df: dict[str, int],
    k: int = 10,
    mode: str = "must",
    analyzer: str = "ascii",
    driver: DriverScan | None = None,
) -> tuple[list[tuple[int, float]], int]:
    """Top-k AND the exact total match count in ONE pass (the reference's
    count-alongside-top-k collector): each segment kernel appends a
    sentinel row (doc_id −1) carrying its pre-cut match count; the driver
    splits the ≤ segments×(k+1) collected rows.  Pruned fast paths are
    bypassed (an exact count requires full evaluation, as in the
    reference's counting collector)."""
    pq = parse_query(query, analyzer) if isinstance(query, str) else query
    spec = _query_spec(pq, mode, num_docs, avgdl, term_df, k)
    if spec is None:
        return [], 0
    per_seg = per_segment(
        segments, norms,
        [pq.all_match_terms + spec["neg_terms"] + spec["filter_terms"]
         + [DELETES_TERM]],
        bool(pq.phrases),
        lambda view: result_frame(
            view.seg, _segment_topk_kernel(view, **spec, with_count=True)),
        driver=driver,
    )
    return fold_count_topk(per_seg, k)


def _topk_structs(k: int):
    """The global top-k of a per-segment frame as ONE sorted array column
    ``_top`` of struct(ns=−score, d=doc_id): ascending struct order ==
    (score desc, doc_id asc), the engine-wide tie contract.  Sentinel
    rows (doc_id < 0) are left out."""
    return F.slice(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("doc_id") >= 0,
                    F.struct(
                        (-F.col("score")).alias("ns"),
                        F.col("doc_id").alias("d"),
                    ),
                )
            )
        ),
        1, k,
    ).alias("_top")


def fold_count_topk(
    per_seg: DataFrame | pd.DataFrame, k: int
) -> tuple[list[tuple[int, float]], int]:
    """Fold per-segment (top-k rows + count sentinels) into the global
    (top-k, total) SPARK-SIDE: one JVM aggregate sums the doc_id −1
    sentinels and sort-slices the candidate structs, so the driver
    receives exactly ONE row (k structs + 1 scalar) regardless of segment
    count — at 10⁴ segments the old per-segment collect shipped
    segments×(k+1) rows to the driver.

    Sort key: struct(−score, doc_id) ascending == (score desc, doc_id
    asc), the engine-wide tie contract.  collect_list is bounded at
    segments×k structs of 16 bytes — the same data volume the driver
    previously received, now folded on an executor.  A driver-site
    frame folds the same way in pandas."""
    if isinstance(per_seg, pd.DataFrame):
        return _driver_top(per_seg, k), _sentinel_sum(per_seg, -1)
    row = count_topk_agg(per_seg, k).collect()[0]
    total = int(row["_total"] or 0)
    top = [(int(x["d"]), -float(x["ns"])) for x in row["_top"]]
    return top, total


def fold_metrics_topk(
    per_seg: DataFrame | pd.DataFrame, k: int
) -> tuple[list[tuple[int, float]], dict]:
    """Fold per-segment (top-k rows + pruning sentinels −2/−3) into the
    global (top-k list, metrics) in ONE JVM aggregate — the metrics twin
    of :func:`fold_count_topk`: the driver receives a single row
    regardless of segment count.  A driver-site frame folds in pandas."""
    if isinstance(per_seg, pd.DataFrame):
        return _driver_top(per_seg, k), {
            "blocks_decoded": _sentinel_sum(per_seg, -2),
            "blocks_total": _sentinel_sum(per_seg, -3),
        }
    row = per_seg.agg(
        F.sum(
            F.when(F.col("doc_id") == -2, F.col("score"))
        ).alias("_dec"),
        F.sum(
            F.when(F.col("doc_id") == -3, F.col("score"))
        ).alias("_tot"),
        _topk_structs(k),
    ).collect()[0]
    top = [(int(x["d"]), -float(x["ns"])) for x in row["_top"]]
    return top, {
        "blocks_decoded": int(row["_dec"] or 0),
        "blocks_total": int(row["_tot"] or 0),
    }


def count_topk_agg(per_seg: DataFrame, k: int) -> DataFrame:
    """The ONE-ROW aggregate plan behind :func:`fold_count_topk` —
    exposed so tests can pin the plan shape (single aggregate, no
    per-segment rows reaching the driver)."""
    return per_seg.agg(
        F.sum(
            F.when(F.col("doc_id") == -1, F.col("score"))
        ).alias("_total"),
        _topk_structs(k),
    )


def wand_facet_counts(
    segments: DataFrame,
    query: str | ParsedQuery,
    facet_field: str,
    mode: str = "must",
    analyzer: str = "ascii",
    fields: list[str] | None = None,
) -> DataFrame:
    """Facet counts over the FULL match set of a query — the
    search-sidebar aggregation (per-``facet_field`` doc counts among
    every doc matching the query, not just the top-k page): →
    (facet_value, match_count), values with zero matches omitted.

    Spark-first shape: the scan is pruned to the query terms' postings
    plus the facet field's identity attr postings (``\\x01field:value``
    rows, the same machinery ``site:`` filters ride —
    `operators/segments.py:attr_term`); each segment kernel decodes the
    query postings once, forms the match set (must=intersection /
    should=union, minus negations, attr anti-filters and deletes), and
    intersects it with each attr posting — one pruned scan, one
    (value)-keyed partial-agg shuffle of ≤ values×segments tiny rows.
    Phrase constraints are not applied here (facets count TERM matches;
    a phrase-restricted facet would need the positions pass) — string
    queries are parsed with ``phrase=True`` so a multi-token unit
    raises rather than silently degrading to term matches.

    Reference parity: the reference's sidebar/site aggregations
    (SURVEY §2.7 region/subdomain counting) run as post-retrieval folds
    over collected docs; here the count runs index-side over the exact
    match set, which is the shape that survives 100 TB (no doc
    collection, cost bounded by the query terms' + facet attrs'
    posting bytes)."""
    pq = (
        parse_query(query, analyzer, phrase=True)
        if isinstance(query, str)
        else query
    )
    if pq.phrases:
        raise ValueError(
            "wand_facet_counts: phrase queries are not supported — the "
            "match set here is term-based; run the phrase search and "
            "aggregate its collected page instead"
        )
    if not pq.all_match_terms:
        return local_result(
            segments.sparkSession,
            _empty_frame("facet_value string, match_count long"),
            pa.schema([("facet_value", pa.string()),
                       ("match_count", pa.int64())]),
        )
    prefix = ATTR_PREFIX + facet_field + ":"
    filter_terms = sorted(
        attr_term(f_, v) for f_, v in pq.filters.items()
    )
    neg = sorted(
        set(pq.neg_terms)
        | {attr_term(f_, v) for f_, v in pq.anti_filters.items()}
    )
    if fields is None:
        need = pq.all_match_terms + neg + filter_terms + [DELETES_TERM]
        term_variants = {t: [t] for t in set(pq.all_match_terms) | set(neg)}
    else:
        # multi-field index: a doc matches a term when ANY field
        # contains it (the reference's Term -> per-field Should), so a
        # term's posting set is the union over its per-field namespaced
        # postings \x02{field}\x00{token}
        from .multifield import mf_term

        term_variants = {
            t: [mf_term(f_, t) for f_ in fields]
            for t in set(pq.all_match_terms) | set(pq.neg_terms)
        }
        for at in {attr_term(f_, v) for f_, v in pq.anti_filters.items()}:
            term_variants[at] = [at]
        need = [v for vs in term_variants.values() for v in vs] + (
            filter_terms + [DELETES_TERM]
        )
    scan = segments.filter(
        F.col("term").isin(need) | F.col("term").startswith(prefix)
    ).select(*_scan_cols(False, segments.columns))
    match_terms = list(pq.uniq_terms)
    drop_terms = list(dict.fromkeys(neg + [DELETES_TERM]))

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        by_term = term_blocks(pdf)

        def raw_ids(t: str) -> np.ndarray:
            g = by_term.get(t)
            if g is None:
                return np.empty(0, dtype=np.int64)
            if t == DELETES_TERM:
                # tombstone rows carry RAW int64 ids (operators/
                # deletes.py), not varint delta blocks
                return np.unique(np.concatenate([
                    np.frombuffer(bytes(b), dtype=np.int64)
                    for b in g.id_bytes
                ]))
            out, _ = decode_block_subset(g)
            return out.astype(np.int64)

        def ids(t: str) -> np.ndarray:
            vs = term_variants.get(t)
            if not vs:
                return raw_ids(t)
            if len(vs) == 1:
                return raw_ids(vs[0])
            return np.unique(np.concatenate([raw_ids(v) for v in vs]))

        match: np.ndarray | None = None
        if mode == "must":
            for t in match_terms:
                p = ids(t)
                match = p if match is None else np.intersect1d(
                    match, p, assume_unique=True
                )
                if match.size == 0:
                    break
        else:
            parts = [ids(t) for t in match_terms]
            match = np.unique(np.concatenate(parts)) if parts else (
                np.empty(0, dtype=np.int64)
            )
        for ft in filter_terms:
            if match.size == 0:
                break
            match = np.intersect1d(match, ids(ft), assume_unique=True)
        for t in drop_terms:
            if match.size == 0:
                break
            match = np.setdiff1d(match, ids(t), assume_unique=True)
        vals, cnts = [], []
        if match.size:
            for t in by_term:
                if not t.startswith(prefix):
                    continue
                c = np.intersect1d(match, ids(t), assume_unique=True).size
                if c:
                    vals.append(t[len(prefix):])
                    cnts.append(c)
        return pd.DataFrame(
            {"facet_value": pd.Series(vals, dtype="object"),
             "c": pd.Series(cnts, dtype="int64")}
        )

    per_seg = scan.groupBy("segment_id").applyInPandas(
        run, "facet_value string, c long"
    )
    return per_seg.groupBy("facet_value").agg(
        F.sum("c").cast("long").alias("match_count")
    )
