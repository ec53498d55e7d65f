"""Hierarchical index merge with deferred docID remap.

Reference semantics re-expressed for Spark:

* ``Index::merge`` adopts another index's segments file-level and defers
  docID remapping to segment merge (/root/reference/src/inverted_index.rs:
  308-355) — here: each source index keeps its dense local id space
  [0, num_docs) and the merge assigns ``new_id = old_id + offset`` where
  offsets are prefix sums over the *ordered* source list (derived from
  sorted metadata, never task order — SURVEY.md §7(d)).
* ``merge_into_segments`` balances merged segments with greedy LPT
  bin-packing by doc count (/root/reference/src/inverted_index.rs:247-297)
  — :func:`lpt_buckets` reproduces that assignment; the merged index is
  then re-segmented to contiguous doc ranges, which is what makes the
  packed-norms addressing and block-max skipping work post-merge.
* the heavy lifting is ONE cogroup keyed on the new segment id inside
  :func:`reencode_fused` — the Spark-native replacement for the
  reference's pairwise index fold (SURVEY.md §4 partitioning row).  Like
  the reference's merged segments, the output has the same format as a
  freshly built index: every merge writes the fused unified table.

Posting decode for the merge is a cogrouped Arrow pass (segments ⋈ norms
per source segment) — no join shuffle, both tables are already keyed by
segment.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .segments import decode_term_blocks, term_blocks


def _source_fp(stats: list[dict]) -> str | None:
    """The tokenizer fingerprint the sources' postings were ACTUALLY
    built under (checked equal across sources before any merge) — the
    merged index must carry THIS stamp, not the current definition's:
    a legacy-tokenized merge stamped as current would pass the open-time
    check and then silently tokenize queries differently.  UNKNOWN
    DOMINATES: if ANY source lacks the stamp, its postings' tokenizer
    version is unknowable, so the merged index carries no stamp either —
    stamping the other source's fp would upgrade unchecked legacy
    postings to checked-and-passing."""
    fps = [st.get("analyzer_fp") for st in stats]
    if any(f is None for f in fps):
        return None
    return fps[0]


def lpt_buckets(sizes: list[int], n_buckets: int) -> list[int]:
    """Greedy Longest-Processing-Time assignment: sort items by size desc,
    place each in the currently-smallest bucket. Returns bucket index per
    item (reference: inverted_index.rs:247-297)."""
    order = sorted(range(len(sizes)), key=lambda i: (-sizes[i], i))
    loads = [0] * n_buckets
    out = [0] * len(sizes)
    for i in order:
        b = min(range(n_buckets), key=lambda j: (loads[j], j))
        out[i] = b
        loads[b] += sizes[i]
    return out


def decode_postings(
    segments: DataFrame,
    norms: DataFrame,
    include_positions: bool = False,
) -> DataFrame:
    """segments + packed norms → postings rows
    ``(doc_id, term, tf, dl, norm_id [, positions])`` — the exact
    inverse of the segment encode, so build/merge roundtrips are testable
    and merged indexes keep phrase capability.

    ``dl`` is the *quantized* decode of norm_id; the exact per-doc token
    counts live in the sentinel rows (:func:`decode_exact_dls`), which is
    where merges take their norms and stats from."""
    from ..functions.fieldnorm import FIELD_NORMS_TABLE
    from .postings import POSTINGS_POS_SCHEMA, POSTINGS_SCHEMA
    from .segments import decode_subset_positions

    def run(key, seg_pdf: pd.DataFrame, norm_pdf: pd.DataFrame):
        from .segments import DELETES_TERM

        cols = {"doc_id": pd.Series([], dtype="int64"),
                "term": pd.Series([], dtype="object"),
                "tf": pd.Series([], dtype="int32"),
                "dl": pd.Series([], dtype="int32"),
                "norm_id": pd.Series([], dtype="int32")}
        if include_positions:
            cols["positions"] = pd.Series([], dtype="object")
        if len(seg_pdf) == 0 or len(norm_pdf) == 0:
            return pd.DataFrame(cols)
        # tombstones compact away HERE: deleted docs' postings never
        # reach the re-encode (the reference reclaims deletes at merge)
        tomb = seg_pdf["term"] == DELETES_TERM
        deleted: np.ndarray | None = None
        if tomb.any():
            deleted = np.unique(np.concatenate([
                np.frombuffer(bytes(b), dtype=np.int64)
                for b in seg_pdf.loc[tomb, "id_bytes"]
            ]))
            seg_pdf = seg_pdf[~tomb]
            if not len(seg_pdf):
                return pd.DataFrame(cols)
        base = int(norm_pdf["base_doc_id"].iloc[0])
        narr = np.frombuffer(norm_pdf["norm_bytes"].iloc[0], dtype=np.uint8)
        outs = []
        for term, tb in term_blocks(seg_pdf).items():
            ids, tfs = decode_term_blocks(tb)
            ids = ids.astype(np.int64)
            pos_rows = None
            if include_positions:
                # decode with the ORIGINAL tfs (position offsets align to
                # the undeleted stream), THEN filter rows
                pos, offs = decode_subset_positions(tb, tfs)
                pos_rows = [
                    pos[offs[i]:offs[i + 1]].tolist()
                    for i in range(len(ids))
                ]
            if deleted is not None:
                keep = ~np.isin(ids, deleted)
                ids, tfs = ids[keep], tfs[keep]
                if pos_rows is not None:
                    pos_rows = [p for p, k_ in zip(pos_rows, keep) if k_]
                if not ids.size:
                    continue
            nid = narr[ids - base].astype(np.int32)
            out = {
                "doc_id": pd.Series(ids, dtype="int64"),
                "term": pd.Series([term] * len(ids), dtype="object"),
                "tf": pd.Series(tfs.astype(np.int32), dtype="int32"),
                "dl": pd.Series(
                    FIELD_NORMS_TABLE[nid].astype(np.int32), dtype="int32"
                ),
                "norm_id": pd.Series(nid, dtype="int32"),
            }
            if include_positions:
                out["positions"] = pd.Series(pos_rows, dtype="object")
            outs.append(pd.DataFrame(out))
        if not outs:
            return pd.DataFrame(cols)
        return pd.concat(outs, ignore_index=True)

    schema = POSTINGS_POS_SCHEMA if include_positions else POSTINGS_SCHEMA
    return (
        segments.groupBy("segment_id")
        .cogroup(norms.groupBy("segment_id"))
        .applyInPandas(run, schema)
    )


def source_tombstones(spark: SparkSession, d: str, st: dict) -> DataFrame:
    """All tombstoned INTERNAL ids of a fused source as a (doc_id) frame
    (used by the merge to shrink doc maps and recompute stats; the
    posting-level drop happens inside :func:`decode_postings`)."""
    from ..streaming.ingest import registered_paths
    from .segments import DELETES_TERM

    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(*registered_paths(d, st))
        .filter(F.col("term") == DELETES_TERM)
        .select("id_bytes")
    )

    def explode(pdfs):
        for pdf in pdfs:
            outs = []
            for b in pdf["id_bytes"]:
                outs.append(pd.DataFrame({
                    "doc_id": np.frombuffer(bytes(b), dtype=np.int64)
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return rows.mapInPandas(explode, "doc_id long").distinct()


def merge_indexes(
    spark: SparkSession,
    source_dirs: list[str],
    out_dir: str,
    docs_per_segment: int | None = None,
) -> "IndexPaths":
    """Merge N independently-built indexes into one re-segmented fused
    index — the same table a one-shot build over the union writes.

    Sources are taken in the given order.  Doc-id sources keep their ids
    shifted by prefix-sum offsets over each source's id span
    max(next_doc_id, num_docs), which covers streaming appends past
    num_docs; presorted sources are re-ranked globally; multi-field
    sources merge per field.  Global stats and term dfs are sums over
    sources (disjoint doc spaces), minus the tombstoned docs the merge
    drops.
    """
    from ..plans.build import IndexPaths

    stats = [IndexPaths(d).read_stats() for d in source_dirs]
    analyzer = stats[0]["analyzer"]
    if any(st["analyzer"] != analyzer for st in stats):
        raise ValueError("cannot merge indexes built with different analyzers")
    fps = {st.get("analyzer_fp") for st in stats}
    if len(fps - {None}) > 1:
        raise ValueError(
            "cannot merge indexes whose tokenizer definitions differ "
            f"(analyzer {analyzer!r}, fingerprints {sorted(fps - {None})}) "
            "— the same query would tokenize differently per source"
        )
    # flavor dispatch: multi-field sources have per-field norm rows
    # ('\x02field\x1f…' terms + '\x00__mf__…' sentinels) that the
    # single-field decode would varint-decode as corrupt posting deltas,
    # so they route to the dedicated MF merge; mixing MF and single-field
    # sources has no coherent term namespace
    n_mf = sum("multifield" in st for st in stats)
    if n_mf == len(stats) and stats:
        return _merge_multifield(
            spark, source_dirs, stats, out_dir, docs_per_segment
        )
    if n_mf:
        raise ValueError(
            "merge_indexes cannot mix MULTI-FIELD and single-field "
            "sources: their term namespaces are disjoint by construction"
        )
    n_pre = sum(bool(st.get("presorted")) for st in stats)
    if n_pre not in (0, len(stats)):
        raise ValueError(
            "merge_indexes cannot mix PRESORTED and doc-id-ordered "
            "sources: the merged order would be neither (docs without "
            "pre-scores cannot be globally re-ranked)"
        )
    return _merge_single_field(
        spark, source_dirs, stats, out_dir, docs_per_segment, n_pre > 0
    )


def decode_exact_dls(norms: DataFrame) -> DataFrame:
    """Sentinel rows → exact per-doc token counts ``(doc_id, dl)``.

    The fused build's main sentinel carries the EXACT span-aligned per-doc
    token counts after its 5 metric values (segments.py meta_row) — the
    quantized norm bytes alone cannot reproduce them, and the merged
    index's sentinels must carry them again (trailing-anchor goggle
    patterns read the tail).  Emits every span slot including dl=0 gap
    ids; joins against the docmap drop those.

    Legacy sentinels (written before the exact-dl tail existed) have no
    tail — mirror decode_mf_norms and fall back to the quantized
    ``FIELD_NORMS_TABLE[norm_id]`` dls rather than emitting a
    mismatched-length Series (NaN column → opaque Arrow failure in the
    presorted-merge / delete-accounting consumers)."""
    from ..functions.codec import varint_decode
    from ..functions.fieldnorm import FIELD_NORMS_TABLE

    def run(pdfs):
        for pdf in pdfs:
            outs = []
            for _, r in pdf.iterrows():
                vals = varint_decode(bytes(r["meta_bytes"]))
                span = int(r["n_docs"])
                base = int(r["base_doc_id"])
                tail = vals[5:5 + span]
                if len(tail) == span:
                    dl = np.asarray(tail, dtype=np.int64)
                else:
                    # legacy pre-tail sentinel: quantized dls from the
                    # packed norm bytes (rebuild the index for exact stats)
                    narr = np.frombuffer(
                        bytes(r["norm_bytes"]), dtype=np.uint8
                    )
                    if len(narr) != span:
                        raise ValueError(
                            "corrupt sentinel: no exact-dl tail and "
                            f"norm_bytes span {len(narr)} != n_docs {span}"
                            " — rebuild the index for exact stats"
                        )
                    dl = FIELD_NORMS_TABLE[narr.astype(np.int64)].astype(
                        np.int64
                    )
                outs.append(pd.DataFrame({
                    "doc_id": pd.Series(
                        base + np.arange(span, dtype=np.int64), dtype="int64"
                    ),
                    "dl": pd.Series(dl, dtype="int64"),
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return norms.select(
        "base_doc_id", "n_docs", "meta_bytes", "norm_bytes"
    ).mapInPandas(run, "doc_id long, dl long")


def reencode_fused(
    postings: DataFrame,
    docside: DataFrame,
    docs_per_segment: int,
    include_positions: bool,
) -> DataFrame:
    """(remapped postings, per-doc (doc_id, dl [, pre_score])) → unified
    fused rows BYTE-IDENTICAL to what ``build_index_fused`` (with
    ``pre_scores=...`` when the doc side carries ``pre_score``) writes for
    the same logical corpus: same block encode, same packed norms
    (recomputed from the exact dls), same sentinel through
    :func:`~stractt_spark.operators.segments.segment_rows`.  One cogroup
    on the new segment id — postings arrive already remapped, so this is
    the merge's only wide exchange over posting rows."""
    from ..functions.fieldnorm import fieldnorm_to_id
    from .segments import SEGMENTS_SCHEMA, segment_rows

    dps = docs_per_segment

    def run(key, post_pdf: pd.DataFrame, doc_pdf: pd.DataFrame):
        seg = int(key[0])
        base = seg * dps
        local_d = doc_pdf["doc_id"].to_numpy("int64") - base
        span = int(local_d.max()) + 1 if len(local_d) else 0
        dls = doc_pdf["dl"].to_numpy("int64")
        narr = np.zeros(span, dtype=np.uint8)
        narr[local_d] = fieldnorm_to_id(dls).astype(np.uint8)
        dl_span = np.zeros(span, dtype=np.uint64)
        dl_span[local_d] = dls.astype(np.uint64)
        pre = None
        if "pre_score" in doc_pdf.columns:
            pre = np.zeros(span, dtype=np.float32)
            pre[local_d] = doc_pdf["pre_score"].to_numpy(
                "float64"
            ).astype(np.float32)

        def col(name: str, dtype):
            # a segment with no postings may arrive as a column-less frame
            if not len(post_pdf):
                return np.zeros(0, dtype=dtype)
            return post_pdf[name].to_numpy(dtype=dtype)

        return segment_rows(
            seg, base, col("term", object), col("doc_id", np.int64),
            col("tf", np.int64),
            col("positions", object) if include_positions else None,
            narr, dl_span, len(doc_pdf), pre,
        )

    return (
        postings.groupBy("segment_id")
        .cogroup(docside.groupBy("segment_id"))
        .applyInPandas(run, SEGMENTS_SCHEMA)
    )


def decode_blocks(
    segments: DataFrame, include_positions: bool = False
) -> DataFrame:
    """Posting block rows → ``(doc_id, term, tf [, positions])`` without
    touching any norms — the decode half shared by the multi-field merge
    (phys terms keep their ``\\x02field\\x1f`` prefix; norms travel
    separately as per-field rows)."""
    from .segments import decode_subset_positions

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cols = {"doc_id": pd.Series([], dtype="int64"),
                "term": pd.Series([], dtype="object"),
                "tf": pd.Series([], dtype="int32")}
        if include_positions:
            cols["positions"] = pd.Series([], dtype="object")
        if not len(pdf):
            return pd.DataFrame(cols)
        outs = []
        for term, tb in term_blocks(pdf).items():
            ids, tfs = decode_term_blocks(tb)
            out = {
                "doc_id": pd.Series(ids.astype(np.int64), dtype="int64"),
                "term": pd.Series([term] * len(ids), dtype="object"),
                "tf": pd.Series(tfs.astype(np.int32), dtype="int32"),
            }
            if include_positions:
                pos, offs = decode_subset_positions(tb, tfs)
                out["positions"] = pd.Series(
                    [pos[offs[i]:offs[i + 1]].tolist()
                     for i in range(len(ids))],
                    dtype="object",
                )
            outs.append(pd.DataFrame(out))
        return pd.concat(outs, ignore_index=True)

    schema = "doc_id long, term string, tf int"
    if include_positions:
        schema += ", positions array<long>"
    return segments.groupBy("segment_id").applyInPandas(run, schema)


def decode_mf_norms(mf_norm_rows: DataFrame) -> DataFrame:
    """Per-field packed norm sentinel rows →
    ``(doc_id, field, norm_id, dl)`` for every span slot (gap slots come
    out norm 0 / dl 0; callers filter).  ``dl`` is the EXACT per-doc
    token count from the sentinel's varint tail — what makes merged /
    compacted multi-field stats exact rather than quantized."""
    from ..functions.codec import varint_decode
    from .multifield import MF_NORMS_PREFIX

    plen = len(MF_NORMS_PREFIX)

    def run(pdfs):
        for pdf in pdfs:
            outs = []
            for _, r in pdf.iterrows():
                narr = np.frombuffer(bytes(r["id_bytes"]), dtype=np.uint8)
                base = int(r["first_doc_id"])
                vals = varint_decode(bytes(r["tf_bytes"]))
                tail = vals[2:2 + len(narr)]
                if len(tail) == len(narr):
                    dl = np.asarray(tail, dtype=np.int64)
                else:
                    # legacy sentinel without the dl tail: quantized dls
                    # (pre-tail indexes; rebuild for exact stats)
                    from ..functions.fieldnorm import FIELD_NORMS_TABLE

                    dl = FIELD_NORMS_TABLE[narr.astype(np.int64)].astype(
                        np.int64
                    )
                outs.append(pd.DataFrame({
                    "doc_id": pd.Series(
                        base + np.arange(len(narr), dtype=np.int64),
                        dtype="int64"),
                    "field": pd.Series([r["term"][plen:]] * len(narr),
                                       dtype="object"),
                    "norm_id": pd.Series(narr.astype(np.int32),
                                         dtype="int32"),
                    "dl": pd.Series(dl, dtype="int64"),
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return mf_norm_rows.select(
        "term", "first_doc_id", "id_bytes", "tf_bytes"
    ).mapInPandas(run, "doc_id long, field string, norm_id int, dl long")


def reencode_fused_multifield(
    postings: DataFrame,
    docside: DataFrame,
    fields: list[str],
    docs_per_segment: int,
    include_positions: bool,
    with_pre: bool,
) -> DataFrame:
    """(remapped phys-term postings, per-(doc, field) (norm_id, dl)
    [+ per-doc pre]) → unified multi-field rows.  Norm bytes are carried
    over from the sources (quantized ids are remap-invariant) and the
    per-field sentinels re-pack the EXACT per-doc token counts from the
    decoded dl tails, so the merged unified table is byte-identical to a
    one-shot build over the union."""
    from ..functions.codec import varint_encode
    from .multifield import MF_NORMS_PREFIX, MF_TERM_PREFIX, MF_TERM_SEP
    from .segments import NORMS_SENTINEL, SEGMENTS_SCHEMA, encode_segment_arrays

    dps = docs_per_segment
    fields = sorted(fields)
    findex = {f_: i for i, f_ in enumerate(fields)}

    def run(key, post_pdf: pd.DataFrame, doc_pdf: pd.DataFrame):
        seg = int(key[0])
        base = seg * dps
        d_ids = doc_pdf["doc_id"].to_numpy("int64")
        d_local = d_ids - base
        span = int(d_local.max()) + 1 if len(d_local) else 0
        narr_stack = np.zeros((len(fields), span), dtype=np.uint8)
        f_vals = doc_pdf["field"].to_numpy(dtype=object)
        n_vals = doc_pdf["norm_id"].to_numpy("int64")
        dl_vals = doc_pdf["dl"].to_numpy("int64")
        sentinel_rows = []
        total_exact = 0
        n_docs = len(np.unique(d_local))
        for f_ in fields:
            sel = f_vals == f_
            narr_stack[findex[f_], d_local[sel]] = n_vals[sel].astype(
                np.uint8
            )
            dl_span = np.zeros(span, dtype=np.uint64)
            dl_span[d_local[sel]] = dl_vals[sel].astype(np.uint64)
            field_sum = int(dl_vals[sel].sum())
            total_exact += field_sum
            sentinel_rows.append({
                "segment_id": seg, "term": f"{MF_NORMS_PREFIX}{f_}",
                "block_id": -1, "first_doc_id": base,
                "last_doc_id": base + span - 1, "num_docs": span,
                "id_bytes": narr_stack[findex[f_]].tobytes(),
                "tf_bytes": varint_encode(np.concatenate([
                    np.array([field_sum, n_docs], dtype=np.uint64),
                    dl_span,
                ])),
                "pos_bytes": None, "max_tf": 0, "min_norm_id": 0,
            })
        pre_packed = None
        if with_pre:
            parr = np.zeros(span, dtype=np.float32)
            parr[d_local] = doc_pdf["pre_score"].to_numpy(
                "float64"
            ).astype(np.float32)
            pre_packed = parr.tobytes()
        n_postings = len(post_pdf)
        sentinel_rows.insert(0, {
            "segment_id": seg, "term": NORMS_SENTINEL, "block_id": -1,
            "first_doc_id": base, "last_doc_id": base + span - 1,
            "num_docs": span,
            "id_bytes": np.zeros(span, dtype=np.uint8).tobytes(),
            "tf_bytes": varint_encode(np.array(
                [total_exact, n_docs, n_postings, 0, 0], dtype=np.uint64
            )),
            "pos_bytes": pre_packed, "max_tf": 0, "min_norm_id": 0,
        })
        meta = pd.DataFrame(sentinel_rows)
        if not n_postings:
            return meta
        codes, uniq = pd.factorize(post_pdf["term"], sort=True)
        uniq_arr = np.asarray(uniq, dtype=object)
        # attr filter terms (\x01col:value) carry norm 0 like the build
        # writes them — index len(fields) hits the appended zero row
        uniq_fidx = np.array(
            [findex[t[len(MF_TERM_PREFIX):].split(MF_TERM_SEP, 1)[0]]
             if t.startswith(MF_TERM_PREFIX) else len(fields)
             for t in uniq_arr],
            dtype=np.int64,
        )
        narr_ext = np.vstack(
            [narr_stack, np.zeros((1, span), dtype=np.uint8)]
        )
        ids = post_pdf["doc_id"].to_numpy(dtype=np.int64)
        order = np.lexsort((ids, codes))
        ids_sorted = ids[order]
        tfs = post_pdf["tf"].to_numpy(dtype=np.int64)[order]
        positions_flat = None
        if include_positions:
            pos_obj = post_pdf["positions"].to_numpy(dtype=object)[order]
            positions_flat = np.fromiter(
                (v for sub in pos_obj for v in sub),
                dtype=np.int64, count=int(tfs.sum()),
            )
        norms_per_posting = narr_ext[
            uniq_fidx[codes[order]], ids_sorted - base
        ].astype(np.int64)
        blocks = encode_segment_arrays(
            seg, codes[order], uniq_arr, ids_sorted, tfs,
            norms_per_posting, positions_flat,
        )
        return pd.concat([meta, blocks], ignore_index=True)

    return (
        postings.groupBy("segment_id")
        .cogroup(docside.groupBy("segment_id"))
        .applyInPandas(run, SEGMENTS_SCHEMA)
    )


def _merge_multifield(
    spark: SparkSession,
    source_dirs: list[str],
    stats: list[dict],
    out_dir: str,
    docs_per_segment: int | None,
) -> "IndexPaths":
    """Merge N MULTI-FIELD indexes (all plain, or all presorted —
    presorted sources get the same global (pre desc, orig asc) re-rank as
    the single-field presorted merge; plain sources get prefix-sum offset
    remap).  Phys terms keep their per-field namespaces; per-field norm
    bytes are carried over (quantized ids are remap-invariant), so merged
    query scores are bit-identical to a one-shot
    ``build_index_fused_multifield`` over the union."""
    import json
    import os

    from pyspark.sql import functions as F

    from ..plans.build import IndexPaths
    from ..streaming.ingest import registered_docmaps, registered_paths
    from .multifield import MF_NORMS_PREFIX
    from .postings import assign_doc_ids

    mf0 = stats[0]["multifield"]
    fields = sorted(mf0["fields"])
    for d, st in zip(source_dirs, stats):
        m = st["multifield"]
        if sorted(m["fields"]) != fields:
            raise ValueError(
                f"multi-field merge: {d} has fields {sorted(m['fields'])}, "
                f"expected {fields}"
            )
        if m["boosts"] != mf0["boosts"]:
            raise ValueError(
                f"multi-field merge: {d} was built with different field "
                "boosts — merged scores would silently change"
            )
    n_pre = sum(bool(st.get("presorted")) for st in stats)
    if n_pre not in (0, len(stats)):
        raise ValueError(
            "merge_indexes cannot mix PRESORTED and doc-id-ordered "
            "multi-field sources"
        )
    any_del = any(st.get("deleted_docs") for st in stats)
    presorted = n_pre > 0
    analyzer = stats[0]["analyzer"]
    dps = docs_per_segment or stats[0]["docs_per_segment"]
    positions = all(st.get("positions") for st in stats)
    out = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)

    if presorted:
        all_dm = None
        for d, st in zip(source_dirs, stats):
            x = spark.read.parquet(*registered_docmaps(d, st))
            if st.get("deleted_docs"):
                x = x.join(source_tombstones(spark, d, st), "doc_id",
                           "left_anti")
            all_dm = x if all_dm is None else all_dm.unionByName(x)
        counts = all_dm.agg(
            F.count("*").alias("n"), F.countDistinct("orig_id").alias("u")
        ).collect()[0]
        if counts["n"] != counts["u"]:
            raise ValueError(
                f"presorted merge: original ids collide across sources "
                f"({counts['n']} docmap rows, {counts['u']} distinct)"
            )
        num_docs = int(counts["n"])
        ranked = all_dm.select("orig_id", "pre_score").withColumn(
            "_neg_pre", -F.col("pre_score")
        )
        assign_doc_ids(ranked, ["_neg_pre", "orig_id"]).select(
            "doc_id", "orig_id", "pre_score"
        ).write.mode("overwrite").parquet(out.docmap)
        next_doc_id = num_docs
    else:
        offsets, acc = [], 0
        for st in stats:
            offsets.append(acc)
            acc += max(st.get("next_doc_id", 0), st["num_docs"])
        num_docs = sum(st["num_docs"] for st in stats)
        next_doc_id = acc

    def remap(df: DataFrame, d: str, st: dict, off: int) -> DataFrame:
        if not presorted:
            return df.withColumn("doc_id", F.col("doc_id") + F.lit(off))
        return (
            df.withColumnRenamed("doc_id", "_old")
            .join(spark.read.parquet(*registered_docmaps(d, st)).select(
                F.col("doc_id").alias("_old"), "orig_id"), "_old")
            .drop("_old")
            .join(spark.read.parquet(out.docmap).select(
                "orig_id", "doc_id"), "orig_id")
            .drop("orig_id")
        )

    post_parts, norm_parts = [], []
    offs = offsets if not presorted else [0] * len(stats)
    for d, st, off in zip(source_dirs, stats, offs):
        unified = spark.read.parquet(*registered_paths(d, st))
        posts = decode_blocks(
            unified.filter(~F.col("term").startswith("\x00")),
            include_positions=positions,
        )
        unified2 = spark.read.parquet(*registered_paths(d, st))
        norms = decode_mf_norms(
            unified2.filter(F.col("term").startswith(MF_NORMS_PREFIX))
        )
        if st.get("deleted_docs"):
            # tombstones compact away: deleted docs' postings and norm
            # rows never reach the re-encode (applied on SOURCE-internal
            # ids, before any remap)
            tombs = source_tombstones(spark, d, st)
            posts = posts.join(tombs, "doc_id", "left_anti")
            tombs2 = source_tombstones(spark, d, st)
            norms = norms.join(tombs2, "doc_id", "left_anti")
        post_parts.append(remap(posts, d, st, off))
        norm_parts.append(remap(norms, d, st, off))
    posts = post_parts[0]
    for p_ in post_parts[1:]:
        posts = posts.unionByName(p_)
    norms = norm_parts[0]
    for p_ in norm_parts[1:]:
        norms = norms.unionByName(p_)

    if presorted:
        # per-doc pre-scores onto the (doc, field) norm rows
        dm = spark.read.parquet(out.docmap).select("doc_id", "pre_score")
        docside = norms.join(dm, "doc_id")
    else:
        # drop gap slots / fully-empty docs: a doc whose every field norm
        # is 0 contributes to no posting list (mirrors the single-field
        # plain merge, where empty docs likewise vanish from the index)
        keep = (
            norms.groupBy("doc_id")
            .agg(F.max("norm_id").alias("_m"))
            .filter(F.col("_m") > 0)
            .select("doc_id")
        )
        docside = norms.join(keep, "doc_id").withColumn(
            "pre_score", F.lit(None).cast("double")
        )
    posts = posts.withColumn(
        "segment_id", (F.col("doc_id") / F.lit(dps)).cast("int")
    )
    docside = docside.withColumn(
        "segment_id", (F.col("doc_id") / F.lit(dps)).cast("int")
    )

    unified_out = reencode_fused_multifield(
        posts, docside, fields, dps, positions, with_pre=presorted
    )
    (
        unified_out.sortWithinPartitions("segment_id", "term", "block_id")
        .write.mode("overwrite").parquet(out.index)
    )
    unified_out = spark.read.parquet(out.index)
    (
        unified_out.filter(~F.col("term").startswith("\x00"))
        .groupBy("term")
        .agg(F.sum("num_docs").cast("long").alias("df"))
        .write.mode("overwrite").parquet(out.term_stats)
    )

    def totals(st: dict) -> dict:
        m = st["multifield"]
        if "field_totals" in m:
            return m["field_totals"]
        return {
            f_: int(round(m["avgdl"][f_] * st["num_docs"])) for f_ in fields
        }

    if any_del:
        # exact post-compaction stats from the decoded dl tails: the
        # docside already excludes tombstoned docs
        field_totals = {f_: 0 for f_ in fields}
        for r in (
            docside.groupBy("field").agg(F.sum("dl").alias("t")).collect()
        ):
            field_totals[r["field"]] = int(r["t"] or 0)
        num_docs = int(
            docside.select("doc_id").distinct().count()
        )
    else:
        field_totals = {
            f_: sum(totals(st)[f_] for st in stats) for f_ in fields
        }
    if any(
        sorted(st.get("attr_cols") or []) != sorted(stats[0].get("attr_cols") or [])
        for st in stats
    ):
        raise ValueError(
            "multi-field merge: sources disagree on attr_cols — merged "
            "attr filter terms would silently cover only some docs"
        )
    merged = {
        "num_docs": num_docs,
        "analyzer": analyzer,
        "analyzer_fp": _source_fp(stats),
        "docs_per_segment": dps,
        "layout": "fused",
        "positions": positions,
        "presorted": presorted,
        "next_doc_id": next_doc_id,
        "attr_cols": sorted(stats[0].get("attr_cols") or []),
        "multifield": {
            "fields": fields,
            "field_cols": mf0.get("field_cols", {f_: f_ for f_ in fields}),
            "boosts": mf0["boosts"],
            "field_totals": field_totals,
            "avgdl": {
                f_: field_totals[f_] / num_docs if num_docs else 0.0
                for f_ in fields
            },
        },
        "total_tokens": sum(field_totals.values()),
        "avgdl": (
            sum(field_totals.values()) / num_docs if num_docs else 0.0
        ),
        "merged_from": [
            {"dir": d, "num_docs": st["num_docs"]}
            for d, st in zip(source_dirs, stats)
        ],
    }
    with open(out.stats, "w") as f:
        json.dump(merged, f, indent=2)
    with open(out.manifest, "w") as f:
        json.dump(
            {"stages": {s: {"ok": True, "fingerprint": "merge_multifield"}
                        for s in ("index", "term_stats", "stats")}}, f,
        )
    return out


def _merge_single_field(
    spark: SparkSession,
    source_dirs: list[str],
    stats: list[dict],
    out_dir: str,
    docs_per_segment: int | None,
    presorted: bool,
) -> "IndexPaths":
    """Merge N single-field indexes into one fused index whose unified
    table is byte-identical to a one-shot ``build_index_fused`` over the
    union (with ``pre_scores`` when ``presorted``).

    * **doc-id** sources: a source's ids shift by its prefix-sum offset;
      tombstoned ids leave the doc side and the postings and stay unused.
    * **presorted** sources: the deferred re-sort that completes the
      streaming story — streamed appends keep each new segment internally
      pre-ordered (batch-local rank), and the merge restores the
      INDEX-WIDE pre-score order the reference maintains
      (src/inverted_index.rs:100-106), so the max-docs quota is sound
      again with the tightest possible cut.  Internal ids are reassigned
      by global (pre desc, orig id asc) rank over the UNION of every
      source's docmap (build docmap + ledgered batch docmaps), minus
      tombstoned docs; ids remap internal → orig → new.

    Postings are decoded once per source and re-encoded by
    :func:`reencode_fused` with the exact per-doc dls of the sentinels."""
    import json
    import os

    from pyspark.sql import functions as F

    from ..plans.build import IndexPaths
    from ..streaming.ingest import registered_docmaps, registered_paths
    from .postings import assign_doc_ids
    from .segments import split_unified

    analyzer = stats[0]["analyzer"]
    dps = docs_per_segment or stats[0]["docs_per_segment"]
    positions = all(st.get("positions") for st in stats)
    out = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)

    # every source's visible docmap, read FRESH per use — shared scans
    # across the final cogroup's two sides trip the analyzer's
    # ambiguous-self-join check
    def read_src_dm(d: str, st: dict) -> DataFrame:
        return spark.read.parquet(*registered_docmaps(d, st))

    def to_orig(df: DataFrame, d: str, st: dict) -> DataFrame:
        return (
            df.withColumnRenamed("doc_id", "_old")
            .join(read_src_dm(d, st).select(
                F.col("doc_id").alias("_old"), "orig_id"), "_old")
            .drop("_old")
        )

    offsets = [0] * len(stats)
    if presorted:
        all_dm = None
        for d, st in zip(source_dirs, stats):
            x = read_src_dm(d, st)
            if st.get("deleted_docs"):
                # tombstoned docs leave the doc space entirely: not
                # ranked, not counted, postings dropped in decode — the
                # merge IS the compaction
                x = x.join(source_tombstones(spark, d, st), "doc_id",
                           "left_anti")
            all_dm = x if all_dm is None else all_dm.unionByName(x)
        counts = all_dm.agg(
            F.count("*").alias("n"),
            F.countDistinct("orig_id").alias("u"),
        ).collect()[0]
        if counts["n"] != counts["u"]:
            raise ValueError(
                f"presorted merge: original ids collide across sources "
                f"({counts['n']} docmap rows, {counts['u']} distinct orig ids)"
            )
        num_docs = next_doc_id = int(counts["n"])
        # global docmap: new internal ids by (pre desc, orig asc) — the
        # identical ranking rule the presorted build uses
        ranked = all_dm.select("orig_id", "pre_score").withColumn(
            "_neg_pre", -F.col("pre_score")
        )
        assign_doc_ids(ranked, ["_neg_pre", "orig_id"]).select(
            "doc_id", "orig_id", "pre_score"
        ).write.mode("overwrite").parquet(out.docmap)
    else:
        # a source's id span is max(next_doc_id, num_docs): streaming
        # appends assign ids past num_docs (fresh segment boundary after
        # the high-water mark), so sizing by num_docs alone would collide
        # remapped ids across sources
        next_doc_id = 0
        for i, st in enumerate(stats):
            offsets[i] = next_doc_id
            next_doc_id += max(st.get("next_doc_id", 0), st["num_docs"])
        # tombstones only ever name live docs (delete_docs' contract)
        num_docs = sum(
            st["num_docs"] - st.get("deleted_docs", 0) for st in stats
        )

    # decode each source once; tombstoned docs' postings drop in the
    # decode, their dl rows leave the doc side below
    post_parts, dl_parts = [], []
    for d, st, off in zip(source_dirs, stats, offsets):
        seg, nrm = split_unified(spark.read.parquet(*registered_paths(d, st)))
        posts = decode_postings(
            seg, nrm, include_positions=positions
        ).drop("dl", "norm_id")
        _, nrm2 = split_unified(spark.read.parquet(*registered_paths(d, st)))
        dls = decode_exact_dls(nrm2)
        if presorted:
            posts, dls = to_orig(posts, d, st), to_orig(dls, d, st)
        else:
            if st.get("deleted_docs"):
                dls = dls.join(source_tombstones(spark, d, st), "doc_id",
                               "left_anti")
            shifted = F.col("doc_id") + F.lit(off)
            posts = posts.withColumn("doc_id", shifted)
            dls = dls.withColumn("doc_id", shifted)
        post_parts.append(posts)
        dl_parts.append(dls)
    posts = post_parts[0]
    for p_ in post_parts[1:]:
        posts = posts.unionByName(p_)
    docside = dl_parts[0]
    for p_ in dl_parts[1:]:
        docside = docside.unionByName(p_)
    if presorted:
        # two INDEPENDENT docmap reads: the remapped postings and the doc
        # side both descend from the docmap — sharing one scan makes the
        # final cogroup an (ambiguous) self-join in the analyzer
        posts = posts.join(
            spark.read.parquet(out.docmap).select("orig_id", "doc_id"),
            "orig_id",
        ).drop("orig_id")
        docside = spark.read.parquet(out.docmap).join(
            docside, "orig_id"
        ).select("doc_id", "pre_score", "dl")
    seg_id = (F.col("doc_id") / F.lit(dps)).cast("int")
    posts = posts.withColumn("segment_id", seg_id)
    docside = docside.withColumn("segment_id", seg_id)

    unified = reencode_fused(posts, docside, dps, positions)
    (
        unified.sortWithinPartitions("segment_id", "term", "block_id")
        .write.mode("overwrite").parquet(out.index)
    )
    unified = spark.read.parquet(out.index)
    (
        unified.filter(~F.col("term").startswith("\x00"))
        .groupBy("term")
        .agg(F.sum("num_docs").cast("long").alias("df"))
        .write.mode("overwrite").parquet(out.term_stats)
    )

    if any(st.get("deleted_docs") for st in stats):
        # exact: the doc side already excludes tombstoned docs
        total_tokens = int(docside.agg(F.sum("dl")).collect()[0][0] or 0)
    else:
        total_tokens = sum(int(st.get("total_tokens", 0)) for st in stats)
    merged = {
        "num_docs": num_docs,
        "total_tokens": total_tokens,
        "avgdl": total_tokens / num_docs if num_docs else 0.0,
        "next_doc_id": next_doc_id,
        "analyzer": analyzer,
        "analyzer_fp": _source_fp(stats),
        "docs_per_segment": dps,
        "layout": "fused",
        "positions": positions,
        "presorted": presorted,
        "text_col": stats[0].get("text_col", "content"),
        "id_col": stats[0].get("id_col", "doc_id"),
        "merged_from": [
            {"dir": d, "num_docs": st["num_docs"]}
            | ({} if presorted else {"offset": off})
            for d, st, off in zip(source_dirs, stats, offsets)
        ],
    }
    if any("attr_cols" in st for st in stats):
        merged["attr_cols"] = stats[0].get("attr_cols")
    with open(out.stats, "w") as f:
        json.dump(merged, f, indent=2)
    fp = "merge_presorted" if presorted else "merge"
    with open(out.manifest, "w") as f:
        json.dump(
            {"stages": {s: {"ok": True, "fingerprint": fp}
                        for s in ("index", "term_stats", "stats")}}, f,
        )
    return out
