"""Multi-field indexing + boosted per-field BM25.

The reference indexes ~16 text fields and lowers every query term to
``Must(BooleanQuery(Should over every searchable field))`` with static
per-field boosts (title 10, body 4, url 1, …) — src/query/parser.rs:54-91,
boosts src/schema.rs:294-315.  Each field has its own document frequency,
fieldnorms and avgdl, so the per-field BM25 components differ; the doc's
score for a term is the SUM over matching fields of
``boost_f · bm25_f(term)``, and a Must term is satisfied by a match in
ANY field.

Spark shape: one postings table with a ``field`` column — per-(field,term)
rows carry that field's tf and that field's byte-quantized norm — and the
score is a union of per-(term,field) unit frames folded in canonical
(term, field) order.  For the code corpus the default fields mirror
title/body: ``path`` (boost 10) and ``content`` (boost 4).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.bm25 import B, K1, weight
from ..functions.tokenizer import analyzer_fingerprint
from ..functions.query_parse import parse_query
from ..plans.build import IndexHandle, IndexPaths, join_docmap, write_docmap
from .score import decoded_dl
from .segments import NormsSplit
from .wand import (
    _NO_MATCH,
    SegmentTopK,
    SegmentView,
    _ranked,
    batch_topk,
    empty_batch,
    empty_topk,
    per_segment,
    result_frame,
    topk_rows,
)

# reference-shaped defaults: path ≈ title (10), content ≈ body (4)
DEFAULT_FIELD_BOOSTS: dict[str, float] = {"path": 10.0, "content": 4.0}

MF_POSTINGS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("field", StringType(), False),
        StructField("term", StringType(), False),
        StructField("tf", IntegerType(), False),
        StructField("dl", IntegerType(), False),
        StructField("norm_id", IntegerType(), False),
    ]
)


def build_postings_multifield(
    docs: DataFrame,
    field_cols: dict[str, str],
    id_col: str = "doc_id",
    analyzer: str = "ascii",
) -> DataFrame:
    """docs → (doc_id, field, term, tf, dl, norm_id) in one Arrow pass;
    dl/norm are PER FIELD (each field has its own fieldnorm, like the
    reference's per-field norm readers)."""
    from ..functions.fieldnorm import fieldnorm_to_id
    from ..functions.tokenizer import get_analyzer

    tokenize = get_analyzer(analyzer)
    fields = sorted(field_cols)
    src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        *[F.col(field_cols[f_]).alias(f"_f_{f_}") for f_ in fields],
    )

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        from collections import Counter

        for pdf in batches:
            doc_ids, fs, terms, tfs, dls = [], [], [], [], []
            cols = [pdf[f"_f_{f_}"].values for f_ in fields]
            for ri, doc_id in enumerate(pdf["doc_id"].values):
                for fi, f_ in enumerate(fields):
                    text = cols[fi][ri] or ""
                    toks = tokenize(text)
                    tf = Counter(toks)
                    doc_ids.extend([doc_id] * len(tf))
                    fs.extend([f_] * len(tf))
                    terms.extend(tf.keys())
                    tfs.extend(tf.values())
                    dls.extend([len(toks)] * len(tf))
            dl_arr = np.asarray(dls, dtype=np.int64)
            norm_ids = fieldnorm_to_id(dl_arr) if len(dls) else dl_arr
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "field": pd.Series(fs, dtype="object"),
                    "term": pd.Series(terms, dtype="object"),
                    "tf": pd.Series(tfs, dtype="int32"),
                    "dl": pd.Series(dl_arr, dtype="int32"),
                    "norm_id": pd.Series(norm_ids, dtype="int32"),
                }
            )

    return src.mapInPandas(emit, MF_POSTINGS_SCHEMA)


def multifield_stats(docs: DataFrame, postings: DataFrame) -> dict:
    """num_docs + per-field exact avgdl (each field averages over ALL docs,
    like the reference's per-field total_tokens/total_docs)."""
    n_docs = docs.count()
    rows = (
        postings.select("doc_id", "field", "dl")
        .groupBy("doc_id", "field")
        .agg(F.first("dl").alias("dl"))
        .groupBy("field")
        .agg(F.sum("dl").alias("total"))
        .collect()
    )
    return {
        "num_docs": n_docs,
        "avgdl": {r["field"]: (r["total"] / n_docs if n_docs else 0.0) for r in rows},
    }


def bm25_topk_multifield(
    postings: DataFrame,
    query: str,
    num_docs: int,
    avgdl_by_field: dict[str, float],
    field_boosts: dict[str, float] | None = None,
    k: int = 10,
    mode: str = "must",
    analyzer: str = "ascii",
) -> DataFrame:
    """→ (doc_id, score) top-k; score = Σ_{term,field matched}
    boost_f · bm25_f(term); Must = every term matched in ≥1 field."""
    boosts = field_boosts or DEFAULT_FIELD_BOOSTS
    pq = parse_query(query, analyzer)
    uniq = pq.uniq_terms
    spark = postings.sparkSession
    if not uniq:
        return empty_topk(spark)
    counts = pq.term_counts
    fields = sorted(boosts)

    matched = postings.filter(
        F.col("term").isin(uniq) & F.col("field").isin(fields)
    )
    dfs = {
        (r["term"], r["field"]): r["c"]
        for r in matched.groupBy("term", "field").agg(F.count("*").alias("c")).collect()
    }
    if mode == "must" and any(
        all(dfs.get((t, f_), 0) == 0 for f_ in fields) for t in uniq
    ):
        return empty_topk(spark)

    # per-(term, field) unit weights: counts·boost·(idf_f·(k1+1));
    # association boost·weight then w·(tf/(tf+norm)) — canonical everywhere
    frames = []
    for f_ in fields:
        terms_f = [t for t in uniq if dfs.get((t, f_), 0) > 0]
        if not terms_f:
            continue
        wmap = F.create_map(
            *[
                x
                for t in terms_f
                for x in (
                    F.lit(t),
                    F.lit(
                        counts[t] * boosts[f_] * weight(dfs[(t, f_)], num_docs)
                    ),
                )
            ]
        )
        tf = F.col("tf").cast("double")
        norm = F.lit(K1) * (
            F.lit(1.0 - B)
            + F.lit(B) * decoded_dl(F.col("norm_id")) / F.lit(float(avgdl_by_field[f_]))
        )
        frames.append(
            matched.filter((F.col("field") == f_) & F.col("term").isin(terms_f)).select(
                "doc_id",
                F.col("term").alias("_t"),
                F.lit(f_).alias("_f"),
                (wmap[F.col("term")] * (tf / (tf + norm))).alias("_s"),
            )
        )
    units = frames[0]
    for fr in frames[1:]:
        units = units.unionByName(fr)

    scored = units.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_t", "_f", "_s"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_s"],
        ).alias("score"),
        F.size(F.array_distinct(F.collect_list("_t"))).alias("_nterms"),
    )
    if mode == "must":
        scored = scored.filter(F.col("_nterms") == F.lit(len(uniq)))
    scored = scored.drop("_nterms")

    if pq.neg_terms:
        neg_docs = (
            postings.filter(F.col("term").isin(list(set(pq.neg_terms))))
            .select("doc_id")
            .distinct()
        )
        scored = scored.join(neg_docs, "doc_id", "left_anti")
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# ------------------------------------------------------------------
# Multi-field through the PERSISTED segment index (reference default
# shape: per-field postings with per-field norms, src/query/parser.rs:54-91
# + src/schema.rs:294-315).  Physical layout: each (field, token) becomes
# the term "\x02{field}\x00{token}" in the ordinary SEGMENTS_SCHEMA
# blocks (so build/merge/scan machinery is unchanged and term_stats gives
# per-(field,token) dfs for free), and each field gets its own packed
# norms sentinel row "\x00__mf__{field}".

# NOTE the field/token separator is \x1f (unit separator), NOT \x00:
# pandas' string hash table (factorize/groupby) treats object strings as
# NUL-terminated C strings, so an embedded \x00 silently collapses every
# physical term to its prefix.
MF_TERM_PREFIX = "\x02"
MF_TERM_SEP = "\x1f"
MF_NORMS_PREFIX = "\x00__mf__"

# the norms side of a multi-field table: ALL \x00 rows — per-field norms,
# the main meta row whose pos_bytes carries packed pre-scores on presorted
# builds, and tombstones; the kernel splits them by term prefix.  The
# sentinel term column is aliased: a column named 'term' on BOTH cogroup
# sides is silently dropped from the right-side pandas frame by
# pyspark's cogroup apply.  ``meta_bytes`` is the per-field sentinels'
# varint [sum, n, dl…] tail — trailing-anchor goggle patterns read the
# pattern field's exact dls.
MF_NORMS = NormsSplit("\x00", True, (
    ("segment_id", "segment_id"),
    ("sentinel", "term"),
    ("base_doc_id", "first_doc_id"),
    ("norm_bytes", "id_bytes"),
    ("pre_bytes", "pos_bytes"),
    ("meta_bytes", "tf_bytes"),
))


def mf_term(field: str, token: str) -> str:
    return f"{MF_TERM_PREFIX}{field}{MF_TERM_SEP}{token}"


def build_segments_fused_multifield(
    src: DataFrame,
    fields: list[str],
    analyzer: str,
    docs_per_segment: int,
    positions: bool = False,
    with_pre: bool = False,
    attr_cols: list[str] | None = None,
) -> DataFrame:
    """``src`` (doc_id, segment_id, _f_<field>..., [_a_<col>...], [_pre])
    → unified
    multi-field index rows (per-field posting blocks + per-field packed
    norm sentinels + the main meta sentinel) in ONE Arrow pass per
    segment.  Shared by the batch build and streaming appends — a
    streamed batch must produce byte-identical segment rows or appends
    silently drift from the batch build."""
    import numpy as np

    from ..functions.codec import varint_encode
    from ..functions.fieldnorm import fieldnorm_to_id
    from ..functions.tokenizer import get_analyzer
    from .segments import NORMS_SENTINEL, SEGMENTS_SCHEMA, encode_segment_arrays

    tokenize = get_analyzer(analyzer)
    fields = sorted(fields)
    attr_cols = sorted(attr_cols or [])

    def encode(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        from collections import Counter

        seg = int(key[0])
        base = seg * docs_per_segment
        doc_ids_in = pdf["doc_id"].to_numpy("int64")
        local = doc_ids_in - base
        span = int(local.max()) + 1 if len(local) else 0
        all_terms: list[str] = []
        all_docs: list[int] = []
        all_tfs: list[int] = []
        all_norms: list[int] = []
        all_pos: list[list[int]] = []  # per posting row (positions mode)
        sentinel_rows = []
        total_tokens = 0
        for f_ in fields:
            texts = pdf[f"_f_{f_}"].values
            dls = np.zeros(len(texts), dtype=np.int64)
            field_start = len(all_terms)
            pref = f"{MF_TERM_PREFIX}{f_}{MF_TERM_SEP}"
            for i, text in enumerate(texts):
                toks = tokenize(text or "")
                dls[i] = len(toks)
                if positions:
                    posmap: dict[str, list[int]] = {}
                    for j, tok in enumerate(toks):
                        posmap.setdefault(tok, []).append(j)
                    for tok, plist in posmap.items():
                        all_terms.append(pref + tok)
                        all_docs.append(doc_ids_in[i])
                        all_tfs.append(len(plist))
                        all_norms.append(i)
                        all_pos.append(plist)
                    continue
                tf = Counter(toks)
                for tok, c in tf.items():
                    all_terms.append(pref + tok)
                    all_docs.append(doc_ids_in[i])
                    all_tfs.append(c)
                    all_norms.append(i)  # placeholder: doc row index
            norm_ids = fieldnorm_to_id(dls)
            # resolve this field's placeholders to its per-doc norm ids
            for j in range(field_start, len(all_norms)):
                all_norms[j] = int(norm_ids[all_norms[j]])
            narr = np.zeros(span, dtype=np.uint8)
            narr[local] = norm_ids.astype(np.uint8)
            total_tokens += int(dls.sum())
            # sentinel varint layout: [field token sum, n docs] + the
            # EXACT span-aligned per-doc token counts — the dl tail lets
            # merges/compaction recompute exact per-field stats instead
            # of quantized approximations (same convention as the
            # single-field main sentinel's tail)
            dl_span = np.zeros(span, dtype=np.uint64)
            dl_span[local] = dls.astype(np.uint64)
            sentinel_rows.append(
                {
                    "segment_id": seg, "term": f"{MF_NORMS_PREFIX}{f_}",
                    "block_id": -1, "first_doc_id": base,
                    "last_doc_id": base + span - 1, "num_docs": span,
                    "id_bytes": narr.tobytes(),
                    "tf_bytes": varint_encode(np.concatenate([
                        np.array([int(dls.sum()), len(texts)],
                                 dtype=np.uint64),
                        dl_span,
                    ])),
                    "pos_bytes": None, "max_tf": 0, "min_norm_id": 0,
                }
            )
        # attribute filter terms (\x01col:value): tf=1 per doc, norm 0,
        # excluded from every dl/avgdl — the same reserved namespace and
        # semantics as the single-field build (segments.py attr_term);
        # they serve site:/‑site: filters and goggle site clauses
        if attr_cols:
            from .segments import attr_term

            for c in attr_cols:
                vals = pdf[f"_a_{c}"].values
                for i, v in enumerate(vals):
                    if v is None:
                        continue
                    all_terms.append(attr_term(c, v))
                    all_docs.append(int(doc_ids_in[i]))
                    all_tfs.append(1)
                    all_norms.append(0)
                    if positions:
                        all_pos.append([0])
        # main sentinel: build metrics (docs, postings, tokens over
        # fields); presorted builds pack the per-doc f32 pre-scores into
        # its pos_bytes (same convention as the single-field flavor)
        pre_packed = None
        if with_pre:
            parr = np.zeros(span, dtype=np.float32)
            parr[local] = pdf["_pre"].to_numpy("float64").astype(np.float32)
            pre_packed = parr.tobytes()
        stats_vals = np.array(
            [total_tokens, len(pdf), len(all_terms), 0, 0], dtype=np.uint64
        )
        sentinel_rows.insert(0, {
            "segment_id": seg, "term": NORMS_SENTINEL, "block_id": -1,
            "first_doc_id": base, "last_doc_id": base + span - 1,
            "num_docs": span,
            "id_bytes": np.zeros(span, dtype=np.uint8).tobytes(),
            "tf_bytes": varint_encode(stats_vals),
            "pos_bytes": pre_packed, "max_tf": 0, "min_norm_id": 0,
        })
        meta = pd.DataFrame(sentinel_rows)
        if not all_terms:
            return meta
        terms_arr = np.array(all_terms, dtype=object)
        ids_arr = np.array(all_docs, dtype=np.int64)
        tfs_arr = np.array(all_tfs, dtype=np.int64)
        norms_arr = np.array(all_norms, dtype=np.int64)
        codes, uniq = pd.factorize(terms_arr, sort=True)
        order = np.lexsort((ids_arr, codes))
        positions_flat = None
        if positions:
            pos_obj = np.empty(len(all_pos), dtype=object)
            pos_obj[:] = all_pos
            pos_obj = pos_obj[order]
            positions_flat = np.fromiter(
                (v for sub in pos_obj for v in sub),
                dtype=np.int64, count=int(tfs_arr.sum()),
            )
        blocks = encode_segment_arrays(
            seg, codes[order], np.asarray(uniq, dtype=object),
            ids_arr[order], tfs_arr[order], norms_arr[order],
            positions_flat,
        )
        return pd.concat([meta, blocks], ignore_index=True)

    return src.groupBy("segment_id").applyInPandas(encode, SEGMENTS_SCHEMA)


def build_index_fused_multifield(
    spark,
    docs: DataFrame,
    out_dir: str,
    field_cols: dict[str, str],
    id_col: str = "doc_id",
    analyzer: str = "ascii",
    docs_per_segment: int = 4096,
    field_boosts: dict[str, float] | None = None,
    positions: bool = False,
    pre_scores: DataFrame | None = None,
    attr_cols: list[str] | None = None,
):
    """Fused multi-field build: ONE shuffle (groupBy segment) + ONE Arrow
    pass tokenizing every field; per-field posting blocks, per-field
    packed norms, per-field exact avgdl in stats.json.  Returns
    IndexPaths; open with :class:`MultiFieldSegmentIndex`.

    ``positions=True`` stores per-field position streams (positions are
    within the FIELD's own token sequence), enabling per-field
    PhraseQueries (reference: phrases live inside the per-field Should,
    src/query/parser.rs:54-91).

    ``pre_scores``: (id_col, pre_score) — the build becomes PRESORTED
    exactly like the single-field flavor (internal doc ids by pre-score
    rank, docmap.parquet, packed f32 pre-scores in the main sentinel's
    pos_bytes).  This composes the reference's index-wide sort order with
    per-field postings (src/inverted_index.rs:100-106 sort order +
    src/schema.rs:294-315 per-field schema — one index, both properties),
    making the max-docs quota and pre+bm25 ranking available on
    multi-field queries."""
    import json
    import os

    fields = sorted(field_cols)
    boosts = field_boosts or DEFAULT_FIELD_BOOSTS
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)

    pre_col = None
    if pre_scores is not None:
        pre_col = "_pre"
        write_docmap(pre_scores, id_col, paths.docmap)
        docs = join_docmap(spark, docs, id_col, paths.docmap, pre_col)
        id_col = "doc_id"

    attr_cols = sorted(attr_cols or [])
    src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        *[F.col(field_cols[f_]).alias(f"_f_{f_}") for f_ in fields],
        *[F.col(c).cast("string").alias(f"_a_{c}") for c in attr_cols],
        *([F.col(pre_col).cast("double").alias("_pre")] if pre_col else []),
    ).withColumn(
        "segment_id", (F.col("doc_id") / F.lit(docs_per_segment)).cast("int")
    )

    unified = build_segments_fused_multifield(
        src, fields, analyzer, docs_per_segment,
        positions=positions, with_pre=pre_col is not None,
        attr_cols=attr_cols,
    )
    (
        unified.sortWithinPartitions("segment_id", "term", "block_id")
        .write.mode("overwrite").parquet(paths.index)
    )
    unified = spark.read.parquet(paths.index)
    (
        unified.filter(~F.col("term").startswith("\x00"))
        .groupBy("term")
        .agg(F.sum("num_docs").cast("long").alias("df"))
        .write.mode("overwrite").parquet(paths.term_stats)
    )
    from ..functions.codec import varint_decode

    agg = docs.agg(
        F.count("*").alias("n"), F.max(F.col(id_col).cast("long")).alias("m")
    ).collect()[0]
    n_docs, max_id = int(agg["n"]), int(agg["m"]) if agg["m"] is not None else -1
    field_totals: dict[str, int] = {f_: 0 for f_ in fields}
    for r in (
        unified.filter(F.col("term").startswith(MF_NORMS_PREFIX))
        .select("term", "tf_bytes").collect()
    ):
        f_ = r["term"][len(MF_NORMS_PREFIX):]
        field_totals[f_] += int(varint_decode(bytes(r["tf_bytes"]))[0])
    stats = {
        "num_docs": int(n_docs),
        "analyzer": analyzer,
        "analyzer_fp": analyzer_fingerprint(analyzer),
        "docs_per_segment": docs_per_segment,
        "layout": "fused",
        "positions": positions,
        "presorted": pre_scores is not None,
        "attr_cols": attr_cols,
        # next_doc_id: high-water mark for streaming appends (fresh
        # segment boundary past it, streaming/ingest.py); non-presorted
        # builds index the caller's ids verbatim, so the mark is max+1
        "next_doc_id": max_id + 1,
        "multifield": {
            "fields": fields,
            # batch-col-per-field mapping: streaming appends read it so a
            # micro-batch tokenizes the same columns into the same
            # per-field namespaces as the build
            "field_cols": dict(field_cols),
            "boosts": {f_: float(boosts.get(f_, 1.0)) for f_ in fields},
            # exact per-field token totals: incremental avgdl updates on
            # append use integer totals, never float re-derivation
            "field_totals": {f_: int(field_totals[f_]) for f_ in fields},
            "avgdl": {
                f_: (field_totals[f_] / n_docs if n_docs else 0.0)
                for f_ in fields
            },
        },
        "total_tokens": sum(field_totals.values()),
        "avgdl": (sum(field_totals.values()) / n_docs) if n_docs else 0.0,
    }
    tmp = paths.stats + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=2)
    os.replace(tmp, paths.stats)
    return paths


class MultiFieldSegmentIndex(IndexHandle):
    """Query handle over a persisted multi-field index: per-field posting
    blocks scored Σ boost_f · bm25_f in one cogrouped Arrow kernel per
    segment — the same scan shape (term IN pushdown, no join shuffle,
    TakeOrderedAndProject merge) as the single-field WAND path.  Open,
    cache, term_df, the plan memo, the guards and the collector helpers
    are the shared :class:`~stractt_spark.plans.build.IndexHandle`'s;
    ``term_df`` here takes PHYSICAL (per-field) terms."""

    NORMS_SPLIT = MF_NORMS

    def __init__(self, spark, root: str) -> None:
        super().__init__(spark, root)
        mf = self.stats["multifield"]
        self.fields: list[str] = mf["fields"]
        self.boosts: dict[str, float] = mf["boosts"]
        self.avgdl: dict[str, float] = mf["avgdl"]

    def _spec(self, query, mode: str = "must", phrase: bool = False,
              extra_neg: list[str] | None = None,
              must_fields: list[str] | None = None) -> dict | None:
        """Compile one query into the per-segment kernel's inputs (None
        when provably empty): per-(term,field) physical weights,
        per-(phrase,field) weights, MustNot + attr-filter physical terms,
        and the pruned-scan term set.  Shared by search / batch / count /
        goggle paths so every entry point lowers queries identically.

        ``must_fields``: restrict Must MEMBERSHIP to these fields (every
        term must match in one of them); all fields still score.  The
        entity-index query shape (reference src/entity_index/mod.rs:
        271-305: per-token Must on title + Should on abstract)."""
        from ..functions.bm25 import idf as idf_fn
        from .segments import attr_term

        if must_fields is not None:
            bad = sorted(set(must_fields) - set(self.fields))
            if bad:
                raise ValueError(f"must_fields not in index fields: {bad}")
            if mode != "must":
                raise ValueError("must_fields requires mode='must'")

        pq = parse_query(query, self.analyzer, phrase=phrase)
        uniq = pq.uniq_terms
        phrases = pq.phrases
        if not uniq and not phrases:
            return None
        counts = pq.term_counts
        fields = sorted(self.fields)
        ph_members = sorted({t for ph in phrases for t in ph})
        phys = {
            (t, f_): mf_term(f_, t)
            for t in set(uniq) | set(ph_members) for f_ in fields
        }
        # site:/‑site: filters → reserved-namespace attr terms, exactly
        # the single-field lowering (parser.rs:193-216)
        filter_phys = sorted(
            attr_term(f_, v) for f_, v in pq.filters.items()
        )
        neg_phys = sorted(
            {mf_term(f_, t) for t in set(pq.neg_terms) for f_ in fields}
            | {attr_term(f_, v) for f_, v in pq.anti_filters.items()}
            | set(extra_neg or [])
        )
        dfs = self.term_df(list(phys.values()) + neg_phys)
        memb_fields = sorted(must_fields) if must_fields else fields
        if mode == "must" and any(
            all(dfs.get(phys[(t, f_)], 0) == 0 for f_ in memb_fields)
            for t in uniq
        ):
            return None
        num_docs = self.stats["num_docs"]
        # unit weight per physical term: counts·boost_f·(idf_f·(K1+1)) —
        # same association as bm25_topk_multifield and MultiFieldOracle
        weights = {
            p: counts[t] * self.boosts[f_] * weight(dfs.get(p, 0), num_docs)
            for (t, f_), p in phys.items()
            if t in counts and dfs.get(p, 0) > 0
        }
        # per-(phrase, field) weight: boost_f · Σ member idf_f · (K1+1)
        # (reference PhraseQuery weight inside the per-field Should)
        pweights = {
            (pi, f_): self.boosts[f_] * (
                sum(idf_fn(dfs.get(phys[(t, f_)], 0), num_docs) for t in ph)
                * (K1 + 1.0)
            )
            for pi, ph in enumerate(phrases) for f_ in fields
        }
        scan_terms = sorted(
            set(weights)
            | {phys[(t, f_)] for t in ph_members for f_ in fields
               if dfs.get(phys[(t, f_)], 0) > 0}
        ) + neg_phys + filter_phys
        return {
            "uniq_sorted": sorted(uniq),
            "weights": weights,
            "pweights": pweights,
            "phrases": phrases,
            "neg_phys": neg_phys,
            "filter_phys": filter_phys,
            "scan_terms": scan_terms,
            "mode": mode,
            "must_fields": sorted(must_fields) if must_fields else None,
        }

    def search(
        self, query: str, k: int = 10, mode: str = "must",
        phrase: bool = False,
        offset: int = 0,
        max_docs_per_segment: int | None = None,
        with_pre_score: bool = False,
        orig_ids: bool = False,
        unsafe_quota: bool = False,
        with_metrics: bool = False,
        _const_clauses: list[dict] | None = None,
        _has_empty_discard: bool = False,
        _score_coeff: float | None = None,
        _extra_neg: list[str] | None = None,
        must_fields: list[str] | None = None,
        _ladder: list[tuple[float, int]] | None = None,
        _ladder_field: str | None = None,
        _ladder_terms: list[str] | None = None,
        _ladder_w: float = 0.0,
    ) -> DataFrame:
        """Top-(k+offset) over the per-field index (paging slices on the
        driver, the reference's top_n = page_size + offset).
        ``with_metrics=True`` returns a driver-side ``(top_list,
        metrics)`` tuple instead — blocks decoded/total over the scoring
        physical terms, same sentinel protocol as the single-field path.
        ``with_pre_score`` / ``max_docs_per_segment`` / ``orig_ids``
        compose the presorted machinery with per-field scoring (the
        reference keeps one index with BOTH the index-wide sort order and
        per-field postings, src/inverted_index.rs:100-106 +
        src/schema.rs:294-315): rank = pre + Σ_f boost_f·bm25_f, the
        quota keeps each term's best-pre docs per segment, orig_ids maps
        back through docmap.parquet with the (score desc, pre desc, orig
        id asc) tie contract.  The underscore params are the goggle
        lowering's private surface (see :meth:`search_goggle`)."""
        self._check_options(
            phrase, with_pre_score or orig_ids, max_docs_per_segment,
            unsafe_quota,
        )
        if _has_empty_discard and not _const_clauses:
            # bare $discard with no other lowered instruction: every doc
            # is discarded (the fast paths never reach the clause block)
            if with_metrics:
                return [], {"blocks_decoded": 0, "blocks_total": 0}
            return empty_topk(self.spark)
        # plan memo for the public search surface only: goggle/ladder
        # lowering passes private params and is excluded
        memo_key = None
        if (
            not with_metrics and _const_clauses is None
            and not _has_empty_discard and _score_coeff is None
            and _extra_neg is None and _ladder is None
        ):
            memo_key = (
                query, k, mode, phrase, offset, max_docs_per_segment,
                with_pre_score, orig_ids,
                tuple(must_fields) if must_fields else None,
            )
            cached_plan = self._plan_memo.get(memo_key)
            if cached_plan is not None:
                return cached_plan
        spec = self._spec(query, mode, phrase, extra_neg=_extra_neg,
                          must_fields=must_fields)
        if spec is None:
            if with_metrics:
                return [], {"blocks_decoded": 0, "blocks_total": 0}
            return empty_topk(self.spark)
        clause_terms: list[str] = []
        clause_patterns = False
        for cl in _const_clauses or []:
            if cl.get("site_term"):
                clause_terms.append(cl["site_term"])
            if cl.get("pattern_terms"):
                clause_terms.extend(cl["pattern_terms"])
                clause_patterns = True
        k_eff = k + offset
        max_docs = max_docs_per_segment
        add_pre = with_pre_score
        wm = with_metrics
        s = spec
        cc, hed, sc = _const_clauses, _has_empty_discard, _score_coeff

        self_fields = self.fields
        self_avgdl = dict(self.avgdl)
        # no DELETES_TERM in the scan: the MF split routes every \x00
        # row — tombstones included — to the NORMS side
        per_seg = per_segment(
            self.segments, self.norms, [spec["scan_terms"] + clause_terms],
            bool(spec["phrases"]) or clause_patterns or _ladder is not None,
            lambda view: result_frame(view.seg, _mf_segment_topk(
                view, s["uniq_sorted"], sorted(self_fields), s["weights"],
                self_avgdl, k_eff, s["mode"], s["neg_phys"], s["phrases"],
                s["pweights"], max_docs=max_docs, add_pre=add_pre,
                with_metrics=wm, filter_phys=s["filter_phys"],
                const_clauses=cc, has_empty_discard=hed, score_coeff=sc,
                must_fields=s.get("must_fields"),
                ladder=_ladder, ladder_field=_ladder_field,
                ladder_terms=_ladder_terms, ladder_w=_ladder_w,
            )),
            driver=self.driver,
        )
        if with_metrics:
            from .wand import fold_metrics_topk

            return fold_metrics_topk(per_seg, k_eff)
        return self._memoize(
            memo_key, topk_rows(per_seg, k_eff, self.spark), orig_ids
        )

    def search_batch(
        self,
        queries: list[tuple[str, str, str]],
        k: int = 10,
    ) -> DataFrame:
        """Evaluate MANY multi-field queries in ONE pass over the index →
        rows ``(query_id, doc_id, score)``, per-query top-k — the same
        one-scan-one-cogroup batching as the single-field
        ``wand_topk_batch``: the scan is pruned once to the UNION of
        every query's physical terms.  Per-segment cost: grouping the
        blocks by term is O(union terms), paid once
        (:func:`~.wand.segment_view`), plus each query's own scoring; the
        per-query top-k cut follows (:func:`~.wand.batch_topk`; a small
        batch runs on the driver).  Results are identical to per-query
        :meth:`search` — asserted by tests/test_mf_parity.py."""
        compiled = [(qid, self._spec(qstr, mode)) for qid, qstr, mode in queries]
        compiled = [(qid, sp) for qid, sp in compiled if sp is not None]
        if not compiled:
            return empty_batch(self.spark)
        fields = sorted(self.fields)
        avgdl = dict(self.avgdl)
        specs = [
            (qid, dict(
                uniq_sorted=sp["uniq_sorted"], fields_sorted=fields,
                weights=sp["weights"], avgdl=avgdl, k=k, mode=sp["mode"],
                neg_phys=sp["neg_phys"], phrases=sp["phrases"],
                pweights=sp["pweights"], filter_phys=sp["filter_phys"],
            ))
            for qid, sp in compiled
        ]
        return batch_topk(
            self.segments, self.norms, specs,
            [sp["scan_terms"] for _, sp in compiled],
            any(sp["phrases"] for _, sp in compiled), _mf_segment_topk, k,
            self.driver,
        )

    def facet_counts(self, query: str, facet_field: str, mode: str = "must"):
        """Per-``facet_field`` doc counts over the FULL match set —
        multi-field matching semantics (a doc matches a term when ANY
        field contains it, the reference's Term → per-field Should);
        the field must be one of the index's ``attr_cols``.
        → DataFrame (facet_value, match_count)."""
        from .wand import wand_facet_counts

        self._check_attr_col(facet_field, "facet_counts:")
        return wand_facet_counts(
            self.segments, query, facet_field, mode=mode,
            analyzer=self.analyzer, fields=sorted(self.fields),
        )

    def search_with_count(
        self, query: str, k: int = 10, mode: str = "must"
    ) -> tuple[list[tuple[int, float]], int]:
        """(top-k rows, exact total match count) in one distributed pass
        (reference count-alongside-top-k, collector.rs): the kernel
        appends a per-segment count sentinel and a JVM aggregate folds
        counts + candidates so the driver receives ONE row regardless of
        segment count."""
        from .wand import fold_count_topk

        spec = self._spec(query, mode)
        if spec is None:
            return [], 0
        self_fields = sorted(self.fields)
        self_avgdl = dict(self.avgdl)

        per_seg = per_segment(
            self.segments, self.norms, [spec["scan_terms"]],
            bool(spec["phrases"]),
            lambda view: result_frame(view.seg, _mf_segment_topk(
                view, spec["uniq_sorted"], self_fields, spec["weights"],
                self_avgdl, k, spec["mode"], spec["neg_phys"],
                spec["phrases"], spec["pweights"],
                filter_phys=spec["filter_phys"], with_count=True,
            )),
            driver=self.driver,
        )
        return fold_count_topk(per_seg, k)

    def search_goggle(
        self,
        query: str,
        goggle,
        k: int = 10,
        mode: str = "must",
        site_col: str | None = None,
        pattern_field: str | None = None,
        field_map: dict[str, str] | None = None,
    ) -> DataFrame:
        """Top-k with a goggle program LOWERED INTO THE QUERY TREE over
        the multi-field index — the reference's actual shape (goggles
        compile against specific schema fields, goggles/mod.rs:166-260 +
        mod.rs:231-262): site-only discards become MustNot attr terms,
        boosts/downranks/pattern-discards become const clauses the
        per-segment kernel evaluates over persisted per-field postings
        and positions.  ``pattern_field`` picks the field an unselected
        pattern matches (default "content" if present); ``field_map``
        maps goggle field selectors (``inurl``/``intitle``/…) to index
        fields."""
        from .goggles import lower_goggle

        default_field = pattern_field or (
            "content" if "content" in self.fields else sorted(self.fields)[0]
        )
        if default_field not in self.fields:
            raise ValueError(
                f"pattern_field {default_field!r} is not an index field "
                f"({sorted(self.fields)})"
            )
        bad = [
            f_ for f_ in (field_map or {}).values() if f_ not in self.fields
        ]
        if bad:
            raise ValueError(
                f"field_map targets {bad} are not index fields "
                f"({sorted(self.fields)})"
            )
        clauses, neg_site, coeff, has_empty_discard = lower_goggle(
            goggle, self.analyzer, site_col,
            field_map=field_map, default_field=default_field,
        )
        self._check_goggle(clauses, site_col)
        return self.search(
            query, k, mode,
            _const_clauses=clauses, _has_empty_discard=has_empty_discard,
            _score_coeff=coeff, _extra_neg=neg_site,
        )

    def search_proximity(
        self, query: str, k: int = 10, mode: str = "must",
        field: str | None = None,
    ):
        """Single-phase proximity retrieval on the multi-field index:
        the (boost, slop) ladder is scored as Should clauses INSIDE the
        per-segment kernel over ``field``'s stored positions (default
        the content-like field — the reference's proximity phrases run
        over body text, query/mod.rs:45-93), before the top-k cut —
        no overfetch window (r5 review: the former two-phase k×4
        rescoring could miss a doc ranked below the window by base MF
        BM25 but lifted by slop-0 phrase boosts).  The rung bonus uses
        the FIELD's df/dl/avgdl and boost, the same per-field
        association as MF phrase scoring.  Requires positions=True."""
        from ..functions.bm25 import idf as idf_fn
        from .wand import PROXIMITY_LADDER

        self._need_positions("proximity needs")
        f_ = field or (
            "content" if "content" in self.fields else sorted(self.fields)[0]
        )
        if f_ not in self.fields:
            raise ValueError(
                f"field {f_!r} is not an index field ({sorted(self.fields)})"
            )
        pq = parse_query(query, self.analyzer)
        terms = pq.uniq_terms
        if len(terms) < 2:
            return self.search_list(query, k=k, mode=mode)
        phys = [mf_term(f_, t) for t in terms]
        dfs = self.term_df(phys)
        num_docs = self.stats["num_docs"]
        w_phrase = self.boosts[f_] * sum(
            idf_fn(dfs.get(p, 0), num_docs) for p in phys
        ) * (K1 + 1.0)
        rows = self.search(
            query, k, mode,
            _ladder=PROXIMITY_LADDER, _ladder_field=f_,
            _ladder_terms=list(terms), _ladder_w=w_phrase,
        ).collect()
        return [(r["doc_id"], r["score"]) for r in rows]

    def spell_checker(self, dict_size: int = 100_000):
        """Top-N LOGICAL term dictionary: physical per-field dfs fold by
        token (a token's df is its summed df over fields), then the same
        SpellChecker as the single-field index."""
        from ..functions.spell import SpellChecker

        rest = F.substring(
            F.col("term"), len(MF_TERM_PREFIX) + 1, (1 << 30)
        )
        tok = F.split(rest, MF_TERM_SEP, 2).getItem(1)
        rows = (
            self.term_stats.filter(F.col("term").startswith(MF_TERM_PREFIX))
            .select(tok.alias("_tok"), "df")
            .groupBy("_tok").agg(F.sum("df").alias("df"))
            .orderBy(F.desc("df"), F.asc("_tok"))
            .limit(dict_size)
            .collect()
        )
        return SpellChecker({r["_tok"]: r["df"] for r in rows}, dict_size)


def _mf_segment_topk(
    view: SegmentView,
    uniq_sorted: list[str],
    fields_sorted: list[str],
    weights: dict[str, float],
    avgdl: dict[str, float],
    k: int,
    mode: str,
    neg_phys: list[str],
    phrases: list[list[str]] | None = None,
    pweights: dict[tuple[int, str], float] | None = None,
    max_docs: int | None = None,
    add_pre: bool = False,
    with_metrics: bool = False,
    filter_phys: list[str] | None = None,
    const_clauses: list[dict] | None = None,
    has_empty_discard: bool = False,
    score_coeff: float | None = None,
    with_count: bool = False,
    must_fields: list[str] | None = None,
    ladder: list[tuple[float, int]] | None = None,
    ladder_field: str | None = None,
    ladder_terms: list[str] | None = None,
    ladder_w: float = 0.0,
) -> SegmentTopK:
    """Per-segment multi-field exact top-k: per logical term the docset is
    the union over fields; Must intersects logical docsets, Should unions;
    score folds sorted (term, field) contributions, then phrases in
    (joined-text, field) order (canonical fp order, identical to
    MultiFieldOracle).  A phrase matches per field via that field's
    position streams; its Must docset is the union over fields.
    ``view``: the segment's :func:`~.wand.segment_view`.

    ``max_docs`` / ``add_pre``: the presorted composition — each logical
    term's driving docset is truncated to its best-pre max_docs docs (ids
    follow pre-score rank on presorted builds), and the final score adds
    the packed per-doc pre (rank = pre + Σ boosted bm25)."""
    import numpy as np

    from ..functions.bm25 import B, K1
    from .segments import NORMS_SENTINEL, decode_term_blocks
    from .wand import _DL_TABLE as dl_table

    phrases = phrases or []
    pweights = pweights or {}

    _seg, by_term, deleted, nm = view
    # base MUST come from a norms sentinel row: tombstone rows
    # (DELETES_TERM, appended as separate parquet parts) also land on the
    # norms side and carry base_doc_id = min deleted id, and cogroup row
    # order is not guaranteed — the first row could be a tombstone and
    # wrap every (id - base) lookup
    base: int | None = None
    main_row: int | None = None
    field_row: dict[str, int] = {}
    for i, snt in enumerate(nm["sentinel"].tolist()):
        if snt.startswith(MF_NORMS_PREFIX):
            field_row.setdefault(snt[len(MF_NORMS_PREFIX):], i)
        elif snt == NORMS_SENTINEL:
            if main_row is None:
                main_row = i
        else:
            continue
        if base is None:
            base = int(nm["base_doc_id"][i])
    if base is None:
        return _NO_MATCH
    norms_by_field = {
        f_: np.frombuffer(nm["norm_bytes"][i], dtype=np.uint8)
        for f_, i in field_row.items()
    }
    pre: np.ndarray | None = None
    if add_pre:
        pb = nm["pre_bytes"][main_row] if main_row is not None else None
        if pb is None:
            raise ValueError("add_pre requires a presorted index (pre_bytes)")
        pre = np.frombuffer(pb, dtype=np.float32).astype(np.float64)

    blk_cache: dict[str, dict] = {}
    kmetrics: dict | None = None
    if with_metrics:
        kmetrics = {
            "blocks_total": int(sum(
                len(by_term[p]) for p in weights if p in by_term
            )),
            "blocks_decoded": 0,
        }

    def metrics() -> tuple[int, int] | None:
        if kmetrics is None:
            return None
        # candidate-lookup decodes accumulate in blk_cache (full_union +
        # _lookup_tfs); count them here once, capped at total (a term
        # fully decoded via decode() never also populates blk_cache for
        # scoring, but phrase members can straddle both paths)
        return (min(
            kmetrics["blocks_total"],
            kmetrics["blocks_decoded"] + sum(
                len(tc) for p_, tc in blk_cache.items() if p_ in weights
            ),
        ), kmetrics["blocks_total"])

    decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def decode(p: str):
        if p not in decoded:
            g = by_term.get(p)
            if g is None:
                decoded[p] = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64))
            else:
                if kmetrics is not None and p in weights:
                    kmetrics["blocks_decoded"] += len(g)
                ids, tfs = decode_term_blocks(g)
                decoded[p] = (ids.astype(np.int64), tfs.astype(np.int64))
        return decoded[p]

    # dense-union fallback gate (the single-field kernel's shape test):
    # when EVERY present physical term is above the cheap limit and the
    # posting mass covers the segment, flat-bm25 block-max has nothing
    # to skip and its candidate-chunk scoring costs ~10× the exact
    # per-candidate fold — take the exact branch below, which decodes
    # each block exactly once via blk_cache.  Presorted (pre is not
    # None) keeps the pruned path: the pre spread gives real skew.
    _present = [p for p in weights if p in by_term]
    _seg_n = max(
        (arr.size for arr in norms_by_field.values()), default=0
    )
    dense_shape = (
        pre is None
        and len(_present) >= 2
        and _seg_n > 0
        and all(
            by_term[p].postings > max(2 * k, _seg_n // 16)
            for p in _present
        )
        and sum(by_term[p].postings for p in _present)
        >= (_seg_n * 3) // 5
    )
    if (mode != "must" and not phrases and not neg_phys
            and max_docs is None and not filter_phys and not const_clauses
            and score_coeff is None and not with_count
            and ladder is None  # ladder scores the FULL docset pre-cut
            and not dense_shape):
        # pruned multi-field OR: physical terms are independent additive
        # scoring units (per-field dl/avgdl), so the single-field
        # block-max union applies directly — with the fold order pinned
        # to (token, field) so results stay bit-identical to the exact
        # path and the oracle; on presorted builds ``pre`` composes into
        # the bounds/banked scores exactly as in the single-field kernel
        from .wand import _should_topk_blockmax

        def fld(p: str) -> str:
            return p[len(MF_TERM_PREFIX):].split(MF_TERM_SEP, 1)[0]

        def tok(p: str) -> str:
            return p.split(MF_TERM_SEP, 1)[1]

        present_phys = [p for p in weights if p in by_term]
        if not present_phys:
            return _NO_MATCH
        seg_n = _seg_n
        order_ = sorted(present_phys, key=lambda p: (tok(p), fld(p)))

        def dl_of_term(p: str, ids: np.ndarray) -> np.ndarray:
            return dl_table[norms_by_field[fld(p)][(ids - base)]]

        ids, score = _should_topk_blockmax(
            by_term, present_phys, weights, 0.0, k, None, dl_table, seg_n,
            dl_of_term=dl_of_term, avgdl_term=lambda p: avgdl[fld(p)],
            score_order=order_, pre=pre, base=base, excluded=deleted,
            metrics=kmetrics,
        )
        return _ranked(ids, score, k, metrics=metrics())

    def phrase_freqs_field(ph: list[str], f_: str, cand: np.ndarray) -> np.ndarray:
        """Exact-adjacency phrase frequency per candidate in field f_
        (0 where any member or the adjacency is missing)."""
        from .wand import _phrase_freqs

        members = [mf_term(f_, t) for t in ph]
        if any(m not in by_term for m in members):
            return np.zeros(cand.size, dtype=np.int64)
        sub = {m: by_term[m] for m in members}
        return _phrase_freqs(sub, members, cand)

    from .wand import _cached_ids, _lookup_tfs

    def full_union(t: str, flds: list[str] | None = None) -> np.ndarray:
        """All docs containing logical term t in any field (full decode,
        cached per block for later candidate lookups).  With the quota on,
        the union is truncated to its first max_docs ids — on a presorted
        build those are the term's best-pre docs (every truncated doc has
        ≥ max_docs higher-pre docs containing the term; admitted docs
        still score EXACTLY over all terms and fields, a strictly tighter
        cut than per-list truncation).  ``flds`` restricts the union to a
        field subset (must_fields membership)."""
        parts = []
        for f_ in (flds or fields_sorted):
            p = mf_term(f_, t)
            g = by_term.get(p)
            if g is None:
                continue
            parts.append(_cached_ids(g, blk_cache.setdefault(p, {})))
        u = (np.unique(np.concatenate(parts)) if parts
             else np.zeros(0, dtype=np.int64))
        return u[:max_docs] if max_docs is not None else u

    def member_mask(t: str, cand: np.ndarray,
                    flds: list[str] | None = None) -> np.ndarray:
        """cand ∈ term t in ANY field — candidate-intersecting block
        lookups only (the multi-field leapfrog step); ``flds`` restricts
        membership to a field subset (must_fields)."""
        m = np.zeros(cand.size, dtype=bool)
        for f_ in (flds or fields_sorted):
            tfs = _lookup_tfs(by_term, mf_term(f_, t), cand, blk_cache)
            if tfs is not None:
                m |= tfs > 0
        return m

    if mode == "must":
        # rarest logical term drives; later terms decode only candidate-
        # intersecting blocks (never a common term's full lists).
        # must_fields (entity-index shape) narrows MEMBERSHIP to a field
        # subset; scoring below still folds every weighted field.
        memb_flds = must_fields or fields_sorted
        sizes = {
            t: sum(by_term[mf_term(f_, t)].postings
                   for f_ in memb_flds if mf_term(f_, t) in by_term)
            for t in uniq_sorted
        }
        order_l = sorted(uniq_sorted, key=lambda t: (sizes[t], t))
        cand = (full_union(order_l[0], memb_flds) if order_l
                else np.zeros(0, dtype=np.int64))
        if not order_l and phrases:
            # phrase-only Must: drive from the first phrase's docset
            cand = None  # filled by the first phrase below
        for t in order_l[1:]:
            if cand.size == 0:
                return _NO_MATCH
            cand = cand[member_mask(t, cand, memb_flds)]
        for ph in phrases:
            if cand is None:
                per_field_hits = []
                for f_ in fields_sorted:
                    members = [mf_term(f_, t) for t in ph]
                    if any(m not in by_term for m in members):
                        continue
                    sets = [decode(m)[0] for m in members]
                    inter = sets[0]
                    for s_ in sets[1:]:
                        inter = inter[np.isin(inter, s_)]
                    if inter.size:
                        pf = phrase_freqs_field(ph, f_, inter)
                        hit = inter[pf > 0]
                        if hit.size:
                            per_field_hits.append(hit)
                cand = (np.unique(np.concatenate(per_field_hits))
                        if per_field_hits else np.zeros(0, dtype=np.int64))
                if max_docs is not None:
                    cand = cand[:max_docs]
                continue
            if cand.size == 0:
                return _NO_MATCH
            m = np.zeros(cand.size, dtype=bool)
            for f_ in fields_sorted:
                pf = phrase_freqs_field(ph, f_, cand)
                m |= pf > 0
            cand = cand[m]
        if cand is None:
            cand = np.zeros(0, dtype=np.int64)
    else:
        # should with phrases/negations: exact union of unit docsets
        term_docsets = [full_union(t) for t in uniq_sorted]
        phrase_docsets = []
        for ph in phrases:
            per_field_hits = []
            for f_ in fields_sorted:
                members = [mf_term(f_, t) for t in ph]
                if any(m not in by_term for m in members):
                    continue
                sets = [decode(m)[0] for m in members]
                inter = sets[0]
                for s_ in sets[1:]:
                    inter = inter[np.isin(inter, s_)]
                if inter.size == 0:
                    continue
                pf = phrase_freqs_field(ph, f_, inter)
                hit = inter[pf > 0]
                if hit.size:
                    per_field_hits.append(hit)
            hits = (
                np.unique(np.concatenate(per_field_hits)) if per_field_hits
                else np.zeros(0, dtype=np.int64)
            )
            phrase_docsets.append(
                hits[:max_docs] if max_docs is not None else hits
            )
        unit_docsets = term_docsets + phrase_docsets
        cand = (
            np.unique(np.concatenate(unit_docsets)) if unit_docsets
            else np.zeros(0, dtype=np.int64)
        )
    if filter_phys and cand.size:
        # site:/attr filters: Must membership in every filter term's
        # posting list (candidate-intersecting block lookups only)
        for p in filter_phys:
            if cand.size == 0:
                break
            tfs = _lookup_tfs(by_term, p, cand, blk_cache)
            cand = cand[tfs > 0] if tfs is not None else cand[:0]
    if neg_phys and cand.size:
        exm = np.zeros(cand.size, dtype=bool)
        for p in neg_phys:
            tfs = _lookup_tfs(by_term, p, cand, blk_cache)
            if tfs is not None:
                exm |= tfs > 0
        cand = cand[~exm]
    if deleted is not None and cand.size:
        cand = cand[~np.isin(cand, deleted)]
    if cand.size == 0:
        return _NO_MATCH
    score = np.zeros(cand.size, dtype=np.float64)
    for t in uniq_sorted:
        for f_ in fields_sorted:
            p = mf_term(f_, t)
            w = weights.get(p)
            if w is None or p not in by_term:
                continue
            tfs = _lookup_tfs(by_term, p, cand, blk_cache)
            if tfs is None:
                continue
            match = tfs > 0
            if not match.any():
                continue
            narr = norms_by_field[f_]
            dls = dl_table[narr[(cand[match] - base)]]
            tfc = tfs[match].astype(np.float64)
            norm = K1 * (1.0 - B + B * (dls / avgdl[f_]))
            score[match] += w * (tfc / (tfc + norm))
    # phrases fold AFTER terms, in (joined text, field) canonical order
    ph_order = sorted(range(len(phrases)), key=lambda i: " ".join(phrases[i]))
    for pi in ph_order:
        for f_ in fields_sorted:
            w = pweights.get((pi, f_))
            if not w:
                continue
            pf = phrase_freqs_field(phrases[pi], f_, cand)
            m = pf > 0
            if not m.any():
                continue
            narr = norms_by_field[f_]
            dls = dl_table[narr[(cand[m] - base)]]
            tfc = pf[m].astype(np.float64)
            norm = K1 * (1.0 - B + B * (dls / avgdl[f_]))
            score[m] += w * (tfc / (tfc + norm))
    if (
        ladder is not None and cand.size and ladder_terms
        and len(ladder_terms) >= 2 and ladder_field in norms_by_field
    ):
        # IN-KERNEL proximity ladder (r5 review: the fix for r4 VERDICT
        # #3 previously landed only on the single-field path): Should-
        # phrases over the full query-term sequence at each (boost,
        # slop) rung, scored over the ENTIRE matching docset before the
        # top-k cut — no overfetch window to fall out of.  The rung
        # bonus uses the ladder FIELD's positions, dl and avgdl with the
        # field's boosted phrase weight, the same per-field association
        # as MF phrase scoring.
        from .wand import _ladder_freqs as _lf
        from .wand import _tf_comp as _tc

        l_phys = [mf_term(ladder_field, t) for t in ladder_terms]
        if all(p in by_term for p in l_phys):
            slops_l = [s_ for _, s_ in ladder]
            freqs_l = _lf(by_term, l_phys, cand, slops_l)
            narr_l = norms_by_field[ladder_field]
            dls_l = dl_table[narr_l[(cand - base)]]
            bonus = np.zeros(cand.size, dtype=np.float64)
            for si, (b_, _slop) in enumerate(ladder):
                bonus += b_ * ladder_w * _tc(
                    freqs_l[:, si].astype(np.float64), dls_l,
                    avgdl[ladder_field],
                )
            score = score + bonus
    if score_coeff is not None and cand.size:
        # @bm25 alteration: scales ONLY the relevance signal, before the
        # pre-computed signal and const bonuses land (signal.rs:343-387)
        score = score * score_coeff
    if pre is not None and cand.size:
        # final rank = pre_computed + Σ boosted per-field bm25
        # (signal.rs:296-333 composed with the per-field Should)
        score = score + pre[(cand - base).astype(np.int64)]
    if const_clauses and cand.size:
        # lowered goggle instructions over the PERSISTED per-field index
        # (attr-term posting lookups + pattern-automaton runs over the
        # pattern field's stored positions) — same evaluation as the
        # single-field kernel; trailing anchors read the pattern FIELD's
        # exact dl tail from its norm sentinel
        from ..functions.codec import varint_decode
        from .wand import _clause_match_mask

        tails: dict[str, np.ndarray | None] = {}

        def dl_exact_for(f_: str):
            if f_ not in tails:
                tails[f_] = None
                i = field_row.get(f_)
                if (
                    "meta_bytes" in nm and i is not None
                    and nm["meta_bytes"][i] is not None
                ):
                    vals = varint_decode(bytes(nm["meta_bytes"][i]))
                    span = norms_by_field[f_].size
                    t = vals[2:2 + span]
                    if len(t) == span:
                        tails[f_] = np.asarray(t, dtype=np.int64)
            return tails[f_]

        drop = np.zeros(cand.size, dtype=bool)
        keep_union = np.zeros(cand.size, dtype=bool)
        for cl in const_clauses:
            ops = cl.get("pattern_ops")
            needs_len = bool(ops) and ops[-1][0] == "anchor_end"
            dl_exact = (
                dl_exact_for(cl["pattern_field"]) if needs_len else None
            )
            if needs_len and dl_exact is None:
                raise ValueError(
                    "trailing-anchor goggle patterns need exact per-field "
                    "doc lengths — rebuild the index (per-field sentinels "
                    "now store the dl tail)"
                )
            m = _clause_match_mask(by_term, cl, cand, dl_exact, base)
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
        cand, score = cand[sel], score[sel]
    elif has_empty_discard and cand.size:
        # bare $discard with NO other lowered instruction: every doc is
        # discarded (same contract as the single-field kernel)
        cand, score = cand[:0], score[:0]
    return _ranked(cand, score, k, int(cand.size) if with_count else None,
                   metrics())


class MultiFieldOracle:
    """Pure-Python yardstick with identical fp association order."""

    def __init__(self, field_boosts: dict[str, float] | None = None,
                 analyzer: str = "ascii") -> None:
        from ..oracle import OracleIndex

        self.boosts = field_boosts or DEFAULT_FIELD_BOOSTS
        self.analyzer = analyzer
        self.fields = {f_: OracleIndex(analyzer=analyzer) for f_ in self.boosts}
        self.num_docs = 0

    def add(self, doc_id: int, field_values: dict[str, str]) -> None:
        self.num_docs += 1
        for f_, idx in self.fields.items():
            idx.add(doc_id, field_values.get(f_, ""))

    def search(self, query: str, k: int = 10, mode: str = "must",
               phrase: bool = False):
        from ..functions.bm25 import idf as idf_fn
        from ..functions.bm25 import tf_component

        pq = parse_query(query, self.analyzer, phrase=phrase)
        uniq = pq.uniq_terms
        phrases = pq.phrases
        if not uniq and not phrases:
            return []
        counts = pq.term_counts
        fields = sorted(self.boosts)
        # candidates: per logical unit (term or phrase) the union over
        # fields; then AND/OR over units
        term_docs = {
            t: set().union(*(set(self.fields[f_].postings.get(t, {})) for f_ in fields))
            for t in uniq
        }
        phrase_docs = []
        for ph in phrases:
            hit: set[int] = set()
            for f_ in fields:
                fidx = self.fields[f_]
                sets = [set(fidx.postings.get(t, {})) for t in ph]
                inter = set.intersection(*sets) if sets else set()
                hit |= {d for d in inter if fidx.phrase_freq(ph, d) > 0}
            phrase_docs.append(hit)
        units = list(term_docs.values()) + phrase_docs
        if mode == "must":
            if any(not s for s in units):
                return []
            cand = set.intersection(*units)
        else:
            cand = set.union(*units) if units else set()
        for t in set(pq.neg_terms):
            for f_ in fields:
                cand -= set(self.fields[f_].postings.get(t, {}))
        if not cand:
            return []
        scores = {d: 0.0 for d in cand}
        for t in sorted(uniq):
            for f_ in fields:
                fidx = self.fields[f_]
                plist = fidx.postings.get(t, {})
                if not plist:
                    continue
                wt = counts[t] * self.boosts[f_] * weight(len(plist), self.num_docs)
                avgdl = fidx.avgdl
                for d in cand:
                    tf = plist.get(d)
                    if tf is not None:
                        scores[d] += wt * float(
                            tf_component(tf, fidx.doc_dl[d], avgdl)
                        )
        # phrases fold after terms, (joined text, field) order — matches
        # the persisted kernel exactly
        for pi in sorted(range(len(phrases)), key=lambda i: " ".join(phrases[i])):
            ph = phrases[pi]
            for f_ in fields:
                fidx = self.fields[f_]
                wt = self.boosts[f_] * (
                    sum(idf_fn(len(fidx.postings.get(t, {})), self.num_docs)
                        for t in ph) * (K1 + 1.0)
                )
                for d in cand:
                    pf = fidx.phrase_freq(ph, d)
                    if pf > 0:
                        scores[d] += wt * float(
                            tf_component(pf, fidx.doc_dl[d], fidx.avgdl)
                        )
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]