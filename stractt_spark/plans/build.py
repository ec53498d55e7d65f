"""Resumable index build: docs → the fused unified index table + stats.

Stage graph (each stage idempotent, checkpointed, skippable on resume):

  0. ``docmap``      presorted builds only: (doc_id, orig_id, pre_score)
  1. ``index``       docs → unified table: 128-doc compressed posting
                     blocks + one sentinel row per segment (packed norms,
                     exact per-doc token counts, pre-scores, build metrics)
  2. ``term_stats``  index → (term, df) parquet
  3. ``stats``       sentinel rows → N / total_tokens / avgdl → stats.json

This is the ONE on-disk layout: every build, streamed batch, merge and
compaction writes it (``stats.json`` ``layout: "fused"``), and
:meth:`IndexPaths.read_stats` refuses any other directory.

Checkpointing: every stage writes its output table plus an entry in
``_manifest.json`` keyed by a fingerprint of the build parameters; a re-run
with the same fingerprint skips completed stages (parquet directories stand
in for Iceberg snapshot commits in this sandbox — on a real deployment each
stage is an Iceberg table write and the manifest is the snapshot id, which
gives the same resume semantics transactionally).

Lineage: the stats stage appends a per-segment metrics row to
``lineage.parquet`` — docs tokenized, postings emitted, bytes compressed,
blocks (north-rule requirement).  Metrics come from the persisted sentinel
rows, so they are exact regardless of task retries.

The index is written sorted (``segment_id, term, block_id``) so the query
path gets parquet row-group pruning on both the term filter and the
segment grouping.

Mirrors: the reference's indexer lifecycle (SURVEY.md §3.1) — map =
tokenize+segment-build, reduce = the segment shuffle inside
build_segments_fused; its FrozenIndex shipping + pairwise fold disappears
(segments live in shared storage; one shuffle replaces the fold).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenizer import analyzer_fingerprint
from ..operators.postings import assign_doc_ids
from ..operators.segments import SEGMENTS_SCHEMA, UNIFIED_NORMS, NormsSplit
from ..operators.wand import DriverScan, local_paths, pin_driver_scan


def _check_analyzer_fp(stats: dict) -> None:
    """Refuse to open an index whose postings were tokenized under a
    DIFFERENT definition of the same analyzer (regex class / filter-chain
    change): querying it would silently tokenize queries differently from
    its postings — term misses and shifted phrase positions instead of an
    error.  Indexes persisted before the stamp existed (no analyzer_fp
    key) open unchecked."""
    fp = stats.get("analyzer_fp")
    if fp is None:
        return
    want = analyzer_fingerprint(stats["analyzer"])
    if fp != want:
        raise ValueError(
            f"index was built with analyzer {stats['analyzer']!r} "
            f"fingerprint {fp} but this engine's definition is {want}: "
            "the tokenizer behavior changed since the build — rebuild the "
            "index (or pin the engine version that built it)"
        )


@dataclass
class IndexPaths:
    root: str

    @property
    def index(self) -> str:  # unified fused table (blocks + sentinel norms)
        return os.path.join(self.root, "index.parquet")

    @property
    def term_stats(self) -> str:
        return os.path.join(self.root, "term_stats.parquet")

    @property
    def stats(self) -> str:
        return os.path.join(self.root, "stats.json")

    @property
    def docmap(self) -> str:  # presorted builds: (doc_id, orig_id, pre_score)
        return os.path.join(self.root, "docmap.parquet")

    @property
    def lineage(self) -> str:
        return os.path.join(self.root, "lineage.parquet")

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def read_stats(self) -> dict:
        """``stats.json`` — where every reader and writer opens an index
        directory, and so the one layout check: only the fused unified
        table exists, and any other directory is refused here instead of
        being half-read."""
        with open(self.stats) as f:
            stats = json.load(f)
        if stats.get("layout") != "fused":
            raise ValueError(
                f"{self.root} is not a fused index (stats.json layout="
                f"{stats.get('layout')!r}): rebuild it with "
                "build_index_fused"
            )
        return stats


def _read_manifest(paths: IndexPaths) -> dict:
    if os.path.exists(paths.manifest):
        with open(paths.manifest) as f:
            return json.load(f)
    return {"stages": {}}


def _write_manifest(paths: IndexPaths, manifest: dict) -> None:
    tmp = paths.manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, paths.manifest)


def _append_lineage(spark: SparkSession, paths: IndexPaths, rows: list[dict]) -> None:
    """Append lineage rows as ONE parquet part file written directly from
    the driver (pyarrow) — the rows are a per-segment handful of scalars
    that already live on the driver, so a Spark job here bought nothing
    but a createDataFrame → write round trip (~0.5 s of scheduler and
    commit overhead per build, ×5 builds in the bench).  Readers are
    unchanged: ``spark.read.parquet(lineage_dir)`` sees the same rows."""
    if not rows:
        return
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "stage": pa.array([r["stage"] for r in rows], pa.string()),
            "partition_id": pa.array(
                [int(r["partition_id"]) for r in rows], pa.int64()
            ),
            "docs": pa.array([int(r.get("docs", 0)) for r in rows], pa.int64()),
            "postings": pa.array(
                [int(r.get("postings", 0)) for r in rows], pa.int64()
            ),
            "bytes_compressed": pa.array(
                [int(r.get("bytes_compressed", 0)) for r in rows], pa.int64()
            ),
            "blocks": pa.array(
                [int(r.get("blocks", 0)) for r in rows], pa.int64()
            ),
            "fingerprint": pa.array(
                [r["fingerprint"] for r in rows], pa.string()
            ),
        }
    )
    os.makedirs(paths.lineage, exist_ok=True)
    tmp = os.path.join(paths.lineage, f".part-{uuid.uuid4().hex}.tmp")
    final = os.path.join(paths.lineage, f"part-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, final)


class StageAborted(RuntimeError):
    """Raised by the fail_after test hook to simulate a mid-build crash."""


def write_docmap(pre_scores: DataFrame, id_col: str, docmap_dir: str) -> None:
    """Presorted builds: rank docs by (pre_score desc, orig id asc) and
    persist the (doc_id, orig_id, pre_score) map — the internal doc id IS
    that rank (:func:`~stractt_spark.operators.postings.assign_doc_ids`)."""
    ranked = pre_scores.select(
        F.col(id_col).cast("long").alias("orig_id"),
        F.col("pre_score").cast("double").alias("pre_score"),
    ).withColumn("_neg_pre", -F.col("pre_score"))
    (
        assign_doc_ids(ranked, ["_neg_pre", "orig_id"])
        .select("doc_id", "orig_id", "pre_score")
        .write.mode("overwrite").parquet(docmap_dir)
    )


def join_docmap(
    spark: SparkSession, docs: DataFrame, id_col: str, docmap_dir: str,
    pre_col: str,
) -> DataFrame:
    """``docs`` re-keyed through the persisted docmap: the internal
    ``doc_id`` replaces ``id_col`` and the doc's pre-score rides as
    ``pre_col``."""
    docmap_df = spark.read.parquet(docmap_dir)
    # the docs↔docmap join is INNER: a doc with no pre_score row would
    # silently vanish from the index (and num_docs/avgdl would quietly
    # reflect the reduced set) — fail loudly instead
    missing = (
        docs.select(F.col(id_col).cast("long").alias("_orig"))
        .join(
            docmap_df.select(F.col("orig_id").alias("_orig")),
            "_orig", "left_anti",
        )
        .count()
    )
    if missing:
        raise ValueError(
            f"presorted build: {missing} doc(s) have no pre_scores row "
            "and would be dropped by the docmap join — supply a "
            "pre_score for every doc (coalesce to 0.0 upstream if "
            "unscored docs are intended)"
        )
    return docs.withColumnRenamed(id_col, "_orig").join(
        docmap_df.select(
            F.col("orig_id").alias("_orig"), "doc_id",
            F.col("pre_score").alias(pre_col),
        ),
        "_orig",
    )


def build_index_fused(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    text_col: str = "content",
    id_col: str = "doc_id",
    analyzer: str = "ascii",
    docs_per_segment: int = 4096,
    positions: bool = False,
    attr_cols: list[str] | None = None,
    pre_scores: DataFrame | None = None,
    aligned_input: bool = False,
    fail_after: str | None = None,
    log: bool = False,
) -> IndexPaths:
    """Fused build: docs → unified index table in ONE shuffle + ONE Arrow
    pass (see operators.segments.build_segments_fused), then tiny
    term_stats / stats stages reading back only pruned columns.  The one
    index build: merges and compactions write the same table.

    ``pre_scores``: optional (id_col, pre_score) DataFrame of
    query-independent scores (operators.signals.precompute_score).  When
    given, the build becomes PRESORTED: internal doc ids are assigned by
    pre-score rank (desc, orig id tie-break) via the two-pass
    ``assign_doc_ids`` shape, the (doc_id ↔ orig_id, pre_score) map is
    persisted to ``docmap.parquet``, and per-segment pre-scores are packed
    into the sentinel rows.  This is the reference's sorted-by-
    ``pre_computed_score`` index order (src/inverted_index.rs:100-106 +
    src/ranking/signal.rs:296-333) — the property that makes the max-docs
    early-termination quota keep the BEST docs per segment.
    """
    from ..functions.codec import varint_decode
    from ..operators.segments import NORMS_SENTINEL, build_segments_fused

    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    fp = hashlib.sha256(
        json.dumps(
            {"analyzer": analyzer,
             "analyzer_fp": analyzer_fingerprint(analyzer),
             "dps": docs_per_segment, "text": text_col,
             "id": id_col, "layout": "fused", "positions": positions,
             "attrs": sorted(attr_cols or []),
             "presorted": pre_scores is not None, "v": 1},
            sort_keys=True,
        ).encode()
    ).hexdigest()[:16]
    manifest = _read_manifest(paths)

    def done(stage: str) -> bool:
        e = manifest["stages"].get(stage)
        return bool(e and e.get("fingerprint") == fp and e.get("ok"))

    _t_last = [time.time()]

    def mark(stage: str, **extra) -> None:
        elapsed = round(time.time() - _t_last[0], 2)
        _t_last[0] = time.time()
        manifest["stages"][stage] = {
            "fingerprint": fp, "ok": True, "completed_at": time.time(),
            "elapsed_sec": elapsed, **extra,
        }
        _write_manifest(paths, manifest)
        if log:
            print(f"[build] stage {stage} done in {elapsed}s {extra}")
        if fail_after == stage:
            raise StageAborted(stage)

    if aligned_input and pre_scores is not None:
        raise ValueError(
            "aligned_input requires the INPUT's id layout; presorting "
            "remaps ids (join) and destroys the alignment contract"
        )
    build_docs, build_id_col, pre_col = docs, id_col, None
    if pre_scores is not None:
        pre_col = "_pre_score"
        if not done("docmap"):
            write_docmap(pre_scores, id_col, paths.docmap)
            mark("docmap")
        build_docs = join_docmap(spark, docs, id_col, paths.docmap, pre_col)
        build_id_col = "doc_id"

    if not done("index"):
        unified = build_segments_fused(
            build_docs, text_col, build_id_col, analyzer, docs_per_segment,
            include_positions=positions, attr_cols=attr_cols,
            pre_col=pre_col, aligned_input=aligned_input,
        )
        (
            unified.sortWithinPartitions("segment_id", "term", "block_id")
            .write.mode("overwrite")
            .parquet(paths.index)
        )
        if aligned_input:
            # layout-contract check: a segment split across input
            # partitions would have emitted duplicate sentinel rows
            # (reads only the tiny pruned sentinel slice)
            dup = (
                spark.read.parquet(paths.index)
                .filter(F.col("term") == NORMS_SENTINEL)
                .groupBy("segment_id").count().filter(F.col("count") > 1)
                .count()
            )
            if dup:
                raise ValueError(
                    f"aligned_input=True but {dup} segment(s) span multiple "
                    "input partitions — partition boundaries must be "
                    "multiples of docs_per_segment"
                )
        mark("index")
    unified = spark.read.parquet(paths.index)

    if not done("term_stats"):
        (
            unified.filter(F.col("term") != NORMS_SENTINEL)
            .groupBy("term")
            .agg(F.sum("num_docs").cast("long").alias("df"))
            .write.mode("overwrite")
            .parquet(paths.term_stats)
        )
        mark("term_stats")

    if not done("stats"):
        # every per-segment metric was folded into the sentinel rows at
        # build time — this stage reads ~n_segments rows, no binaries
        meta = (
            unified.filter(F.col("term") == NORMS_SENTINEL)
            .select("segment_id", "tf_bytes")
            .collect()
        )
        total_tokens = 0
        docs_tokenized = 0
        lineage_rows = []
        for r in meta:
            vals = varint_decode(bytes(r["tf_bytes"]))
            total_tokens += int(vals[0])
            docs_tokenized += int(vals[1])
            lineage_rows.append(
                {"stage": "index", "partition_id": r["segment_id"],
                 "docs": int(vals[1]), "postings": int(vals[2]),
                 "blocks": int(vals[3]), "bytes_compressed": int(vals[4]),
                 "fingerprint": fp}
            )
        _append_lineage(spark, paths, lineage_rows)
        # num_docs comes from the sentinel rows (Σ per-segment row counts):
        # every input row reaches exactly one encode kernel — the fused
        # pass neither filters nor duplicates docs, and the presorted
        # docmap join is validated complete above — so this equals
        # docs.count() without re-running the input subtree (the old
        # count() re-executed the upstream repartition/join: one full
        # extra job per build).
        n_docs = docs_tokenized
        stats = {
            "num_docs": int(n_docs),
            "docs_tokenized": docs_tokenized,
            "total_tokens": total_tokens,
            "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
            "analyzer": analyzer,
            "analyzer_fp": analyzer_fingerprint(analyzer),
            "docs_per_segment": docs_per_segment,
            "layout": "fused",
            "positions": positions,
            "presorted": pre_scores is not None,
            "attr_cols": sorted(attr_cols or []),
            "text_col": text_col,
            "id_col": id_col,
            "fingerprint": fp,
        }
        tmp = paths.stats + ".tmp"
        with open(tmp, "w") as f:
            json.dump(stats, f, indent=2)
        os.replace(tmp, paths.stats)
        mark("stats", num_docs=int(n_docs))

    return paths



def _rebuild_query(new_pos_terms: list, pq) -> str:
    """Rebuild a retry query from corrected/split positive terms while
    PRESERVING the original MustNot terms and field filters (review
    finding r5: the former pos-terms-only rebuild silently dropped
    ``-term`` exclusions and ``lang:``/``site:`` filters on the spell /
    compound-split retry, returning docs the user excluded)."""
    parts = list(new_pos_terms)
    parts += [f"-{t}" for t in pq.neg_terms]
    parts += [f"{f}:{v}" for f, v in pq.filters.items()]
    parts += [f"-{f}:{v}" for f, v in pq.anti_filters.items()]
    return " ".join(parts)


def _local_term_df(
    open_term_stats: Callable[[], DataFrame],
    term_stats_dir: str,
    terms: list[str],
) -> dict[str, int]:
    """term → global df for the given terms, read directly from the
    term_stats parquet on the DRIVER (pyarrow, predicate on ``term``).

    The lookup touches a handful of rows of a dimension table — paying a
    full Spark job (driver→scheduler→executor→collect round trip) per
    query for it was pure fixed overhead.  Reading the term dictionary
    locally is exactly what a query node does in the reference (tantivy's
    TermDictionary is mmapped per segment); parquet row-group pruning plays
    the role of the dictionary's block index.  Falls back to the Spark
    filter+collect path when the directory is not driver-readable (e.g. an
    object-store URI in cluster mode) or a parquet file is corrupt; only
    then is the Spark table opened (``open_term_stats``), because opening
    it reads the parquet footers in a Spark job."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    try:
        files = sorted(
            os.path.join(term_stats_dir, f)
            for f in os.listdir(term_stats_dir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if files:
            tbl = pads.dataset(files, format="parquet").to_table(
                columns=["term", "df"],
                filter=pads.field("term").isin(terms),
            )
            return {
                t: int(d)
                for t, d in zip(
                    tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist(),
                )
            }
        return {}
    except (OSError, pa.ArrowInvalid):
        # unreadable on the driver (object-store URI) or a corrupt /
        # partially-written parquet footer: the Spark reader is the safe
        # superset
        rows = open_term_stats().filter(F.col("term").isin(terms)).collect()
        return {r["term"]: int(r["df"]) for r in rows}


class IndexHandle:
    """What every query handle over a persisted index shares:

    * **open** — ``stats.json`` (:meth:`IndexPaths.read_stats`: the
      layout check), the analyzer fingerprint check, and the
      main table ∪ every LEDGERED streamed batch (a batch is visible once
      the stats ledger names it, ``streaming.ingest.registered_paths``);
    * the lazy ``term_stats`` and ``docmap`` tables;
    * :meth:`cache` — segments + norms co-partitioned and co-sorted;
    * ``driver`` — the table's files pinned at open when all are local,
      so small requests score on the driver
      (:func:`~stractt_spark.operators.wand.per_segment`);
    * :meth:`term_df` and the plan memo;
    * the option guards, the orig-id mapping and the collector helpers
      (:meth:`search_list`, :meth:`search_diverse`,
      :meth:`search_corrected`).

    A subclass supplies how the unified table splits into ``segments`` /
    ``norms`` (``NORMS_SPLIT``), how a query lowers to its per-segment
    kernel (``search``), and its spell dictionary (``spell_checker``)."""

    NORMS_SPLIT: NormsSplit

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.paths = IndexPaths(root)
        self._root = root
        self.stats = self.paths.read_stats()
        self.analyzer = self.stats["analyzer"]
        _check_analyzer_fp(self.stats)
        self.presorted = bool(self.stats.get("presorted"))
        self._term_stats_df: DataFrame | None = None
        self._docmap_df: DataFrame | None = None
        self._tdf_memo: dict[str, int] = {}
        self._plan_memo: dict[tuple, DataFrame] = {}
        # the unified table ∪ every ledgered streamed batch, split by
        # NORMS_SPLIT, read with its known schema (inferring it reads a
        # footer in a Spark job).  The files Spark listed are pinned as
        # ``driver`` when every one is local: the driver site then reads
        # the same snapshot (deletes and streamed batches become visible
        # on reopen, as for the Spark views)
        from ..streaming.ingest import registered_paths

        unified = spark.read.schema(SEGMENTS_SCHEMA).parquet(
            *registered_paths(root, self.stats)
        )
        split = self.NORMS_SPLIT
        files = local_paths(unified.inputFiles())
        self.driver: DriverScan | None = (
            pin_driver_scan(files, split, self.term_df) if files else None
        )
        self.segments = unified.filter(~split.rows())
        self.norms = split.select(unified)

    @property
    def term_stats(self) -> DataFrame:
        # opened lazily: each spark.read.parquet pays a driver-side file
        # listing + schema read (~0.1 s); the default search path reads
        # term stats via pyarrow (term_df) and never needs this DataFrame
        if self._term_stats_df is None:
            self._term_stats_df = self.spark.read.parquet(
                self.paths.term_stats
            )
        return self._term_stats_df

    @property
    def docmap(self) -> DataFrame | None:
        if not self.presorted:
            return None
        if self._docmap_df is None:
            from ..streaming.ingest import registered_docmaps

            self._docmap_df = self.spark.read.parquet(
                *registered_docmaps(self._root, self.stats)
            )
        return self._docmap_df

    def cache(self) -> "IndexHandle":
        """Mark segments + norms to be cached CO-PARTITIONED AND CO-SORTED
        on ``segment_id``: the per-query cogroup requires both sides
        hash-clustered and key-sorted, so caching them already in that
        layout elides BOTH Exchange and Sort nodes from every Spark-site
        query's plan — the query job becomes a single stage over the
        cached partitions (measured: 2 Exchange + 2 Sort → 0).  Lazy: no
        job starts here; the first Spark-site request fills the cache, and
        driver-site requests (``driver``) never read it.  Partition count
        scales with the segment count (bounded by parallelism), not a
        constant: one segment per task up to the point scheduling overhead
        would dominate."""
        n_seg = max(
            1,
            -(-int(self.stats["num_docs"])
              // max(1, int(self.stats.get("docs_per_segment", 1)))),
        )
        par = self.spark.sparkContext.defaultParallelism
        # cap at defaultParallelism: beyond ~1 task/core the per-task
        # scheduling + Arrow round-trip dominates the (cheap) per-segment
        # kernel — measured at 50 segments/32 cores: 98 partitions 1.67 s
        # vs 32 partitions 1.00 s for 3 queries.  Below the cap keep
        # 2·n_seg so hash collisions rarely co-locate two segments.
        n_part = max(1, min(2 * n_seg, par))
        self.segments = (
            self.segments.repartition(n_part, "segment_id")
            .sortWithinPartitions("segment_id")
            .cache()
        )
        self.norms = (
            self.norms.repartition(n_part, "segment_id")
            .sortWithinPartitions("segment_id")
            .cache()
        )
        # plans memoized before this point scan the uncached inputs
        self._plan_memo.clear()
        return self

    def term_df(self, terms: list[str]) -> dict[str, int]:
        """Global df for the query's (physical) terms — a driver-side
        metadata lookup (a few rows), served straight from the term_stats
        parquet via pyarrow instead of a Spark job: the filter+collect job
        cost ~0.1-0.15 s of pure scheduling per search call.  Results are
        memoized per index handle (the table is immutable for the life of
        the handle — mutations rewrite term_stats and re-open the index),
        so repeated queries skip even the local read."""
        if not terms:
            return {}
        missing = [t for t in terms if t not in self._tdf_memo]
        if missing:
            found = _local_term_df(
                lambda: self.term_stats, self.paths.term_stats, missing
            )
            for t in missing:
                self._tdf_memo[t] = int(found.get(t, 0))
        return {t: self._tdf_memo[t] for t in terms if self._tdf_memo[t]}

    def _memoize(
        self, key: tuple | None, top: DataFrame, orig_ids: bool = False
    ) -> DataFrame:
        """Map ``top`` to original ids when asked, then the plan memo: the
        SAME logical query re-issued against this handle returns the SAME
        DataFrame object.  Building a plan costs ~190 py4j round trips
        (~120 ms driver-side) plus JVM re-analysis on first execution; a
        repeated query (interactive refresh, the bench's best-of-N) pays
        only execution.  This caches Spark-site PLANS only, never
        results: every collect() re-executes against the index.  A
        driver-site result (``wand.driver_result``) is already scored, so
        it is returned unmemoized and every call scores again; so is any
        result with ``key`` None."""
        from ..operators.wand import driver_result

        on_driver = driver_result(top)
        if orig_ids:
            top = self._to_orig_ids(top)
        if key is None or on_driver:
            return top
        if len(self._plan_memo) >= 256:
            self._plan_memo.clear()
        self._plan_memo[key] = top
        return top

    # ------------------------------------------------------------ guards

    def _need_positions(self, what: str) -> None:
        if not self.stats.get("positions"):
            raise ValueError(f"{what} an index built with positions=True")

    def _check_options(
        self,
        phrase: bool,
        pre: bool,
        max_docs_per_segment: int | None,
        unsafe_quota: bool,
    ) -> None:
        if phrase:
            self._need_positions("phrase queries need")
        if pre and not self.presorted:
            raise ValueError("pre-score options need a presorted index")
        self.validate_quota(max_docs_per_segment, unsafe_quota)

    def validate_quota(
        self, max_docs_per_segment: int | None, unsafe_quota: bool
    ) -> None:
        """The two soundness guards EVERY quota-accepting entry point
        shares (search, metrics, batch): a quota on a doc-id-ordered index
        truncates arbitrary docs, and a quota on a tombstoned index can no
        longer guarantee max_docs LIVE higher-pre matches above the cut."""
        if max_docs_per_segment is None or unsafe_quota:
            return
        if not self.presorted:
            raise ValueError(
                "max_docs_per_segment on a doc-id-ordered index truncates "
                "ARBITRARY docs (unsound early termination) — build with "
                "pre_scores=... for a sound quota, or pass "
                "unsafe_quota=True to accept approximate results"
            )
        if self.stats.get("deleted_docs"):
            raise ValueError(
                "max_docs_per_segment on a TOMBSTONED index is unsound: "
                "a truncated posting list can no longer guarantee "
                "max_docs live higher-pre matches above the cut — "
                "compact_index() first (or pass unsafe_quota=True)"
            )

    def _check_attr_col(self, col: str, what: str) -> None:
        attrs = self.stats.get("attr_cols") or []
        if col not in attrs:
            raise ValueError(
                f"{what} {col!r} is not an attr column of this index "
                f"(attr_cols={attrs}); rebuild with attr_cols=[...] to "
                "use it"
            )

    def _check_goggle(self, clauses: list[dict], site_col: str | None) -> None:
        """Lowered goggle programs: site instructions ride attr postings,
        pattern instructions run over stored positions."""
        if site_col is not None:
            self._check_attr_col(site_col, "site_col")
        if any(cl.get("pattern_terms") for cl in clauses):
            self._need_positions("pattern instructions need")

    def _to_orig_ids(self, top: DataFrame) -> DataFrame:
        """Map internal (pre-score-ranked) doc ids of a top-k back to the
        original ids via the docmap — a broadcast join of the tiny top-k,
        or, for a driver-site top-k, a pyarrow read of the docmap rows
        with ``doc_id IN top`` into a local relation (no Spark job).
        Tie contract: the k-cut broke score ties on INTERNAL ids (= pre
        rank), so the emitted order is (score desc, pre desc, orig id
        asc); ordering by orig id alone would diverge from the oracle
        whenever rounded scores tie across different pre ranks."""
        from ..operators.wand import driver_frame

        pdf = driver_frame(top)
        if pdf is not None:
            try:
                return self._orig_ids_on_driver(pdf)
            except (OSError, pa.ArrowInvalid):
                pass  # unreadable on the driver: the Spark join below
        return (
            F.broadcast(top)
            .join(
                self.docmap.select("doc_id", "orig_id", "pre_score"),
                "doc_id",
            )
            .select(
                F.col("orig_id").alias("doc_id"), "score",
                F.col("pre_score").alias("_pre"),
            )
            .orderBy(F.desc("score"), F.desc("_pre"), F.asc("doc_id"))
            .drop("_pre")
        )

    def _orig_ids_on_driver(self, top: pd.DataFrame) -> DataFrame:
        """:meth:`_to_orig_ids` of a driver-site top-k: the same inner
        join and tie order, in pandas over the docmap rows pyarrow reads
        with ``doc_id IN top``."""
        from ..operators.wand import _TOP_ARROW, local_result
        from ..streaming.ingest import read_docmap

        m = read_docmap(
            self._root, self.stats, "doc_id", top["doc_id"].to_numpy()
        ).merge(top[["doc_id", "score"]], on="doc_id")
        m = m.iloc[np.lexsort((m["orig_id"].to_numpy(),
                               -m["pre_score"].to_numpy(),
                               -m["score"].to_numpy()))]
        return local_result(self.spark, pd.DataFrame({
            "doc_id": m["orig_id"].to_numpy(), "score": m["score"].to_numpy(),
        }), _TOP_ARROW)

    # -------------------------------------------------------- collectors

    def search_list(
        self,
        query: str,
        k: int = 10,
        mode: str = "must",
        phrase: bool = False,
        offset: int = 0,
        max_docs_per_segment: int | None = None,
        unsafe_quota: bool = False,
        with_pre_score: bool = False,
        orig_ids: bool = False,
    ):
        """:meth:`search` collected to ``[(doc_id, score)]``, sliced to
        the requested page."""
        from ..operators.collector import page

        rows = [
            (r["doc_id"], r["score"])
            for r in self.search(
                query, k, mode, phrase=phrase, offset=offset,
                max_docs_per_segment=max_docs_per_segment,
                unsafe_quota=unsafe_quota, with_pre_score=with_pre_score,
                orig_ids=orig_ids,
            ).collect()
        ]
        return page(rows, k, offset)

    def search_diverse(
        self,
        query: str,
        k: int = 10,
        mode: str = "must",
        key_fns=None,
        scales=None,
        overfetch: int = 3,
    ):
        """Top-k with result-diversity re-ranking (collector.rs:247-343):
        collect overfetch×k candidates, apply the multiplicative same-key
        penalty on the driver.  Default key: segment (our repo-range
        analogue of the site hash)."""
        from ..operators.collector import DEFAULT_SCALES, rerank_diverse

        dps = self.stats["docs_per_segment"]
        key_fns = key_fns or [lambda d: d // dps]
        scales = scales or DEFAULT_SCALES[: len(key_fns)]
        rows = [
            (r["doc_id"], r["score"])
            for r in self.search(query, k * overfetch, mode).collect()
        ]
        return rerank_diverse(rows, key_fns, scales, k)

    def search_corrected(
        self, query: str, k: int = 10, mode: str = "must",
        dict_size: int = 100_000,
    ):
        """Search; if the result set is empty, spell-correct the query
        terms against the term dictionary (:meth:`spell_checker`) and
        retry with the query's exclusions and filters kept (the reference
        surfaces the corrected query alongside results).  Returns
        (rows, corrected_query | None)."""
        rows = self.search_list(query, k=k, mode=mode)
        if rows:
            return rows, None
        from ..functions.query_parse import parse_query

        pq = parse_query(query, self.analyzer)
        suggestion = self.spell_checker(dict_size).suggest_query(pq.uniq_terms)
        if not suggestion:
            return rows, None
        corrected = _rebuild_query(suggestion, pq)
        return self.search_list(corrected, k=k, mode=mode), corrected


class SegmentIndex(IndexHandle):
    """Query handle over a persisted single-field index directory — a
    ``build_index_fused`` output, or any merge or compaction of one."""

    NORMS_SPLIT = UNIFIED_NORMS

    def search(
        self,
        query: str,
        k: int = 10,
        mode: str = "must",
        phrase: bool = False,
        offset: int = 0,
        max_docs_per_segment: int | None = None,
        with_pre_score: bool = False,
        orig_ids: bool = False,
        unsafe_quota: bool = False,
    ) -> DataFrame:
        """Top-(k+offset) DataFrame; paging slices on the driver
        (reference: top_n = page_size + offset, collector.rs:145-157).

        ``with_pre_score`` (presorted indexes): rank by pre_computed_score
        + bm25 — the reference's production scoring, and the mode in which
        the ``max_docs_per_segment`` quota is sound (truncation keeps the
        highest-pre docs of every posting list).  On a NON-presorted
        (doc-id-ordered) index the quota truncates arbitrary docs — an
        unsound cut — so it raises unless ``unsafe_quota=True`` explicitly
        opts into approximate results.  ``orig_ids``: map internal
        (pre-score-ranked) doc ids back to the original ids via
        docmap.parquet — a broadcast join of the tiny top-k against the
        map; ties on rounded scores keep the internal pre-rank order
        (score desc, pre desc, orig id asc — the documented oracle
        contract)."""
        from ..functions.query_parse import parse_query
        from ..operators.wand import wand_topk

        self._check_options(
            phrase, with_pre_score or orig_ids, max_docs_per_segment,
            unsafe_quota,
        )
        memo_key = (
            query, k, mode, phrase, offset, max_docs_per_segment,
            with_pre_score, orig_ids,
        )
        cached_plan = self._plan_memo.get(memo_key)
        if cached_plan is not None:
            return cached_plan
        pq = parse_query(query, self.analyzer, phrase=phrase)
        tdf = self.term_df(pq.all_match_terms)
        top = wand_topk(
            self.segments, self.norms, pq,
            self.stats["num_docs"], self.stats["avgdl"], tdf,
            k=k + offset, mode=mode, analyzer=self.analyzer,
            max_docs_per_segment=max_docs_per_segment,
            add_pre=with_pre_score, driver=self.driver,
        )
        return self._memoize(memo_key, top, orig_ids)

    def search_batch(
        self,
        queries: list[tuple[str, str, str]],
        k: int = 10,
    ) -> DataFrame:
        """Evaluate a BATCH of (query_id, query, mode) triples in one
        pass over the index → (query_id, doc_id, score), per-query
        top-k, identical to per-query :meth:`search`.  One pruned scan +
        one cogroup amortizes the per-job cost across the batch — the
        throughput shape for offline query workloads (relevance
        harvesting, eval sets, training-data mining).  Per segment,
        grouping the blocks by term costs O(union terms) once, then each
        query pays only its own scoring, then the per-query top-k cut
        (see ``operators.wand.wand_topk_batch``).  A batch whose summed
        scan estimate is small scores on the driver and returns a local
        relation; results are never memoized."""
        from ..functions.query_parse import parse_query
        from ..operators.wand import wand_topk_batch

        parsed = [
            (qid, parse_query(q, self.analyzer), mode)
            for qid, q, mode in queries
        ]
        union_terms = sorted({
            t for _, pq, _ in parsed for t in pq.all_match_terms
        })
        tdf = self.term_df(union_terms)
        return wand_topk_batch(
            self.segments, self.norms,
            [(qid, pq, mode) for qid, pq, mode in parsed],
            self.stats["num_docs"], self.stats["avgdl"], tdf,
            k=k, analyzer=self.analyzer, driver=self.driver,
        )

    def search_with_metrics(
        self,
        query: str,
        k: int = 10,
        mode: str = "must",
        phrase: bool = False,
        with_pre_score: bool = False,
        max_docs_per_segment: int | None = None,
        unsafe_quota: bool = False,
    ) -> tuple[list[tuple[int, float]], dict]:
        """Top-k (same results as :meth:`search`, internal ids) plus the
        measured pruning win: ``{"blocks_decoded", "blocks_total"}``
        summed over segments — the tf blocks the block-max/leapfrog
        kernels actually touched vs the query terms' full posting blocks.
        The bench records decoded/total per headline query so the pruning
        claim is a measured number, not a pytest-only assertion."""
        from ..functions.query_parse import parse_query
        from ..operators.wand import wand_topk

        self._check_options(
            phrase, with_pre_score, max_docs_per_segment, unsafe_quota
        )
        pq = parse_query(query, self.analyzer, phrase=phrase)
        tdf = self.term_df(pq.all_match_terms)
        return wand_topk(
            self.segments, self.norms, pq,
            self.stats["num_docs"], self.stats["avgdl"], tdf,
            k=k, mode=mode, analyzer=self.analyzer,
            max_docs_per_segment=max_docs_per_segment,
            add_pre=with_pre_score, with_metrics=True, driver=self.driver,
        )

    def search_goggle(
        self,
        query: str,
        goggle,
        k: int = 10,
        mode: str = "must",
        site_col: str | None = None,
    ) -> DataFrame:
        """Top-k with a goggle program LOWERED INTO THE QUERY TREE
        (reference goggles/mod.rs:166-260): site-only discards become
        MustNot attr terms, boosts/downranks/pattern-discards become const
        clauses the per-segment kernel evaluates over the persisted index
        (attr-term posting lookups + pattern-automaton runs over stored
        positions).  The collector sees final scores, so there is no uncut
        base, no corpus text scan, and no driver-side match sets.

        ``site_col`` must be one of the index's ``attr_cols``; pattern
        instructions need an index built with ``positions=True``."""
        from ..functions.query_parse import parse_query
        from ..operators.goggles import lower_goggle
        from ..operators.wand import wand_topk

        clauses, neg_site, coeff, has_empty_discard = lower_goggle(
            goggle, self.analyzer, site_col
        )
        self._check_goggle(clauses, site_col)
        pq = parse_query(query, self.analyzer)
        tdf = self.term_df(pq.all_match_terms)
        return wand_topk(
            self.segments, self.norms, pq,
            self.stats["num_docs"], self.stats["avgdl"], tdf,
            k=k, mode=mode, analyzer=self.analyzer,
            const_clauses=clauses, has_empty_discard=has_empty_discard,
            score_coeff=coeff, extra_neg_terms=neg_site, driver=self.driver,
        )

    def search_with_count(
        self, query: str, k: int = 10, mode: str = "must"
    ) -> tuple[list[tuple[int, float]], int]:
        """(top-k rows, exact total match count) in one distributed pass
        (reference count-alongside-top-k, collector.rs)."""
        from ..functions.query_parse import parse_query
        from ..operators.wand import wand_topk_count

        pq = parse_query(query, self.analyzer)
        tdf = self.term_df(pq.all_match_terms)
        return wand_topk_count(
            self.segments, self.norms, pq, self.stats["num_docs"],
            self.stats["avgdl"], tdf, k=k, mode=mode, analyzer=self.analyzer,
            driver=self.driver,
        )

    def facet_counts(
        self, query: str, facet_field: str, mode: str = "must"
    ):
        """Per-``facet_field`` doc counts over the FULL match set (the
        sidebar aggregation) — index-side, no doc collection; the field
        must be one of the index's ``attr_cols`` (its values ride as
        identity attr postings).  → DataFrame (facet_value,
        match_count)."""
        from ..operators.wand import wand_facet_counts

        self._check_attr_col(facet_field, "facet_counts:")
        return wand_facet_counts(
            self.segments, query, facet_field, mode=mode,
            analyzer=self.analyzer,
        )

    def search_proximity(self, query: str, k: int = 10, mode: str = "must"):
        """Single-phase proximity retrieval: the (boost, slop) ladder is
        scored as Should clauses INSIDE the per-segment kernel, before
        the top-k cut — exact reference semantics (query/mod.rs:45-93;
        r4 VERDICT #3: the former two-phase overfetch rescoring could
        miss a doc whose base rank fell outside the overfetch window).
        Requires a positions=True index."""
        from ..functions.query_parse import parse_query
        from ..operators.wand import PROXIMITY_LADDER, wand_topk

        self._need_positions("proximity needs")
        pq = parse_query(query, self.analyzer)
        tdf = self.term_df(pq.all_match_terms)
        rows = wand_topk(
            self.segments, self.norms, pq, self.stats["num_docs"],
            self.stats["avgdl"], tdf, k=k, mode=mode,
            analyzer=self.analyzer, ladder=PROXIMITY_LADDER,
            driver=self.driver,
        ).collect()
        return [(r["doc_id"], r["score"]) for r in rows]

    def search_split(
        self, query: str, k: int = 10, mode: str = "must",
        dict_size: int = 100_000,
    ):
        """Zero-result query → compound-split retry (reference
        src/spell/splitter.rs:26): each term unknown to the term
        dictionary is split into the most probable known pair (the
        balanced split maximizing the smaller document count), and the
        rewritten query is retried — "mergesort" → "merge sort".
        Returns (rows, corrected_query | None), the same surface as
        :meth:`search_corrected`."""
        rows = self.search_list(query, k=k, mode=mode)
        if rows:
            return rows, None
        from ..functions.query_parse import parse_query

        pq = parse_query(query, self.analyzer)
        sp = self.spell_checker(dict_size)
        changed = False
        out_terms: list[str] = []
        for t in pq.pos_terms:
            parts = sp.split_compound(t)
            if parts:
                out_terms.extend(parts)
                changed = True
            else:
                out_terms.append(t)
        if not changed:
            return rows, None
        corrected = _rebuild_query(out_terms, pq)
        return self.search_list(corrected, k=k, mode=mode), corrected

    def spell_checker(self, dict_size: int = 100_000):
        """Broadcastable top-N term dictionary → SpellChecker
        (reference src/spell/dictionary.rs:135-149)."""
        from ..functions.spell import SpellChecker

        rows = (
            self.term_stats.filter(~F.col("term").startswith("\x00"))
            .filter(~F.col("term").startswith("\x01"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(dict_size)
            .collect()
        )
        return SpellChecker({r["term"]: r["df"] for r in rows}, dict_size)
