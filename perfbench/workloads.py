"""The benchmark's workloads, each a closed loop with one client.

* ``search``: interactive ranked retrieval over a presorted single-field
  index (pre + bm25) and a multi-field (path + content) index: a stream
  of distinct queries, so per-query fixed cost (parse, term_df, plan,
  Spark dispatch) is on the clock.  At 8192 docs that fixed cost sets
  the latency; block-max pruning skips 20-30% of the single-field
  blocks and none of the multi-field ones.
* ``batch_ingest``: offline scoring on the doc-id-ordered index while it
  takes writes: the fused build (in set-up), then micro-batches of
  ``delete_docs``, each followed by a reopen + ``cache()`` and two
  ``search_batch`` calls of 32 distinct queries; in the traced run then
  ``compact_index``, a reopen and one more batch.  Plan and dispatch
  cost are amortised over the batch (at 8192 docs a 4-query batch
  executes in ~0.4 s, a 32-query one in ~1.5 s), so per-query scoring
  and Arrow serde set most of the read time, and deletes and reopen are
  on the clock beside it.

Every call into an engine layer is wrapped in a span (see ``spans.py``);
with tracing off the spans cost nothing.  Layers the benchmark can only
split from the outside (parse and term_df inside ``search()``) are
called separately in the traced run, which is part of the measured
tracing overhead.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
import traceback
from contextlib import contextmanager

from corpus import ANALYZER, Corpus, pre_f32
from gate import ladder_expected, mf_oracle_for, oracle_for, ranked, same
from queries import MF_CLASSES, SF_CLASSES, Query, QueryGen
from spans import Tracer, median

K = 10
DOCS_PER_SEGMENT = 4096
BATCH_QUERIES = 32
BATCH_CLASSES = ["rare_or", "and2", "and3", "or4"]
DELETE_BATCH = 64
# five delete cycles of two search_batch calls give five visibility
# samples and ten batch latencies, so p90 is not just the maximum
MIN_DELETE_CYCLES = 5
BATCHES_PER_CYCLE = 2
# per-query pruning counts need search_with_metrics, which builds a fresh
# plan: it runs only in the traced run, after the timed phase
METRIC_SAMPLE = 6
FLOOR_REPS = 5
GATE_SAMPLE = 12


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Bench:
    """State shared by the set-up, timed phase, traced extras and gate of
    one run."""

    def __init__(self, spark, tracer: Tracer, corpus: Corpus, work: str,
                 seed: int, seconds: float) -> None:
        self.spark = spark
        self.tr = tracer
        self.corpus = corpus
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.docs = spark.read.parquet(corpus.path)
        self.gen = QueryGen(seed, corpus.dfs, len(corpus),
                            sorted({r["site"] for r in corpus.rows}))
        # end-to-end samples
        self.latency_s: list[float] = []
        self.answered = 0
        self.rep_setup_s: list[float] = []
        self.built_docs = 0
        self.build_s = 0.0
        self.rep_bytes_ratio: list[float] = []
        self.visible_s: list[float] = []
        # per-layer values that are not span durations
        self.layer: dict[str, float] = {}
        self.stage_s: dict[str, list[float]] = {}
        # (label, query, got) collected in the timed phase for the gate
        self.results: list[tuple[str, Query, list]] = []
        self.qlog: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._seen_plans: dict[int, object] = {}
        self.memo_calls = 0
        self.memo_hits = 0
        self.groups: list[tuple[str, bool]] = []
        self.timed = (0.0, 0.0)
        # batch_ingest: the index that takes the writes, the live doc ids,
        # and per read label the ids deleted before that read
        self.index_dir = ""
        self.live: set[int] = set()
        self.deleted: dict[str, set[int]] = {}
        self.batch_stream = iter(())

    # ------------------------------------------------------------ helpers
    def op(self, fn, *args, **kwargs):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed operation is a result
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=4))
            return None

    @contextmanager
    def request(self, name: str, query: bool):
        """A root span; in the traced run also a Spark job group, so the
        jobs and stages of each query can be counted afterwards."""
        sc = self.spark.sparkContext
        if self.tr.enabled:
            gid = f"g{len(self.groups)}"
            self.groups.append((gid, query))
            sc.setJobGroup(gid, name)
        try:
            with self.tr.request(name):
                yield
        finally:
            if self.tr.enabled:
                sc.setJobGroup("untracked", "untracked")

    def _memo(self, df) -> None:
        self.memo_calls += 1
        if id(df) in self._seen_plans:
            self.memo_hits += 1
        self._seen_plans[id(df)] = df

    def _read_done(self, label: str, q: Query, rows, t0: float,
                   timed: bool = True) -> list:
        dt = time.perf_counter() - t0
        got = [(int(r[0]), float(r[1])) for r in rows]
        self.results.append((label, q, got))
        self.qlog.append({**q.log(), "label": label, "ms": dt * 1e3})
        if timed:
            self.latency_s.append(dt)
            self.answered += 1
        return got

    # --------------------------------------------------------- read paths
    def sf_search(self, h, q: Query, label: str, pre: bool, timed=True):
        from stractt_spark.functions.query_parse import parse_query

        tr = self.tr
        with self.request("request.search", timed):
            t0 = time.perf_counter()
            if tr.enabled:
                with tr.span("query_parse.parse"):
                    pq = parse_query(q.text, ANALYZER)
                with tr.span("handle.term_df"):
                    h.term_df(pq.all_match_terms)
            with tr.span("handle.plan"):
                df = h.search(q.text, k=K, mode=q.mode, with_pre_score=pre)
            self._memo(df)
            with tr.span("wand.execute"):
                rows = df.collect()
            return self._read_done(label, q, rows, t0, timed)

    def mf_search(self, h, q: Query, label: str, timed=True):
        from stractt_spark.functions.query_parse import parse_query
        from stractt_spark.operators.multifield import mf_term

        tr = self.tr
        with self.request("request.search", timed):
            t0 = time.perf_counter()
            if tr.enabled:
                with tr.span("query_parse.parse"):
                    pq = parse_query(q.text, ANALYZER)
                with tr.span("handle.term_df"):
                    h.term_df([mf_term(f_, t) for t in pq.uniq_terms
                               for f_ in sorted(h.fields)])
            if q.cls == "mf_ladder":
                with tr.span("multifield.ladder"):
                    rows = h.search_proximity(q.text, k=K, mode=q.mode)
            else:
                with tr.span("multifield.plan"):
                    if q.goggle:
                        df = h.search_goggle(q.text, q.goggle, k=K,
                                             mode=q.mode, site_col="site")
                    else:
                        df = h.search(q.text, k=K, mode=q.mode)
                        self._memo(df)
                with tr.span("multifield.execute"):
                    rows = df.collect()
            return self._read_done(label, q, rows, t0, timed)

    def batch_search(self, h, qs: list[Query], label: str,
                     timed: bool = True) -> list[list]:
        from stractt_spark.functions.query_parse import parse_query

        tr = self.tr
        with self.request("request.batch", True):
            t0 = time.perf_counter()
            if tr.enabled:
                with tr.span("query_parse.parse"):
                    pqs = [parse_query(q.text, ANALYZER) for q in qs]
                with tr.span("handle.term_df"):
                    h.term_df(sorted({t for pq in pqs for t in pq.all_match_terms}))
            with tr.span("wand.batch_plan"):
                df = h.search_batch(
                    [(f"q{i:03d}", q.text, q.mode) for i, q in enumerate(qs)], k=K
                )
            with tr.span("wand.batch_execute"):
                rows = df.collect()
            dt = time.perf_counter() - t0
        if timed:
            self.latency_s.append(dt)
            self.answered += len(qs)
        per_q: dict[int, list] = {i: [] for i in range(len(qs))}
        for r in rows:
            per_q[int(r["query_id"][1:])].append((int(r["doc_id"]), float(r["score"])))
        out = []
        for i, q in enumerate(qs):
            got = ranked(per_q[i], K)
            self.results.append((label, q, got))
            self.qlog.append({**q.log(), "label": label, "ms": dt * 1e3})
            out.append(got)
        return out

    # ------------------------------------------------------- write paths
    def build(self, out: str, multifield: bool, presorted: bool) -> float:
        from stractt_spark.operators.multifield import build_index_fused_multifield
        from stractt_spark.plans.build import build_index_fused

        pre = self.docs.select("doc_id", "pre_score") if presorted else None
        with self.tr.span("build.wall"):
            t0 = time.perf_counter()
            if multifield:
                build_index_fused_multifield(
                    self.spark, self.docs, out,
                    {"path": "path", "content": "content"},
                    analyzer=ANALYZER, docs_per_segment=DOCS_PER_SEGMENT,
                    positions=True, attr_cols=["site"], pre_scores=pre,
                )
            else:
                build_index_fused(
                    self.spark, self.docs, out, analyzer=ANALYZER,
                    docs_per_segment=DOCS_PER_SEGMENT, pre_scores=pre,
                )
            dt = time.perf_counter() - t0
        manifest = os.path.join(out, "_manifest.json")
        if os.path.exists(manifest):
            with open(manifest) as f:
                for name, st in json.load(f)["stages"].items():
                    self.stage_s.setdefault(name, []).append(st["elapsed_sec"])
        return dt

    def open(self, cls, path: str):
        with self.tr.span("handle.open"):
            h = cls(self.spark, path)
        with self.tr.span("handle.cache"):
            h.cache()
        return h

    @staticmethod
    def release(h) -> None:
        if h is not None:
            h.segments.unpersist()
            h.norms.unpersist()

    def run_setup(self, reps: int, one_rep) -> object:
        """Set up ``reps`` times into fresh directories; keep the handles
        of the last repetition."""
        handles = None
        for r in range(reps):
            old = handles
            handles = one_rep(os.path.join(self.work, f"rep{r}"))
            if old is not None:
                for h in old.values():
                    self.release(h)
                shutil.rmtree(os.path.join(self.work, f"rep{r - 1}"), ignore_errors=True)
        return handles

    def setup_sample(self, t_setup: float, n_docs: int, t_build: float,
                     index_bytes: int, input_bytes: int,
                     t_visible: float | None = None) -> None:
        self.rep_setup_s.append(t_setup)
        self.built_docs += n_docs
        self.build_s += t_build
        self.rep_bytes_ratio.append(index_bytes / input_bytes)
        if t_visible is not None:
            self.visible_s.append(t_visible)

    # ---------------------------------------------------------- timed
    def timed_loop(self, step) -> None:
        """Call ``step`` until ``seconds`` have passed (``step`` returns
        False to ask for more calls even after that)."""
        t0 = time.perf_counter()
        n = 0
        while True:
            more = step(n)
            n += 1
            if time.perf_counter() - t0 >= self.seconds and not more:
                break
        self.timed = (t0, time.perf_counter())

    # --------------------------------------------------- traced extras
    def dispatch_floor(self, h) -> None:
        """No-op cogroup ``applyInPandas`` over the handle's cached
        segments/norms: the fixed cost of one Spark Python-UDF job.  Each
        repetition filters on another term so no plan is reused."""
        import pandas as pd
        from pyspark.sql import functions as F

        def noop(key, a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame({"segment_id": pd.Series([], dtype="int32")})

        terms = sorted(self.corpus.dfs["content"])[:FLOOR_REPS]
        times = []
        for t in terms:
            t0 = time.perf_counter()
            (h.segments.filter(F.col("term") == t).groupBy("segment_id")
             .cogroup(h.norms.groupBy("segment_id"))
             .applyInPandas(noop, "segment_id int").collect())
            times.append(time.perf_counter() - t0)
        self.layer["spark.dispatch_floor_ms"] = median(times) * 1e3

    def pruning(self, h, qs: list[Query], prefix: str, pre: bool,
                multifield: bool) -> None:
        dec = tot = 0
        for q in qs:
            if multifield:
                _, m = h.search(q.text, k=K, mode=q.mode, with_metrics=True)
            else:
                _, m = h.search_with_metrics(q.text, k=K, mode=q.mode,
                                             with_pre_score=pre)
            dec += m["blocks_decoded"]
            tot += m["blocks_total"]
        self.layer[f"{prefix}.blocks_decoded"] = dec
        self.layer[f"{prefix}.blocks_total"] = tot
        self.layer[f"{prefix}.decoded_frac"] = dec / tot if tot else 0.0

    def jobs_and_stages(self) -> None:
        st = self.spark.sparkContext.statusTracker()
        jobs, stages = [], []
        for g, query in self.groups:
            if not query:
                continue
            ids = st.getJobIdsForGroup(g)
            jobs.append(len(ids))
            stages.append(sum(len(st.getJobInfo(j).stageIds) for j in ids
                              if st.getJobInfo(j) is not None))
        if jobs:
            self.layer["spark.jobs_per_query"] = median(jobs)
            self.layer["spark.stages_per_query"] = median(stages)

    # ------------------------------------------------------------- gate
    def check(self, label: str, q: Query, got, want) -> None:
        """A gate check counts as one more attempted operation."""
        self.attempted += 1
        diff = same(got, want)
        if diff is not None:
            self.failed += 1
            self.errors.append(f"wrong result [{label}] {q.cls} {q.text!r}: {diff}")

    def sample(self, items: list, n: int) -> list:
        rng = random.Random(self.seed * 7919 + 1)
        return items if len(items) <= n else rng.sample(items, n)


# ====================================================================
# search
# ====================================================================

def search_setup(b: Bench, reps: int):
    from stractt_spark.operators.multifield import MultiFieldSegmentIndex
    from stractt_spark.plans.build import SegmentIndex

    c = b.corpus
    content_bytes = sum(len(r["content"]) for r in c.rows)

    def one_rep(d: str):
        t0 = time.perf_counter()
        t_sf = b.build(f"{d}/sf", multifield=False, presorted=True)
        sf = b.open(SegmentIndex, f"{d}/sf")
        t_sf_ready = time.perf_counter() - t0
        b.sf_search(sf, b.gen.draw("common"), "probe.sf", pre=True, timed=False)
        t_probe = time.perf_counter()
        t_mf = b.build(f"{d}/mf", multifield=True, presorted=False)
        mf = b.open(MultiFieldSegmentIndex, f"{d}/mf")
        t_setup = t_sf_ready + time.perf_counter() - t_probe
        b.mf_search(mf, b.gen.draw("mf_or"), "probe.mf", timed=False)
        b.setup_sample(
            t_setup, 2 * len(c), t_sf + t_mf,
            du(f"{d}/sf/index.parquet") + du(f"{d}/mf/index.parquet"),
            content_bytes + c.input_bytes, time.perf_counter() - t0,
        )
        b.layer["build.segments"] = -(-len(c) // DOCS_PER_SEGMENT)
        b.layer["build.index_bytes"] = du(f"{d}/sf") + du(f"{d}/mf")
        return {"sf": sf, "mf": mf}

    return b.run_setup(reps, one_rep)


def search_timed(b: Bench, h: dict) -> None:
    classes = SF_CLASSES + MF_CLASSES
    stream = b.gen.cycle(classes)

    def one(label: str, timed: bool) -> None:
        q = next(stream)
        if q.kind == "sf":
            b.op(b.sf_search, h["sf"], q, label, True, timed)
        else:
            b.op(b.mf_search, h["mf"], q, label, timed)

    # one untimed rotation first: the first call of each query shape in a
    # fresh JVM pays code generation and Python-worker warm-up once
    for _ in classes:
        one("warmup", False)

    def step(i: int) -> bool:
        one("timed", True)
        # finish the class rotation so every run has the same mix
        return (i + 1) % len(classes) != 0

    b.timed_loop(step)


def search_traced(b: Bench, h: dict) -> None:
    b.dispatch_floor(h["sf"])
    sf_q = [q for _, q, _ in b.results if q.kind == "sf"][:METRIC_SAMPLE]
    mf_q = [q for _, q, _ in b.results if q.cls == "mf_or"][:METRIC_SAMPLE]
    b.pruning(h["sf"], sf_q, "wand", pre=True, multifield=False)
    b.pruning(h["mf"], mf_q, "multifield", pre=False, multifield=True)


def search_gate(b: Bench, h: dict) -> None:
    c = b.corpus
    sf_res = b.sample([r for r in b.results if r[1].kind == "sf"], GATE_SAMPLE)
    mf_res = b.sample([r for r in b.results if r[1].kind == "mf"], GATE_SAMPLE)
    # presorted ids: rank by (pre desc, orig id asc)
    order = sorted(range(len(c)), key=lambda i: (-c.rows[i]["pre_score"], i))
    sf_terms = {t for _, q, _ in sf_res for t in q.terms}
    oracle = oracle_for({j: c.rows[o]["content"] for j, o in enumerate(order)}, sf_terms)
    pre = [pre_f32(o) for o in order]
    for label, q, got in sf_res:
        full = oracle.search(q.text, k=10**9, mode=q.mode)
        b.check(label, q, got, ranked([(d, s + pre[d]) for d, s in full], K))

    mf = h["mf"]
    mf_terms = {t for _, q, _ in mf_res for t in q.terms}
    rows = {r["doc_id"]: r for r in c.rows}
    mfo = mf_oracle_for(rows, sorted(mf.fields), mf.boosts, mf_terms)
    from stractt_spark.functions.goggles import SCALE, parse_goggle

    for label, q, got in mf_res:
        if q.cls == "mf_ladder":
            want = ladder_expected(
                mfo, {d: r["content"] for d, r in rows.items()}, q.terms,
                mf.boosts["content"], mf.avgdl["content"], q.text, q.mode, K,
            )
        elif q.goggle:
            inst = parse_goggle(q.goggle).instructions[0]
            want = ranked([
                (d, s + inst.value * SCALE if rows[d]["site"] == inst.site else s)
                for d, s in mfo.search(q.text, k=10**9, mode=q.mode)
            ], K)
        else:
            want = mfo.search(q.text, k=K, mode=q.mode)
        b.check(label, q, got, want)


# ====================================================================
# batch_ingest
# ====================================================================

def plain_setup(b: Bench, reps: int):
    from stractt_spark.plans.build import SegmentIndex

    c = b.corpus
    content_bytes = sum(len(r["content"]) for r in c.rows)

    def one_rep(d: str):
        t0 = time.perf_counter()
        t_build = b.build(f"{d}/plain", multifield=False, presorted=False)
        h = b.open(SegmentIndex, f"{d}/plain")
        t_setup = time.perf_counter() - t0
        # visible_p50_s here comes from the delete cycles only
        b.setup_sample(t_setup, len(c), t_build, du(f"{d}/plain/index.parquet"),
                       content_bytes)
        b.layer["build.segments"] = -(-len(c) // DOCS_PER_SEGMENT)
        b.layer["build.index_bytes"] = du(f"{d}/plain")
        b.index_dir = f"{d}/plain"
        return {"plain": h}

    return b.run_setup(reps, one_rep)


def reopen(b: Bench, h: dict, path: str) -> None:
    """Open and cache a fresh handle on ``path`` in place of the old one."""
    from stractt_spark.plans.build import SegmentIndex

    with b.tr.span("ingest.reopen"):
        new = b.op(b.open, SegmentIndex, path)
    b.release(h["plain"])
    h["plain"] = new


def batch_ingest_timed(b: Bench, h: dict) -> None:
    """Delete micro-batches, each followed by reopen + cache() and
    BATCHES_PER_CYCLE search_batch calls (the first one ends the
    visibility sample)."""
    from stractt_spark.operators.deletes import delete_docs

    rng = random.Random(b.seed * 104729 + 3)
    live = b.live = set(range(len(b.corpus)))
    stream = b.batch_stream = b.gen.cycle(BATCH_CLASSES)
    last_hits: list[int] = []

    def cycle(i: int) -> bool:
        # half the ids come from the last results, so deletes change them
        hits = sorted(set(last_hits))
        ids = set(rng.sample(hits, min(len(hits), DELETE_BATCH // 2)))
        ids |= set(rng.sample(sorted(live - ids), DELETE_BATCH - len(ids)))
        with b.request("request.ingest", False):
            t0 = time.perf_counter()
            with b.tr.span("deletes.delete"):
                n = b.op(delete_docs, b.spark, b.index_dir, sorted(ids))
            b.layer["deletes.tombstones"] = b.layer.get("deletes.tombstones", 0) + (n or 0)
            if n is not None and n != len(ids):
                b.failed += 1
                b.errors.append(f"delete_docs tombstoned {n} of {len(ids)} ids")
            live.difference_update(ids)
            b.deleted[f"del{i}"] = set(range(len(b.corpus))) - live
            reopen(b, h, b.index_dir)
            got = b.op(b.batch_search, h["plain"],
                       [next(stream) for _ in range(BATCH_QUERIES)], f"del{i}")
            b.visible_s.append(time.perf_counter() - t0)
        last_hits[:] = [d for res in got or [] for d, _ in res]
        for _ in range(BATCHES_PER_CYCLE - 1):
            b.op(b.batch_search, h["plain"],
                 [next(stream) for _ in range(BATCH_QUERIES)], f"del{i}")
        return i + 1 < MIN_DELETE_CYCLES

    # one untimed batch first: the first search_batch in a fresh JVM pays
    # code generation and Python-worker warm-up once
    b.deleted["warmup"] = set()
    b.batch_search(h["plain"], [next(stream) for _ in range(BATCH_QUERIES)],
                   "warmup", timed=False)
    b.timed_loop(cycle)


def batch_ingest_traced(b: Bench, h: dict) -> None:
    """Dispatch floor; compaction, reopen and one batch on the compacted
    index; pruning counts for that batch's queries.  Compaction feeds only
    per-layer metrics, so it runs here and keeps the untimed run short."""
    from stractt_spark.operators.deletes import compact_index

    b.dispatch_floor(h["plain"])
    out = os.path.join(b.work, "compacted")
    with b.request("request.compact", False):
        t0 = time.perf_counter()
        with b.tr.span("merge.compact"):
            b.op(compact_index, b.spark, b.index_dir, out)
        t_compact = time.perf_counter() - t0
        reopen(b, h, out)
        b.op(b.batch_search, h["plain"],
             [next(b.batch_stream) for _ in range(BATCH_QUERIES)], "compacted",
             timed=False)
    b.layer["merge.compact_s"] = t_compact
    b.layer["merge.compact_docs_per_s"] = len(b.live) / t_compact
    b.layer["merge.bytes_rewritten"] = du(out)
    qs = [q for label, q, _ in b.results if label == "compacted"][:METRIC_SAMPLE]
    b.pruning(h["plain"], qs, "wand", pre=False, multifield=False)


def batch_ingest_gate(b: Bench, h: dict) -> None:
    c = b.corpus
    compacted = [r for r in b.results if r[0] == "compacted"]
    res = b.sample([r for r in b.results if r[0].startswith("del")], GATE_SAMPLE)
    res += b.sample(compacted, GATE_SAMPLE // 3)
    terms = {t for _, q, _ in res for t in q.terms}
    texts = {r["doc_id"]: r["content"] for r in c.rows}
    # until compaction global stats keep the deleted docs (tombstones only
    # mask them); compaction recomputes them over the live docs
    stale = oracle_for(texts, terms)
    fresh = oracle_for({d: t for d, t in texts.items() if d in b.live}, terms)
    for label, q, got in res:
        if label == "compacted":
            want = fresh.search(q.text, k=K, mode=q.mode)
        else:
            gone = b.deleted[label]
            want = [(d, s) for d, s in stale.search(q.text, k=10**9, mode=q.mode)
                    if d not in gone][:K]
        b.check(label, q, got, want)
    # search_batch must equal per-query search on the handle that answered
    # the last batch (fresh plans: these texts were never searched one by
    # one on it)
    last = b.results[-1][0]
    final = [r for r in b.results if r[0] == last]
    for label, q, got in b.sample(final, 4):
        rows = h["plain"].search(q.text, k=K, mode=q.mode).collect()
        b.check("batch-vs-search", q, got, [(int(r[0]), float(r[1])) for r in rows])


WORKLOADS = {
    "search": (search_setup, search_timed, search_traced, search_gate),
    "batch_ingest": (plain_setup, batch_ingest_timed, batch_ingest_traced,
                     batch_ingest_gate),
}
