"""stractt_spark benchmark: one command, two workloads, seeded inputs.

    python3 perfbench/run.py --workload search|batch_ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer metrics (taken from spans the benchmark
records around each call into an engine layer).  Lines before it are a
human-readable report.  Everything the run writes stays under
``perfbench/.cache`` (generated corpora) and ``perfbench/.work``.
See ``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import contextlib
import faulthandler
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_DOCS = 8192
# set-ups per run (setup_s takes their median), kept to two so a run stays
# under a minute
SETUP_REPS = {"search": 2, "batch_ingest": 2}
# a run that hangs dumps every thread's stack to stderr and exits non-zero
# (the JVM exits when its stdin closes), well inside the 180 s limit
WATCHDOG_S = 170

E2E = {
    "setup_s": "s", "query_p50_ms": "ms", "query_p90_ms": "ms",
    "queries_per_s": "1/s", "visible_p50_s": "s", "index_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}
# per-layer metric -> (span name, scale to its unit).  Query-path spans
# count only inside the timed phase (set-up probe queries are excluded);
# the others count over the whole run.
SPAN_METRICS = {
    "query_parse.parse_ms": ("query_parse.parse", 1e3),
    "handle.term_df_ms": ("handle.term_df", 1e3),
    "handle.plan_ms": ("handle.plan", 1e3),
    "wand.execute_ms": ("wand.execute", 1e3),
    "wand.batch_plan_s": ("wand.batch_plan", 1.0),
    "wand.batch_execute_s": ("wand.batch_execute", 1.0),
    "multifield.plan_ms": ("multifield.plan", 1e3),
    "multifield.execute_ms": ("multifield.execute", 1e3),
    "multifield.ladder_ms": ("multifield.ladder", 1e3),
}
RUN_SPAN_METRICS = {
    "handle.open_s": ("handle.open", 1.0),
    "handle.cache_s": ("handle.cache", 1.0),
    "build.wall_s": ("build.wall", 1.0),
    "ingest.reopen_s": ("ingest.reopen", 1.0),
    "deletes.delete_s": ("deletes.delete", 1.0),
}
BUILD_STAGES = ["docmap", "index", "term_stats", "stats"]


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "session.prewarm_s": "s"}
    units.update({m: ("ms" if m.endswith("_ms") else "s")
                  for m in {**SPAN_METRICS, **RUN_SPAN_METRICS}})
    units.update({f"build.stage.{s}_s": "s" for s in BUILD_STAGES})
    units.update({
        "handle.plan_memo_hit_frac": "frac",
        "spark.dispatch_floor_ms": "ms", "spark.jobs_per_query": "count",
        "spark.stages_per_query": "count", "wand.kernel_est_ms": "ms",
        "wand.batch_kernel_est_s": "s",
        "wand.blocks_decoded": "count", "wand.blocks_total": "count",
        "wand.decoded_frac": "frac", "multifield.decoded_frac": "frac",
        "build.docs_per_s": "1/s",
        "build.segments": "count", "build.index_bytes": "bytes",
        "deletes.tombstones": "count", "merge.compact_s": "s",
        "merge.compact_docs_per_s": "1/s", "merge.bytes_rewritten": "bytes",
        "trace.wall_s": "s", "trace.covered_frac": "frac",
        "trace.query_p50_ms": "ms",
    })
    return units


# ---------------------------------------------------------------- env
def pin_environment(work: str) -> int:
    """local[nproc], a Spark driver heap sized to the machine, PYTHONPATH for the
    Python workers (pandas UDFs import stractt_spark there) and every
    scratch directory inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(8, mem_kb // (1024 * 1024) // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH")] if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    return cpus


def _proc_status(pid: str) -> tuple[int, int, str] | None:
    """(parent pid, resident kB, start time) of a live process; None when
    it is gone or a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read().rsplit(")", 1)[1].split()
        with open(f"/proc/{pid}/status") as f:
            rss = next((ln.split()[1] for ln in f if ln.startswith("VmRSS:")), "0")
    except (OSError, IndexError):
        return None
    if stat[0] == "Z":
        return None
    return int(stat[1]), int(rss), stat[19]


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc.  Also
    remembers every descendant it saw, so they can be waited for."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self.seen: dict[int, str] = {}  # pid -> start time
        self._done = threading.Event()

    def sample(self) -> None:
        procs = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _proc_status(d)
                if st is not None:
                    procs[int(d)] = st
        mine = {os.getpid()}
        grew = True
        while grew:
            new = {p for p, st in procs.items() if st[0] in mine} - mine
            grew = bool(new)
            mine |= new
        self.peak_kb = max(self.peak_kb, sum(procs[p][1] for p in mine if p in procs))
        for p in mine - {os.getpid()}:
            self.seen[p] = procs[p][2]

    def run(self) -> None:
        while not self._done.is_set():
            self.sample()
            self._done.wait(self.interval)

    def stop(self) -> None:
        self._done.set()
        self.join()


def stop_spark(spark, seen: dict[int, str]) -> None:
    """Stop the session and its JVM, then wait for every process the run
    started (the Python workers outlive the JVM briefly)."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid, start in seen.items():
        while (st := _proc_status(str(pid))) is not None and st[2] == start:
            if time.time() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, 9)
                break
            time.sleep(0.05)


# ---------------------------------------------------------------- run
def start_session(workload: str, cpus: int, work: str):
    from stractt_spark.session import get_spark

    return get_spark(
        app_name=f"perfbench-{workload}", cpus=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def end_to_end(b, session_s: float, peak_kb: int) -> dict[str, float]:
    from spans import median, percentile

    lat = b.latency_s
    return {
        "setup_s": session_s + median(b.rep_setup_s),
        "query_p50_ms": median(lat) * 1e3,
        "query_p90_ms": percentile(lat, 0.9) * 1e3,
        "queries_per_s": b.answered / sum(lat) if lat else 0.0,
        "visible_p50_s": median(b.visible_s),
        "index_bytes_per_input_byte": median(b.rep_bytes_ratio),
        "peak_rss_mb": peak_kb / 1024,
    }


def per_layer(b, tracer, session: dict[str, float], query_p50_ms: float,
              self_times: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric; 0 for a layer the workload never called."""
    from spans import median

    lo, hi = b.timed
    layer = dict(session)
    for m, (span, scale) in SPAN_METRICS.items():
        layer[m] = median(tracer.durations(span, lo, hi)) * scale
    for m, (span, scale) in RUN_SPAN_METRICS.items():
        layer[m] = median(tracer.durations(span)) * scale
    for s in BUILD_STAGES:
        layer[f"build.stage.{s}_s"] = median(b.stage_s.get(s, []))
    layer["build.docs_per_s"] = b.built_docs / b.build_s
    layer["handle.plan_memo_hit_frac"] = (
        b.memo_hits / b.memo_calls if b.memo_calls else 0.0)
    layer.update(b.layer)
    if "spark.dispatch_floor_ms" in layer:
        floor_ms = layer["spark.dispatch_floor_ms"]
        layer["wand.kernel_est_ms"] = max(0.0, layer["wand.execute_ms"] - floor_ms)
        layer["wand.batch_kernel_est_s"] = max(
            0.0, layer["wand.batch_execute_s"] - floor_ms / 1e3)
    layer["trace.wall_s"] = hi - lo
    layer["trace.covered_frac"] = sum(
        t for name, t in self_times.items() if not name.startswith("request.")
    ) / (hi - lo)
    layer["trace.query_p50_ms"] = query_p50_ms
    return {m: float(layer.get(m, 0.0)) for m in per_layer_units()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SETUP_REPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    faulthandler.dump_traceback_later(WATCHDOG_S, exit=True)

    if not os.path.isdir(os.path.join(ROOT, "stractt_spark")):
        print(f"no stractt_spark package next to {HERE}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    logs = os.path.join(HERE, ".work", "logs")
    os.makedirs(logs, exist_ok=True)
    cpus = pin_environment(work)
    load_start = os.getloadavg()

    from corpus import Corpus
    from spans import Tracer
    from workloads import WORKLOADS, Bench

    corpus = Corpus(os.path.join(HERE, ".cache"), args.seed, N_DOCS)
    print(f"corpus: seed={args.seed} docs={len(corpus)} "
          f"{'cached' if corpus.cached else 'generated'} in {corpus.gen_s:.3f} s "
          "(not part of setup_s)")

    sampler = RssSampler()
    sampler.start()
    tracer = Tracer(bool(args.trace))
    setup, timed, traced, gate = WORKLOADS[args.workload]
    spark = None
    phases: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        spark = start_session(args.workload, cpus, work)
        t1 = time.perf_counter()
        # start the Python workers of every core before anything is timed
        spark.range(0, cpus * 4, 1, cpus).mapInPandas(lambda it: it, "id long").count()
        session = {"session.start_s": t1 - t0,
                   "session.prewarm_s": time.perf_counter() - t1}
        phases["session"] = time.perf_counter() - t0

        b = Bench(spark, tracer, corpus, work, args.seed, args.seconds)

        def phase(name: str, fn, *fn_args):
            t = time.perf_counter()
            out = fn(*fn_args)
            phases[name] = time.perf_counter() - t
            return out

        handles = phase("setup", setup, b, SETUP_REPS[args.workload])
        phase("timed", timed, b, handles)
        # peak_rss_mb covers session, set-up and timed phase only: the
        # traced extras and the gate below run outside every metric
        sampler.sample()
        peak_kb = sampler.peak_kb
        if tracer.enabled:
            b.jobs_and_stages()
            phase("traced", traced, b, handles)
        phase("gate", gate, b, handles)
        spark_version = spark.version
    finally:
        sampler.stop()
        t = time.perf_counter()
        if spark is not None:
            stop_spark(spark, sampler.seen)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t
    load_end = os.getloadavg()

    e2e = end_to_end(b, sum(session.values()), peak_kb)
    self_times = tracer.self_times(*b.timed)
    layer = per_layer(b, tracer, session, e2e["query_p50_ms"], self_times)

    stem = os.path.join(logs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    with open(stem + ".queries.jsonl", "w") as f:
        for r in b.qlog:
            f.write(json.dumps(r) + "\n")
    if tracer.enabled:
        tracer.dump(stem + ".spans.jsonl")

    env = {
        "cores": cpus, "spark": spark_version, "master": f"local[{cpus}]",
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
    }
    print(f"env: {json.dumps(env)}")
    print("phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    classes: dict[str, int] = {}
    for r in b.qlog:
        classes[r["class"]] = classes.get(r["class"], 0) + 1
    print(f"queries: {len(b.qlog)} ({len(b.latency_s)} timed samples); class share: "
          + ", ".join(f"{c}={n / len(b.qlog):.2f}" for c, n in sorted(classes.items())))
    for m, v in e2e.items():
        print(f"e2e {m} = {v:.6g} {E2E[m]}")
    print(f"e2e failed_frac = {b.failed / b.attempted:.6g} "
          f"({b.failed} of {b.attempted} operations and checks)")
    units = per_layer_units()
    if tracer.enabled:
        wall = b.timed[1] - b.timed[0]
        for name, s in sorted(self_times.items(), key=lambda kv: -kv[1]):
            print(f"self {name} = {s:.4f} s ({s / wall:.1%} of timed wall)")
        print(f"unattributed = {1 - layer['trace.covered_frac']:.1%} of timed wall "
              "(request.* self time and time between requests)")
        for m, v in layer.items():
            print(f"layer {m} = {v:.6g} {units[m]}")
    for e in b.errors[:10]:
        print(f"error: {e.strip()}")

    metrics, out_units = (layer, units) if tracer.enabled else (e2e, E2E)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {m: {"value": v, "unit": out_units[m]} for m, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
