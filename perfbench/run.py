"""End-to-end benchmark of the transcript search engine.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload search --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/NOTES.md):

* ``search``: a freshly built index served by a warmed engine.  The
  timed window is the serving phase (one search-box client with docs
  attached, then three concurrent id-only retrieval clients) followed
  by engine reopens.
* ``ingest``: a base index takes one append; the timed window is the
  append, engine reopens on the new commit, then the same serving
  phase on the two-segment index.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
traced variant (layer spans, per-call job groups, a local Spark event
log) and prints the per-layer metrics.  The last line of standard
output is one JSON object: correct, attempted, failed, metrics.  The
exit code is 1 when a correctness gate fails.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORES = 4
DRIVER_MEMORY = "2g"
K = 10
SEARCH_CONVS = 1000       # search corpus (sf1: ~21.5k turns, ~4 MB text)
INGEST_BASE_CONVS = 500   # ingest base index
BATCH_CONVS = 50          # conversations per append
REOPENS = 5               # timed engine reopens of the latest commit
CLIENTS = 3               # concurrent retrieval clients
ORACLE_QUERIES = 12
FIRST_QUERY = "error retry timeout"
DEADLINE_S = 170
CPU_T0: list = []


def rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def text_bytes(pdf) -> int:
    return int(sum(len(t.encode()) for t in pdf["text"] if t))


def cpu_ticks() -> list:
    """Machine-wide jiffies: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def log(msg: str):
    print(f"[perfbench {time.perf_counter() - PROCESS_T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


class Bench:
    def __init__(self, args, workdir: str):
        self.args = args
        self.seed = int(args.seed) & 0xFFFFFFFF
        self.seconds = float(args.seconds)
        self.traced = bool(args.trace)
        self.workdir = workdir
        self.attempted = 0
        self.failed = 0
        self.problems: list = []
        self.samples: dict = {}
        self.layers: dict = {}
        self.engine = None
        self.stream_pos = 0
        self.tracer = None
        self.groups = None
        self._n_index = 0
        self._lock = threading.Lock()

    # -- bookkeeping --------------------------------------------------
    def sample(self, name: str, value: float):
        self.samples.setdefault(name, []).append(value)

    def layer(self, name: str, value: float):
        self.layers[name] = float(value)

    def fail(self, what: str):
        with self._lock:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)
        log(f"FAILED: {what}")

    def count(self, n: int = 1):
        with self._lock:
            self.attempted += n

    def fresh_path(self, tag: str) -> str:
        self._n_index += 1
        return os.path.join(self.workdir, f"idx-{tag}-{self._n_index}")

    # -- session ------------------------------------------------------
    def start_session(self):
        from sotohp_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-Djava.net.preferIPv6Addresses=false "
                f"-Djava.io.tmpdir={os.path.join(self.workdir, 'tmp')}"
            ),
        }
        if self.traced:
            self.event_dir = os.path.join(self.workdir, "events")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            "perfbench", master=f"local[{CORES}]",
            shuffle_partitions=CORES, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        log("session started")
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        from sotohp_spark.config import EngineConfig

        self.cfg = EngineConfig(shuffle_partitions=CORES)
        if self.traced:
            from perfbench.trace import JobGroups, Tracer

            self.tracer = Tracer()
            self.groups = JobGroups(self.spark.sparkContext)

    def stop_session(self):
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway else None
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def turns_df(self, pdf):
        from sotohp_spark.generator import TRANSCRIPT_SCHEMA

        return self.spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)

    # -- operations ---------------------------------------------------
    def build(self, path: str, pdf, tag: str) -> dict:
        from sotohp_spark.index import IndexBuilder

        t0 = time.perf_counter()
        meta = IndexBuilder(self.spark, path, self.cfg).build(
            self.turns_df(pdf), input_fingerprint=f"perfbench-{tag}"
        )
        self.count()
        log(f"build {tag}: {time.perf_counter() - t0:.2f}s, n_docs={meta['n_docs']}")
        return meta

    def reopen(self, path: str, expect_docs: int | None = None) -> dict:
        """Swap in a freshly opened, warmed engine: drop the cached
        frames of the previous one, open, preload the dictionary, cache
        the postings, answer one search with docs."""
        from sotohp_spark.index import QueryEngine

        self.engine = None
        self.spark.catalog.clearCache()
        t = [time.perf_counter()]
        engine = QueryEngine(self.spark, path)
        t.append(time.perf_counter())
        engine.preload_term_stats()
        t.append(time.perf_counter())
        engine.cache_postings()
        t.append(time.perf_counter())
        rows = engine.top_k(FIRST_QUERY, K, with_docs=True).collect()
        t.append(time.perf_counter())
        self.count()
        self.engine = engine
        log(f"reopen: {t[4] - t[0]:.2f}s")
        if expect_docs is not None and int(engine.meta["n_docs"]) != expect_docs:
            self.fail(f"reopened n_docs {engine.meta['n_docs']} != {expect_docs}")
        if not rows:
            self.fail(f"no answer to {FIRST_QUERY!r} after reopen")
        return {
            "open": t[1] - t[0], "preload": t[2] - t[1],
            "cache": t[3] - t[2], "first_query": t[4] - t[3],
            "total": t[4] - t[0],
        }

    def search(self, q) -> float:
        """One search-box request with docs attached; returns seconds."""
        t0 = time.perf_counter()
        try:
            q.run(self.engine, K, with_docs=True).collect()
        except Exception as exc:  # a failed request counts, the run goes on
            self.fail(f"search {q.text!r}: {exc!r}")
        dt = time.perf_counter() - t0
        self.count()
        return dt

    def next_searches(self, n: int) -> list:
        out = self.stream[self.stream_pos:self.stream_pos + n]
        self.stream_pos += n
        if len(out) < n:
            raise RuntimeError("interactive stream exhausted")
        return out

    def interactive(self, duration: float) -> list:
        """Closed-loop search-box client for ``duration`` seconds (at
        least two requests); returns latencies in seconds."""
        lat = []
        t_end = time.perf_counter() + duration
        while time.perf_counter() < t_end or len(lat) < 2:
            lat.append(self.search(self.next_searches(1)[0]))
        return lat

    def retrieve(self, duration: float, answers: dict | None = None) -> tuple:
        """CLIENTS closed-loop id-only clients for ``duration`` seconds.
        Returns (completed, wall seconds, per-query (latency, jobs))."""
        engine = self.engine
        done = []
        per_query = []
        t_end = time.perf_counter() + duration

        def client(c: int):
            n = 0
            for q in self.retrieve_streams[c]:
                if time.perf_counter() >= t_end:
                    break
                gid = self.groups.new("retrieve") if self.groups else None
                t0 = time.perf_counter()
                try:
                    rows = engine.top_k(q, K, with_docs=False).collect()
                except Exception as exc:
                    self.fail(f"retrieve {q!r}: {exc!r}")
                    rows = None
                dt = time.perf_counter() - t0
                self.count()
                n += 1
                if rows is not None and answers is not None:
                    with self._lock:
                        answers.setdefault(q, []).append(
                            [(r["doc_id"], r["score"]) for r in rows]
                        )
                if gid is not None:
                    with self._lock:
                        per_query.append((dt, self.groups.jobs(gid), gid))
            done.append(n)
            if self.groups:
                self.groups.clear()

        errors = []

        def run_client(c: int):
            try:
                client(c)
            except Exception as exc:  # re-raised below, after the join
                errors.append(exc)

        t0 = time.perf_counter()
        threads = [threading.Thread(target=run_client, args=(c,)) for c in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        wall = time.perf_counter() - t0
        if errors:
            raise errors[0]
        return sum(done), wall, per_query

    def check_leg_identity(self, answers: dict):
        """Every concurrent answer must equal the same query's
        single-client answer.  The single-client call takes the
        driver-local leg, so this pins the distributed leg under
        concurrency."""
        for q, got in answers.items():
            want = [
                (r["doc_id"], r["score"])
                for r in self.engine.top_k(q, K, with_docs=False).collect()
            ]
            for g in got:
                if g != want:
                    self.fail(f"retrieve leg identity {q!r}: {g} != {want}")

    def check_oracle(self, path: str, pdf):
        """A fixed sample of free-text queries must rank exactly as the
        BM25 oracle does, ties included; doc-id order is taken from the
        index so ties break the same way after appends."""
        import numpy as np

        from perfbench.inputs import oracle_sample
        from sotohp_spark.oracle.bm25_oracle import Bm25Oracle

        oracle = Bm25Oracle(pdf)
        ids = {
            r["conv_id"]: r["doc_id"]
            for r in self.spark.read.parquet(f"{path}/docs")
            .select("conv_id", "doc_id").collect()
        }
        order = np.argsort([ids[c] for c in oracle.docs["conv_id"]], kind="stable")
        oracle.docs = oracle.docs.iloc[order].reset_index(drop=True)
        oracle.docs["doc_id"] = range(len(oracle.docs))
        oracle.tfs = [oracle.tfs[i] for i in order]
        oracle.doc_len = [oracle.doc_len[i] for i in order]
        conv = {d: c for c, d in ids.items()}
        for q in oracle_sample(self.seed, ORACLE_QUERIES):
            got = [
                (conv[r["doc_id"]], r["score"])
                for r in self.engine.top_k(q, K, with_docs=False).collect()
            ]
            w = oracle.top_k(q, K)
            want = list(zip(w["conv_id"], w["score"]))
            self.count()
            same = [c for c, _ in got] == [c for c, _ in want] and all(
                abs(g - w) <= 1e-9 for (_, g), (_, w) in zip(got, want)
            )
            if not same:
                self.fail(f"oracle {q!r}: {got} != {want}")

    # -- warm-up ------------------------------------------------------
    def warm_up(self):
        """Repeat one pass of searches until its median settles: the
        JIT, the Python workers and the engine caches are warm before
        any timed operation."""
        from perfbench.inputs import interactive_stream

        warm = interactive_stream(self.seed + 1, WARMUP_PASS)
        prev = None
        for i in range(WARMUP_MAX_PASSES):
            med = statistics.median(self.search(q) for q in warm)
            log(f"warm-up pass {i}: median {med * 1000:.0f} ms")
            if prev is not None and abs(med - prev) <= WARMUP_SETTLED * prev:
                break
            prev = med
        log("warm-up done")

    # -- appends ------------------------------------------------------
    def postings_files(self, path: str) -> int:
        import glob

        return len(glob.glob(f"{path}/postings/range_bucket=*/*.parquet"))

    def append(self, path: str, pdf) -> tuple:
        """One append_conversations call; returns (seconds, merged)."""
        from sotohp_spark.streaming.incremental import append_conversations

        before = self.postings_files(path)
        t0 = time.perf_counter()
        append_conversations(self.spark, path, self.turns_df(pdf), self.cfg)
        dt = time.perf_counter() - t0
        self.count()
        return dt, self.postings_files(path) < before


WARMUP_PASS = 5
WARMUP_MAX_PASSES = 3
WARMUP_SETTLED = 0.10
WARMUP_RETRIEVE_S = 2.0
STREAM_LEN = 600


class Inputs(threading.Thread):
    """Generates the corpus and the query streams from the seed.  It
    runs while the Spark session starts; both are set-up."""

    def __init__(self, seed: int, base_convs: int, extra_batches: int):
        super().__init__(daemon=True)
        self.args = (seed, base_convs, extra_batches)
        self.error = None

    def run(self):
        from perfbench.inputs import (
            corpus, interactive_stream, retrieve_stream, split_conversations,
        )

        seed, base_convs, extra = self.args
        try:
            pdf = corpus(base_convs + extra * BATCH_CONVS, seed)
            self.base, batches = split_conversations(pdf, base_convs, BATCH_CONVS)
            self.batches = list(batches)
            self.stream = interactive_stream(seed, STREAM_LEN)
            self.retrieve_streams = [
                retrieve_stream(seed, c, STREAM_LEN) for c in range(CLIENTS)
            ]
        except Exception as exc:  # re-raised by get()
            self.error = exc

    def get(self):
        self.join()
        if self.error is not None:
            raise self.error
        return self


def prepare(b: Bench, inputs: Inputs) -> str:
    """The cold build of the base input."""
    inputs.get()
    b.stream = inputs.stream
    b.retrieve_streams = inputs.retrieve_streams
    path = b.fresh_path(b.args.workload)
    b.build(path, inputs.base, "base")
    return path


def serve(b: Bench):
    """The timed serving phase both workloads share: one search-box
    client with docs attached for ``--seconds``."""
    for dt in b.interactive(duration=b.seconds):
        b.sample("search", dt)


def n_convs(indexed: list) -> int:
    return sum(p["conv_id"].nunique() for p in indexed)


def ingest_step(b: Bench, path: str, batch, indexed: list):
    """Append one batch and make it visible in a fresh engine."""
    dt, merged = b.append(path, batch)
    indexed.append(batch)
    return dt, merged, b.reopen(path, expect_docs=n_convs(indexed))


def run_search(b: Bench, inputs: Inputs) -> dict:
    path = prepare(b, inputs)
    indexed = [inputs.base]
    b.reopen(path)
    b.warm_up()
    b.setup_s = time.perf_counter() - PROCESS_T0
    if b.traced:
        traced_phases(b, path, indexed, inputs.batches)
    else:
        serve(b)
        for _ in range(REOPENS):
            b.sample("visible", b.reopen(path)["total"])
        log("timed window done")
    b.check_oracle(path, _concat(indexed))
    return {"path": path, "input": indexed}


def run_ingest(b: Bench, inputs: Inputs) -> dict:
    path = prepare(b, inputs)
    indexed = [inputs.base]
    batches = inputs.batches
    b.reopen(path)
    b.warm_up()
    b.setup_s = time.perf_counter() - PROCESS_T0
    if b.traced:
        traced_phases(b, path, indexed, batches)
    else:
        dt, _, vis = ingest_step(b, path, batches.pop(0), indexed)
        log(f"append: {dt:.2f}s")
        b.sample("visible", vis["total"])
        for _ in range(REOPENS - 1):
            vis = b.reopen(path, expect_docs=n_convs(indexed))
            b.sample("visible", vis["total"])
        serve(b)
        log("timed window done")
    b.check_oracle(path, _concat(indexed))
    return {"path": path, "input": indexed}


MERGE_PERIOD = 2
TRACE_APPENDS = 3


def _concat(parts):
    import pandas as pd

    return pd.concat(parts, ignore_index=True)


# workload -> (runner, base conversations, extra append batches)
WORKLOADS = {
    "search": (run_search, SEARCH_CONVS, TRACE_APPENDS),
    "ingest": (run_ingest, INGEST_BASE_CONVS, TRACE_APPENDS),
}


# ---------------------------------------------------------------- traced run
OVERHEAD_QUERIES = 12


def _mean(v):
    return float(sum(v) / len(v)) if v else 0.0


def _median(v):
    return float(statistics.median(v)) if v else 0.0


def traced_phases(b: Bench, path: str, indexed: list, batches: list):
    """The per-layer measurements.  Every traced run measures every
    layer, whichever workload set it up: tracing overhead, a traced
    search-box phase, a retrieve phase under job groups, a warm rebuild
    of the base input, one traced merge cycle of appends.  ``path``
    must still hold the base build alone."""
    from perfbench.trace import (
        BuildStageLog, wrap_ingest_layers, wrap_query_layers,
    )

    tr, groups = b.tracer, b.groups

    # tracing overhead: the same searches with and without spans, in
    # the order off-on-on-off after one untimed pass has filled the
    # engine's per-query caches (dictionary LRU, window bounds)
    qs = b.next_searches(OVERHEAD_QUERIES)
    for q in qs:
        b.search(q)
    plain, traced = [], []
    for order in ((False, True), (True, False)):
        for on in order:
            if on:
                wrap_query_layers(tr)
            (traced if on else plain).extend(b.search(q) for q in qs)
            tr.unwrap_all()
    b.layer("trace.overhead_pct", (_median([t / u for t, u in zip(traced, plain)]) - 1) * 100)

    # interactive phase, traced
    wrap_query_layers(tr)
    names = ("analyze", "dictionary", "topk_call", "score", "decode", "attach")
    per_layer = {n: [] for n in names}
    cover, jobs, lat = [], [], []
    blocks_total = blocks_skipped = blocks_decoded = 0
    t_end = time.perf_counter() + b.seconds / 2
    while time.perf_counter() < t_end:
        q = b.next_searches(1)[0]
        gid = groups.new("query")
        layers = tr.op()
        t0 = time.perf_counter()
        df = q.run(b.engine, K, with_docs=True)
        with tr.span("attach"):
            df.collect()
        dt = time.perf_counter() - t0
        b.count()
        stats = dict(b.engine.last_query_stats)
        blocks_total += stats.get("blocks_total", 0)
        blocks_decoded += stats.get("blocks_decoded", 0)
        blocks_skipped += stats.get("blocks_skipped", 0)
        jobs.append(groups.jobs(gid))
        lat.append(dt)
        for n in names:
            per_layer[n].append(layers.get(n, 0.0))
        cover.append(sum(layers.values()) / dt)
    groups.clear()
    tr.unwrap_all()
    for n in names:
        b.layer(f"query.{n}_ms", _mean(per_layer[n]) * 1000)
    b.layer("query.jobs_per_query", _mean(jobs))
    b.layer("query.blocks_decoded_per_query", blocks_decoded / len(lat))
    b.layer("query.blocks_skipped_ratio", blocks_skipped / blocks_total if blocks_total else 0.0)
    b.layer("query.layers_cover", _median(cover))
    b.layer("trace.search_p50_ms", _median(lat) * 1000)

    # retrieve phase: legs told apart by the jobs each query launched;
    # a short untimed round first starts the distributed leg's workers
    b.retrieve(WARMUP_RETRIEVE_S)
    answers: dict = {}
    n, wall, per_query = b.retrieve(b.seconds / 2, answers)
    b.check_leg_identity(answers)
    local = [dt for dt, j, _ in per_query if j == 0]
    dist = [dt for dt, j, _ in per_query if j > 0]
    b.layer("retrieve.local_share", len(local) / len(per_query))
    b.layer("retrieve.local_ms", _median(local) * 1000)
    b.layer("retrieve.distributed_ms", _median(dist) * 1000)
    b.layer("trace.retrieve_qps", n / wall)
    b.retrieve_groups = [gid for _, _, gid in per_query]

    # reindex: a warm, traced rebuild of the served base input on a
    # fresh path must produce the same meta and term_stats
    from sotohp_spark.index import IndexBuilder

    ref_meta = IndexBuilder(b.spark, path)._read_meta()
    again = b.fresh_path("reindex")
    b.build_group = groups.new("build")
    with BuildStageLog() as stage_log:
        t0 = time.perf_counter()
        meta = b.build(again, indexed[0], "base")
        total = time.perf_counter() - t0
    groups.clear()
    stages = dict(stage_log.stages)
    for s in ("stage1", "stage1_stats", "stage2", "stage3"):
        b.layer(f"build.{s}_s", stages.get(s, 0.0))
    named = sum(stages.values())
    b.layer("build.other_s", total - named)
    b.layer("build.layers_cover", named / total)
    b.layer("build.turns_per_s", len(indexed[0]) / total)
    state = IndexBuilder(b.spark, again).partition_state().collect()
    b.layer("build.postings", float(sum(r["postings_count"] for r in state)))
    b.layer("build.payload_bytes", float(sum(r["compressed_bytes"] for r in state)))
    b.layer("build.max_skew_ratio", float(max(r["skew_ratio"] for r in state)))
    if meta != ref_meta or _term_stats(b, path) != _term_stats(b, again):
        b.fail("reindex: meta or term_stats differ between two builds of one input")

    # one traced merge cycle of appends, each made visible, after an
    # untraced append warms the append path
    ingest_step(b, path, batches.pop(0), indexed)
    wrap_ingest_layers(tr)
    plain_s, merge_s, derived, merge_span, covers = [], [], [], [], []
    reopen_parts = {k: [] for k in ("open", "preload", "cache", "first_query")}
    turns = 0
    append_jobs = []
    for _ in range(MERGE_PERIOD):
        batch = batches.pop(0)
        gid = groups.new("append")
        layers = tr.op()
        t0 = time.perf_counter()
        with tr.span("append"):
            dt, merged = b.append(path, batch)
        append_jobs.append(groups.jobs(gid))
        groups.clear()
        indexed.append(batch)
        vis = b.reopen(path, expect_docs=n_convs(indexed))
        total = time.perf_counter() - t0
        covers.append((sum(layers.values()) + vis["total"]) / total)
        (merge_s if merged else plain_s).append(dt)
        derived.append(layers.get("derived_state", 0.0))
        if merged:
            merge_span.append(layers.get("merge", 0.0))
        for k in reopen_parts:
            reopen_parts[k].append(vis[k])
        turns += len(batch)
    tr.unwrap_all()
    b.layer("ingest.append_plain_s", _median(plain_s))
    b.layer("ingest.append_merge_s", _median(merge_s))
    b.layer("ingest.merges", float(len(merge_s)))
    b.layer("ingest.merge_s", _median(merge_span))
    b.layer("ingest.derived_state_s", _mean(derived))
    b.layer("ingest.jobs_per_append", _mean(append_jobs))
    b.layer("ingest.turns_per_s", turns / (sum(plain_s) + sum(merge_s)))
    for k, v in reopen_parts.items():
        b.layer(f"ingest.{k}_s", _mean(v))
    b.layer("ingest.layers_cover", _median(covers))
    b.layer("ingest.postings_files", float(b.postings_files(path)))
    b.layer("ingest.segments", float(len(b.engine.meta.get("segments") or [])))


def _term_stats(b: Bench, path: str) -> list:
    return sorted(
        tuple(r) for r in b.spark.read.parquet(f"{path}/term_stats").collect()
    )


def event_log_layers(b: Bench):
    from perfbench.trace import event_log_totals

    totals = event_log_totals(b.event_dir)
    build = totals.get(b.build_group, {})
    b.layer("build.jobs", build.get("jobs", 0.0))
    b.layer("build.stages", build.get("stages", 0.0))
    b.layer("build.shuffle_write_bytes", build.get("shuffle_write_bytes", 0.0))
    b.layer("build.executor_task_s", build.get("executor_s", 0.0))
    ex = sum(totals.get(g, {}).get("executor_s", 0.0) for g in b.retrieve_groups)
    b.layer("retrieve.executor_task_s_per_query", ex / len(b.retrieve_groups))


# ---------------------------------------------------------------- main
def end_to_end(b: Bench, result: dict) -> dict:
    s = b.samples
    index_bytes = dir_bytes(result["path"])
    return {
        "setup_s": (b.setup_s, "s"),
        "search_p50_ms": (statistics.median(s["search"]) * 1000, "ms"),
        "visible_p50_s": (statistics.median(s["visible"]), "s"),
        "index_bytes_per_input_byte": (
            index_bytes / text_bytes(_concat(result["input"])), "ratio"
        ),
        "driver_peak_rss_mb": (rss_mb(os.getpid()), "MB"),
    }


# Per-layer metrics of the traced run: name -> (unit, better).
PER_LAYER = {
    "query.analyze_ms": ("ms", "lower"),
    "query.dictionary_ms": ("ms", "lower"),
    "query.topk_call_ms": ("ms", "lower"),
    "query.score_ms": ("ms", "lower"),
    "query.decode_ms": ("ms", "lower"),
    "query.attach_ms": ("ms", "lower"),
    "query.jobs_per_query": ("count", "lower"),
    "query.blocks_decoded_per_query": ("count", "lower"),
    "query.blocks_skipped_ratio": ("ratio", "higher"),
    "query.layers_cover": ("ratio", "higher"),
    "retrieve.local_share": ("ratio", "higher"),
    "retrieve.local_ms": ("ms", "lower"),
    "retrieve.distributed_ms": ("ms", "lower"),
    "retrieve.executor_task_s_per_query": ("s", "lower"),
    "build.stage1_s": ("s", "lower"),
    "build.stage1_stats_s": ("s", "lower"),
    "build.stage2_s": ("s", "lower"),
    "build.stage3_s": ("s", "lower"),
    "build.other_s": ("s", "lower"),
    "build.layers_cover": ("ratio", "higher"),
    "build.turns_per_s": ("1/s", "higher"),
    "build.jobs": ("count", "lower"),
    "build.stages": ("count", "lower"),
    "build.shuffle_write_bytes": ("bytes", "lower"),
    "build.executor_task_s": ("s", "lower"),
    "build.postings": ("count", "lower"),
    "build.payload_bytes": ("bytes", "lower"),
    "build.max_skew_ratio": ("ratio", "lower"),
    "ingest.append_plain_s": ("s", "lower"),
    "ingest.append_merge_s": ("s", "lower"),
    "ingest.merges": ("count", "lower"),
    "ingest.merge_s": ("s", "lower"),
    "ingest.derived_state_s": ("s", "lower"),
    "ingest.jobs_per_append": ("count", "lower"),
    "ingest.turns_per_s": ("1/s", "higher"),
    "ingest.open_s": ("s", "lower"),
    "ingest.preload_s": ("s", "lower"),
    "ingest.cache_s": ("s", "lower"),
    "ingest.first_query_s": ("s", "lower"),
    "ingest.layers_cover": ("ratio", "higher"),
    "ingest.postings_files": ("count", "lower"),
    "ingest.segments": ("count", "lower"),
    "trace.overhead_pct": ("%", "lower"),
    "trace.search_p50_ms": ("ms", "lower"),
    "trace.retrieve_qps": ("1/s", "higher"),
}


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark exceeded {DEADLINE_S}s")


def _terminate(signum, frame):
    raise InterruptedError(f"benchmark stopped by signal {signum}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import sotohp_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    workdir = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(workdir, "local"))
    import tempfile

    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    global CPU_T0
    CPU_T0 = cpu_ticks()
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)

    b = Bench(args, workdir)
    runner, base_convs, extra_batches = WORKLOADS[args.workload]
    inputs = Inputs(b.seed, base_convs, extra_batches)
    inputs.start()
    out = None
    try:
        b.start_session()
        try:
            result = runner(b, inputs)
            if not b.traced:
                out = end_to_end(b, result)
        finally:
            log("stopping session")
            b.stop_session()
            log("session stopped")
        if b.traced:
            event_log_layers(b)
            if set(b.layers) != set(PER_LAYER):
                raise RuntimeError(
                    f"traced layers {sorted(set(b.layers) ^ set(PER_LAYER))} "
                    "do not match PER_LAYER"
                )
            out = {n: (b.layers[n], u) for n, (u, _) in PER_LAYER.items()}
    except Exception:
        import traceback

        traceback.print_exc()
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass
    for p in b.problems:
        log(f"gate: {p}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    spent = [y - x for x, y in zip(CPU_T0, cpu_ticks())]
    log(f"machine cpu over the run: busy {1 - spent[3] / sum(spent):.0%}, "
        f"steal {spent[7] / sum(spent):.1%}")
    log("done")
    return 0 if b.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
