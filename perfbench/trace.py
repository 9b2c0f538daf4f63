"""Layer tracing for the traced benchmark run.

Spans are recorded from outside the engine: the public functions of
each layer are wrapped at the module attribute their callers look up
(``query.tokenize``, ``wand.score_range``, ``wand.decode_shard_blocks``,
...), so the engine code is unchanged.  A span's self time is its
duration minus the time of the spans it encloses on the same thread.
Spark work is attributed per call through job groups, and executor
time and shuffle bytes come from a local Spark event log parsed after
the session stops."""

from __future__ import annotations

import functools
import glob
import json
import logging
import re
import threading
import time
from collections import defaultdict


class Tracer:
    """Accumulates per-layer self time for the operation in flight on
    each thread.  ``op()`` opens an operation; spans inside it add to
    that operation's layer totals."""

    def __init__(self):
        self._local = threading.local()
        self._patched: list = []

    # -- spans -------------------------------------------------------
    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def op(self):
        """Start an operation on this thread; returns its layer totals
        (layer name -> self seconds), filled as spans close."""
        self._local.layers = defaultdict(float)
        self._local.stack = []
        return self._local.layers

    def span(self, name: str):
        return _Span(self, name)

    def _close(self, name: str, dur: float, child: float):
        layers = getattr(self._local, "layers", None)
        if layers is not None:
            layers[name] += dur - child
        st = self._stack()
        if st:
            st[-1][1] += dur

    # -- wrapping ----------------------------------------------------
    def wrap(self, owner, attr: str, layer: str):
        """Replace ``owner.attr`` with a spanned version until
        ``unwrap_all``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(layer):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


class _Span:
    __slots__ = ("tracer", "name", "t0", "frame")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        self.frame = [self.name, 0.0]
        self.tracer._stack().append(self.frame)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        dur = time.perf_counter() - self.t0
        st = self.tracer._stack()
        st.pop()
        self.tracer._close(self.name, dur, self.frame[1])
        return False


def wrap_query_layers(tracer: Tracer):
    """Spans at the query-side call sites: analysis, dictionary,
    the top_k* calls, WAND scoring and block decoding."""
    from sotohp_spark.index import query
    from sotohp_spark.operators import wand

    tracer.wrap(query, "tokenize", "analyze")
    tracer.wrap(query.QueryEngine, "query_weights", "dictionary")
    for name in ("top_k", "top_k_bool", "top_k_query_string"):
        tracer.wrap(query.QueryEngine, name, "topk_call")
    tracer.wrap(wand, "score_range", "score")
    tracer.wrap(wand, "decode_shard_blocks", "decode")


def wrap_ingest_layers(tracer: Tracer):
    """Spans inside append_conversations: the derived-state refresh and
    the bucket merge; the rest of the call is the two-phase append."""
    from sotohp_spark.streaming import incremental

    tracer.wrap(incremental, "_apply_append_derived_state", "derived_state")
    tracer.wrap(incremental, "compact_buckets", "merge")


class BuildStageLog(logging.Handler):
    """Collects the stage timings ``index.build`` logs at INFO."""

    PATTERNS = {
        "stage1": re.compile(r"^stage1 docs\+tokenize\+write: ([\d.]+)s"),
        "stage1_stats": re.compile(r"^stage1 stats: ([\d.]+)s"),
        "stage2": re.compile(r"^stage2 buckets .*: ([\d.]+)s"),
        "stage3": re.compile(r"^stage3 term_stats: ([\d.]+)s"),
    }

    def __init__(self):
        super().__init__(logging.INFO)
        self.stages: dict = defaultdict(float)

    def emit(self, record):
        msg = record.getMessage()
        for name, rx in self.PATTERNS.items():
            m = rx.match(msg)
            if m:
                self.stages[name] += float(m.group(1))

    def __enter__(self):
        from sotohp_spark.index.build import log

        self.stages.clear()
        self._log = log
        self._level = log.level
        log.setLevel(logging.INFO)
        log.addHandler(self)
        return self

    def __exit__(self, *exc):
        self._log.removeHandler(self)
        self._log.setLevel(self._level)
        return False


class JobGroups:
    """Per-call Spark job groups: every traced call runs under its own
    group, so its jobs can be counted and its tasks found in the event
    log."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0
        self._lock = threading.Lock()

    def new(self, prefix: str) -> str:
        with self._lock:
            self._n += 1
            gid = f"{prefix}-{self._n}"
        self.sc.setJobGroup(gid, prefix)
        return gid

    def jobs(self, gid: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))

    def clear(self):
        self.sc.setJobGroup("", "")


def event_log_totals(event_dir: str) -> dict:
    """job group -> {jobs, stages, executor_s, shuffle_write_bytes},
    summed from the SparkListener events of a finished session."""
    stage_group: dict = {}
    out: dict = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes the rolling (v2) layout: one directory per
    # application holding numbered event files
    paths = sorted(glob.glob(f"{event_dir}/**/events_*", recursive=True))
    if not paths:
        raise RuntimeError(f"no Spark event log under {event_dir}")
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not gid:
                        continue
                    out[gid]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = gid
                    out[gid]["stages"] += len(ev.get("Stage IDs", ()))
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if gid is None or not m:
                        continue
                    out[gid]["executor_s"] += m.get("Executor Run Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    out[gid]["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return out
