"""Benchmark-side tracing: spans around calls into the program's layers.

The program itself is not instrumented. ``Tracer.install`` replaces a
fixed set of module functions and methods with wrappers that record a
span (name, start, end, parent, operation id) and a few counters, and
``Tracer.restore`` puts the originals back. Spark work is attributed per
operation through ``SparkContext.setJobGroup``; job ids come from the
status tracker and per-stage figures from the Spark UI's REST API, which
only the traced run enables.
"""

from __future__ import annotations

import inspect
import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

# sidecar writers called by FuguSparkEngine.build, by metric suffix (the
# date_index writer is a no-op here: the corpus has no date fields)
SIDECARS = {
    "filter_index": "_write_filter_index",
    "counts_index": "_write_counts_index",
    "suggest_index": "_write_suggest_index",
    "doc_store": "_write_doc_store",
    "dataset": "build_dataset",
}
_BLOCK_BYTE_COLS = ("doc_ids_enc", "tfs_enc", "doc_lens_enc", "pos_counts_enc", "positions_enc")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, str]] = []
        self._stack: list[int] = []
        self.op = "setup"
        self.counters: dict[tuple[str, str], float] = defaultdict(float)
        self._saved: list[tuple[object, str, object]] = []

    # ---- spans and counters -------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        i = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p, op = self.spans[i]
            self.spans[i] = (n, t0, time.perf_counter(), p, op)

    def count(self, key: str, v: float = 1.0) -> None:
        self.counters[(self.phase, key)] += v

    @property
    def phase(self) -> str:
        return self.op.split(":", 1)[0]

    # ---- wrappers -----------------------------------------------------

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self
        # restore the raw class attribute (keeps classmethod descriptors)
        self._saved.append((owner, attr, inspect.getattr_static(owner, attr)))

        def wrapper(*a, **kw):
            with tracer.span(name):
                out = orig(*a, **kw)
            if after is not None:
                after(a, kw, out)
            return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.sql import SparkSession

        from fugu_spark import engine, segments, serve

        LS = serve.LocalSearcher

        def block_rows(a, kw, rows):
            self.count("blocks_read", len(rows))
            self.count(
                "block_bytes_read",
                sum(int(rows[c].map(len, na_action="ignore").sum()) for c in _BLOCK_BYTE_COLS if c in rows),
            )

        def decoded(a, kw, out):
            self.count("postings_decoded", int(np.sum(a[0])))

        def cache_get(a, kw, out):
            self.count("cache_gets")
            self.count("cache_hits", out is not None)

        self._wrap(serve, "parse_query", "serve.parse")
        self._wrap(LS, "__init__", "serve.open")
        self._wrap(LS, "search", "serve.search")
        self._wrap(LS, "_term_meta_read", "serve.term_meta")
        self._wrap(LS, "_block_rows", "serve.block_read", block_rows)
        self._wrap(serve, "decode_posting_blocks_batched", "codecs.decode", decoded)
        self._wrap(LS, "_cache_get", "serve.cache_get", cache_get)
        self._wrap(engine.FuguSparkEngine, "search", "engine.search")
        self._wrap(engine.FuguSparkEngine, "build", "engine.build")
        self._wrap(engine, "search_segments", "engine.spark_fallback")
        self._wrap(SparkSession, "createDataFrame", "spark.create_dataframe")
        self._wrap(engine, "build_segments", "segments.build")
        self._wrap(segments, "encode_postings_df", "segments.encode")
        self._wrap(segments, "merge_dictionary", "segments.dictionary")
        for suffix, fn in SIDECARS.items():
            self._wrap(engine, fn, f"engine.sidecar.{suffix}")

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # ---- span arithmetic ----------------------------------------------

    def _durations(self):
        dur = np.array([e - s for _, s, e, _, _ in self.spans])
        child = np.zeros(len(self.spans))
        for i, (_, _, _, p, _) in enumerate(self.spans):
            if p >= 0:
                child[p] += dur[i]
        return dur, dur - child

    def total(self, name: str, phase: str | None = None, parent: str | None = None,
              self_time: bool = False) -> tuple[float, int]:
        """(summed seconds, number of spans) of spans called ``name``,
        optionally restricted to a phase and to a parent span name."""
        dur, selft = self._durations()
        use = selft if self_time else dur
        s, n = 0.0, 0
        for i, (nm, _, _, p, op) in enumerate(self.spans):
            if nm != name or (phase and not op.startswith(phase + ":")):
                continue
            if parent is not None and (p < 0 or self.spans[p][0] != parent):
                continue
            s += use[i]
            n += 1
        return s, n

    def self_times(self) -> dict[str, float]:
        _, selft = self._durations()
        out: dict[str, float] = defaultdict(float)
        for i, (nm, *_rest) in enumerate(self.spans):
            out[nm] += selft[i]
        return {k: round(v, 6) for k, v in sorted(out.items())}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for nm, s, e, p, op in self.spans:
                f.write(json.dumps({"name": nm, "start": s, "end": e, "parent": p, "op": op}) + "\n")


class SparkJobs:
    """Per-operation Spark accounting: job groups + the UI REST API."""

    def __init__(self, sc) -> None:
        self.sc = sc
        url = sc.uiWebUrl
        port = url.rsplit(":", 1)[1] if url else None
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}" if port else None
        self._memo: dict[str, object] = {}

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _get(self, path: str, memo: bool = True):
        """GET one REST resource; finished jobs and stages do not change,
        so their answers are kept for the run."""
        if memo and path in self._memo:
            return self._memo[path]
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            out = json.loads(r.read())
        if memo:
            self._memo[path] = out
        return out

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until the UI store has seen every job end (the listener
        bus is asynchronous)."""
        t0 = time.time()
        while time.time() - t0 < timeout:
            jobs = self._get("/jobs?status=running", memo=False)
            if not jobs:
                return
            time.sleep(0.1)

    def stats(self, groups: list[str]) -> dict:
        """Summed figures over the jobs of the given groups."""
        tracker = self.sc.statusTracker()
        job_ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        out = defaultdict(float)
        out["jobs"] = len(job_ids)
        stage_ids = set()
        for j in job_ids:
            info = self._get(f"/jobs/{j}")
            stage_ids.update(info.get("stageIds", []))
        durations, busiest, most_ms = [], None, -1
        for sid in sorted(stage_ids):
            for att in self._get(f"/stages/{sid}"):
                if att.get("status") == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += att.get("numTasks", 0)
                out["failed_tasks"] += att.get("numFailedTasks", 0)
                out["shuffle_bytes"] += att.get("shuffleReadBytes", 0) + att.get("shuffleWriteBytes", 0)
                run_ms = att.get("executorRunTime", 0)
                out["executor_run_ms"] += run_ms
                durations.append(_stage_seconds(att))
                if att.get("numTasks", 0) > 1 and run_ms > most_ms:
                    busiest, most_ms = (sid, att.get("attemptId", 0)), run_ms
        out["stage_s_total"] = float(sum(durations))
        out["stage_s_max"] = float(max(durations, default=0.0))
        # skew: max / median task time of the multi-task stage with the
        # most executor time (the combine stage of a batch job)
        out["task_skew"] = 0.0
        if busiest is not None:
            tl = self._get(f"/stages/{busiest[0]}/{busiest[1]}/taskList?length=100000")
            d = [t["duration"] for t in tl if t.get("duration") is not None]
            if d and np.median(d) > 0:
                out["task_skew"] = float(max(d) / np.median(d))
        return dict(out)


def _stage_seconds(att: dict) -> float:
    from datetime import datetime

    def ts(s):
        return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

    if att.get("submissionTime") and att.get("completionTime"):
        return ts(att["completionTime"]) - ts(att["submissionTime"])
    return 0.0
