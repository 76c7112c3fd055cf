"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with the environment already set (PYTHONPATH,
driver memory, local and temp dirs inside the work directory). Prints a
detail line (input properties, load shape, per-phase operation counts)
and, last, the result line the benchmark contract defines.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

import numpy as np  # noqa: E402

import inputs  # noqa: E402

# Per workload: corpus files, share of head terms among query terms, hot
# queries added to the batch.
WORKLOADS = {
    "selective": dict(n_docs=1000, head_share=0.1, n_hot=2),
    "head_heavy": dict(n_docs=2000, head_share=0.6, n_hot=8),
}
# one serving round: cold queries, warm queries, API queries; rounds repeat
# for --seconds, at least MIN_ROUNDS times. Warm queries take about two
# thirds of a round: their median is the bounded serving metric, and the
# host's speed drifts on a scale of seconds, so it needs the most of the
# run's time to average over
COLD_PER_ROUND, WARM_PER_ROUND, API_PER_ROUND, MIN_ROUNDS = 2, 128, 1, 6
WARM_POOL, WARM_ZIPF = 128, 0.8
# traced run only: sequential Spark-path queries, batch and standing sets
SPARK_SECONDS, SPARK_MIN, N_BATCH, N_STANDING = 2.0, 3, 200, 50
CHECK_SAMPLE = 10
INDEX_SUBDIRS = (
    "segments", "terms", "postings_raw", "filter_index", "counts_index",
    "suggest_index", "doc_store",
)


class Run:
    def __init__(self, args, cfg: dict) -> None:
        self.args = args
        self.cfg = cfg
        self.trace = bool(args.trace)
        self.ops: Counter = Counter()
        self.fails: Counter = Counter()
        self.correct = True
        self.tracer = None
        self.jobs = None
        self.groups: dict[str, list[str]] = {}
        self.timing: dict[str, float] = {}

    # ---- bookkeeping ----------------------------------------------------

    def attempt(self, phase: str, fn, *a, **kw):
        """Run one operation; an exception counts as a failed operation."""
        self.ops[phase] += 1
        try:
            return fn(*a, **kw)
        except Exception:
            self.fails[phase] += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.ops["check"] += 1
        if not ok:
            self.fails["check"] += 1
            self.correct = False
            print(f"CHECK FAILED {what}: {detail}", file=sys.stderr)

    def set_op(self, op: str) -> None:
        if self.tracer is not None:
            self.tracer.op = op

    def group(self, phase: str, name: str):
        """Spark job group for one operation (traced run only)."""
        from contextlib import nullcontext

        if self.jobs is None:
            return nullcontext()
        self.groups.setdefault(phase, []).append(name)
        return self.jobs.group(name)

    # ---- set-up ---------------------------------------------------------

    def setup(self) -> None:
        """Spark session, corpus, oracle and index build."""
        from fugu_spark.dataset import MAX_TEXT_LEN
        from fugu_spark.session import get_spark

        work = self.args.work
        self.cpus = len(os.sched_getaffinity(0))
        corpus_dir = os.path.join(work, "corpus")
        # corpus and oracle are made while the JVM starts (that wait holds no lock)
        pending = ThreadPoolExecutor(1).submit(make_inputs, self.args.seed, self.cfg["n_docs"],
                                               MAX_TEXT_LEN, corpus_dir, self.cpus)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if self.trace:
            from tracing import SparkJobs, Tracer

            self.tracer = Tracer()
            self.tracer.install()
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cpus}]", extra_conf=conf)
        if self.trace:
            self.jobs = SparkJobs(self.spark.sparkContext)
        self.timing["spark_start_s"] = time.perf_counter() - T_PROCESS
        self.frame, truncated, self.oracle = pending.result()
        lo = self.args.seed * inputs.WINDOW
        self.props = {
            "files": len(self.frame),
            "parquet_files": self.cpus,
            "content_bytes": int(self.frame["text"].map(lambda t: len(t.encode())).sum()),
            "truncated_texts": truncated,
            "index_window": [lo, lo + len(self.frame)],
        }
        self.docs = self.spark.read.parquet(corpus_dir)
        self.build()
        self.timing["build_s"] = self.build_s
        self.setup_s = time.perf_counter() - T_PROCESS
        # keep the long-lived set-up heap (corpus frame, oracle index) out
        # of the garbage collector's scans during the timed phases
        gc.collect()
        gc.freeze()

    def build(self) -> None:
        from fugu_spark.engine import FuguSparkEngine

        self.index_dir = os.path.join(self.args.work, "index")
        self.set_op("setup:build")
        t0 = time.perf_counter()
        with self.group("setup", "build"):
            self.eng = self.attempt(
                "build", FuguSparkEngine.build, self.docs, self.index_dir,
                id_col="doc_id", text_col="text", facets_col="facets",
            )
        self.build_s = time.perf_counter() - t0
        if self.eng is None:
            raise SystemExit("index build failed")
        with open(os.path.join(self.index_dir, "stats.json")) as f:
            self.stats = json.load(f)
        self.check("build.n_docs", self.stats["n_docs"] == len(self.frame),
                   f"{self.stats['n_docs']} indexed of {len(self.frame)}")
        self.props.update(
            postings=self.stats["n_postings"],
            encoded_bytes=self.stats["bytes_encoded"],
            index_bytes=dir_bytes(self.index_dir),
        )

    # ---- timed phases ---------------------------------------------------

    def timed(self, phase: str, i: int, fn):
        """One timed operation → seconds, or None if it raised."""
        self.set_op(f"{phase}:{i}")

        def op():
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0

        return self.attempt(phase, op)

    def cold_query(self, i: int, q: str, k: int, flt):
        """A fresh searcher, its dataset handles opened by a query on an
        absent term; only the query itself is timed."""
        from fugu_spark.serve import LocalSearcher

        def op():
            self.set_op(f"coldopen:{i}")
            ls = LocalSearcher(self.index_dir)
            ls.search(inputs.ABSENT_TERM, k=1)
            self.set_op(f"cold:{i}")
            t0 = time.perf_counter()
            ls.search(q, k=k, filters=flt)
            return time.perf_counter() - t0

        return self.attempt("cold", op)

    def api_query(self, i: int, q: str, k: int, flt):
        tr = self.tracer

        def op():
            with self.group("api", f"api:{i}"):
                df = self.eng.search(q, k=k, filters=flt)
                if tr is None:
                    return df.collect()
                with tr.span("engine.collect"):
                    return df.collect()

        return self.timed("api", i, op)

    def warm_sequence(self, pool) -> list[int]:
        """Pool indices with Zipf-distributed repeats. Popularity is drawn
        per block of len(SHAPES) queries (one of each shape) and the query
        uniformly within the block, so every seed sends the same shape mix
        and only the repeated terms differ."""
        rng = np.random.default_rng([self.args.seed, 11])
        width = len(inputs.SHAPES)
        w = 1.0 / np.arange(1, len(pool) // width + 1) ** WARM_ZIPF
        block = rng.choice(len(w), size=1 << 16, p=w / w.sum())
        return (block * width + rng.integers(width, size=block.size)).tolist()

    def run_warm(self, ls, pool, seq, start: int, n: int, phase: str = "warm") -> list[float]:
        out = []
        for i in range(start, start + n):
            q, k, flt = pool[seq[i % len(seq)]]
            dt = self.timed(phase, i, lambda: ls.search(q, k=k, filters=flt))
            if dt is not None:
                out.append(dt)
        return out

    def run_serving(self, mix, warm_ls, pool, seq) -> dict[str, list[float]]:
        """Closed loop, one client: rounds of cold, warm and API queries,
        interleaved so a slow spell of the host spreads over all three,
        until --seconds have passed (and at least MIN_ROUNDS rounds)."""
        lat = {"cold": [], "warm": [], "api": [], "host_ref": []}
        t_end = time.perf_counter() + self.args.seconds
        r = 0
        while r < MIN_ROUNDS or time.perf_counter() < t_end:
            lat["host_ref"].append(host_ref())
            for j in range(COLD_PER_ROUND):
                i = r * COLD_PER_ROUND + j
                lat["cold"].append(self.cold_query(i, *mix[i % len(mix)]))
            lat["warm"] += self.run_warm(warm_ls, pool, seq, r * WARM_PER_ROUND, WARM_PER_ROUND)
            for j in range(API_PER_ROUND):
                i = r * API_PER_ROUND + j
                lat["api"].append(self.api_query(i, *mix[i % len(mix)]))
            r += 1
        return {ph: [x for x in v if x is not None] for ph, v in lat.items()}

    def run_spark(self, mix) -> tuple[list[float], list]:
        """Sequential search_segments(...).collect() queries."""
        from fugu_spark.segment_search import search_segments

        tr = self.tracer
        lat, done = [], []
        t_end = time.perf_counter() + SPARK_SECONDS
        i = 0
        while i < SPARK_MIN or time.perf_counter() < t_end:
            q, k, flt = mix[i % len(mix)]
            rows = []

            def op():
                with self.group("spark", f"spark:{i}"):
                    with tr.span("segment_search.call"):
                        df = search_segments(self.eng.si, q, k=k, docs=self.eng.docs, filter_paths=flt)
                    with tr.span("segment_search.collect"):
                        rows.extend(df.collect())

            dt = self.timed("spark", i, op)
            if dt is not None:
                lat.append(dt)
                done.append(((q, k, flt), rows))
            i += 1
        return lat, done

    def run_batch(self, qset: dict[int, str]):
        from fugu_spark.batch import batch_search_segments

        self.set_op("batch:0")
        t0 = time.perf_counter()
        with self.group("batch", "batch"):
            rows = self.attempt("batch", lambda: batch_search_segments(self.eng.si, qset, k=10).collect())
        return time.perf_counter() - t0, rows

    def run_percolate(self, standing: dict[int, str]):
        from fugu_spark.percolate import compile_queries, percolate

        self.set_op("percolate:0")
        t0 = time.perf_counter()
        with self.group("percolate", "percolate"):
            rows = self.attempt(
                "percolate",
                lambda: percolate(self.eng.docs, compile_queries(standing), id_col="doc_id",
                                  text_col="text").collect(),
            )
        return time.perf_counter() - t0, rows

    # ---- correctness gates (untimed) ------------------------------------

    def serve_gates(self, warm_ls, sample) -> None:
        """Cold, warm and API paths agree exactly; the oracle agrees."""
        from fugu_spark.serve import LocalSearcher

        self.set_op("check:0")
        lang = dict(zip(self.frame["doc_id"].tolist(), self.frame["lang"].tolist()))
        for q, k, flt in sample:
            cold = pairs(LocalSearcher(self.index_dir).search(q, k=k, filters=flt))
            warm = pairs(warm_ls.search(q, k=k, filters=flt))
            api = pairs(self.eng.search(q, k=k, filters=flt).collect())
            self.check("cold=warm", cold == warm, q)
            self.check("cold=api", cold == api, q)
            if flt:
                want = flt[0].rsplit("/", 1)[1]
                ref = [(d, s) for d, s in self.oracle.search(q, k=len(lang)) if lang[d] == want][:k]
            else:
                ref = self.oracle.search(q, k=k)
            self.check("serve=oracle", same(cold, ref), q)

    def spark_gates(self, warm_ls, spark_done, qset, batch_rows, standing, perc_rows) -> None:
        """search_segments and batch top-k equal the serve path; percolate
        match counts equal the serve path's match counts."""
        for (q, k, flt), rows in spark_done:
            self.check("spark=serve", same(pairs(rows), pairs(warm_ls.search(q, k=k, filters=flt))), q)
        got: dict[int, list] = {}
        for r in sorted(batch_rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
        rng = np.random.default_rng([self.args.seed, 13])
        qids = set(rng.choice(len(qset), CHECK_SAMPLE, replace=False).tolist()) | {max(qset)}
        for qid in sorted(qids):
            self.check("batch=serve", same(got.get(qid, []), pairs(warm_ls.search(qset[qid], k=10))), qset[qid])
        n_match = Counter(int(r["query_id"]) for r in perc_rows)
        for qid in list(standing)[:CHECK_SAMPLE]:
            ref = len(warm_ls.search(standing[qid], k=len(self.frame)))
            self.check("percolate=serve", n_match.get(qid, 0) == ref,
                       f"{standing[qid]}: {n_match.get(qid, 0)} vs {ref}")

    def df_spread(self, warm_ls, mix) -> dict:
        """df of the serving mix's term occurrences, as a share of documents."""
        words = [t for q, _, _ in mix for t in q.replace('"', " ").split() if t not in ("AND", "NOT")]
        words = [t.split("^")[0] for t in words]
        meta = warm_ls.term_meta(sorted(set(words)))
        dfs = np.array([meta[t]["df"] / self.stats["n_docs"] for t in words if t in meta])
        return {
            "p10": round(pct(dfs, 10), 4), "p50": round(pct(dfs, 50), 4), "p90": round(pct(dfs, 90), 4),
            "share_ge_0.5": round(float(np.mean(dfs >= 0.5)), 4),
        }

    # ---- the run ----------------------------------------------------------

    def main(self) -> dict:
        from fugu_spark.serve import LocalSearcher

        self.setup()
        mix_gen = inputs.QueryMix(self.args.seed, self.cfg["head_share"], self.frame)
        mix = mix_gen.mix(400)
        pool = mix_gen.mix(WARM_POOL)
        sample = mix_gen.mix(CHECK_SAMPLE)

        self.set_op("prewarm:0")
        warm_ls = LocalSearcher(self.index_dir)
        for q, k, flt in pool:  # fill the postings LRU, untimed
            warm_ls.search(q, k=k, filters=flt)
        self.props["warm_set_decoded_bytes"] = int(warm_ls._post_cache_bytes)
        self.props["lru_bytes"] = int(warm_ls._post_cache_cap)
        seq = self.warm_sequence(pool)
        if self.tracer is not None:
            # in-process A/B of the wrappers' cost on the warm path
            self.tracer.restore()
            plain = self.run_warm(warm_ls, pool, seq, 0, MIN_ROUNDS * WARM_PER_ROUND, "warm_untraced")
            self.tracer.install()
        lat = self.run_serving(mix, warm_ls, pool, seq)
        cold, warm, api = lat["cold"], lat["warm"], lat["api"]
        samples = {"cold": len(cold), "warm": len(warm), "api": len(api)}
        self.tails = {f"{ph}_p{q}_ms": round(pct(v, q) * 1e3, 3) for ph, v in
                      (("cold", cold), ("warm", warm), ("api", api)) for q in (50, 90, 95, 99)}
        self.tails["host_ref_p50_ms"] = round(pct(lat["host_ref"], 50) * 1e3, 3)
        t0 = time.perf_counter()
        self.serve_gates(warm_ls, sample)
        self.timing["checks_s"] = time.perf_counter() - t0
        self.props["query_df_share"] = self.df_spread(warm_ls, mix)
        metrics = {
            "setup_s": (self.setup_s, "s"),
            "build_postings_per_s": (self.stats["n_postings"] / self.build_s, "postings/s"),
            "index_bytes_per_content_byte": (self.props["index_bytes"] / self.props["content_bytes"], "B/B"),
            "serve_warm_p50_ms": (pct(warm, 50) * 1e3, "ms"),
        }
        if self.tracer is not None:
            # Spark query paths: traced run only (see README.md, "Budget")
            qset = mix_gen.batch_set(N_BATCH, self.cfg["n_hot"])
            standing = mix_gen.standing_set(N_STANDING)
            spark_lat, spark_done = self.run_spark(mix)
            batch_s, batch_rows = self.run_batch(qset)
            perc_s, perc_rows = self.run_percolate(standing)
            self.tracer.restore()
            samples["spark"] = len(spark_lat)
            if batch_rows is None or perc_rows is None:
                raise SystemExit("the batch or percolate job failed")
            self.spark_gates(warm_ls, spark_done, qset, batch_rows, standing, perc_rows)
            self.timing.update(batch_s=batch_s, percolate_s=perc_s)
            self.props.update(batch={"queries": len(qset), "hot": self.cfg["n_hot"]},
                              standing_queries=len(standing))
            metrics = self.layer_metrics(samples, (pct(warm, 50) - pct(plain, 50)) * 1e3)
            metrics.update({
                # run-to-run spread too wide for a bound on a shared host
                # (see README.md); unbounded here and in every detail line
                "serve.cold_p50_ms": (pct(cold, 50) * 1e3, "ms"),
                "engine.api_p50_ms": (pct(api, 50) * 1e3, "ms"),
                "spark_query.p50_s": (pct(spark_lat, 50), "s"),
                "batch.qps": (len(qset) / batch_s, "1/s"),
                "percolate.docs_per_s": (len(self.frame) / perc_s, "docs/s"),
            })
        if not all(samples.values()):
            raise SystemExit(f"a phase completed no operation: {samples}")
        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": int(self.trace),
            "load": {"loop": "closed", "clients": 1, "master": f"local[{self.cpus}]"},
            "inputs": self.props,
            "samples": samples,
            "timing": {k: round(v, 3) for k, v in self.timing.items()},
            "latency_ms": self.tails,
            "ops": {p: {"attempted": self.ops[p], "failed": self.fails[p]} for p in sorted(self.ops)},
        }
        if self.tracer is not None:
            detail["self_s"] = self.tracer.self_times()
            out_dir = os.path.join(self.args.root, "perfbench", "out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{self.args.workload}-{self.args.seed}.jsonl")
            self.tracer.write(path)
            detail["trace_file"] = os.path.relpath(path, self.args.root)
        print(json.dumps(detail))
        self.spark.stop()

        return {
            "correct": self.correct and sum(self.fails.values()) == 0,
            "attempted": sum(self.ops.values()),
            "failed": sum(self.fails.values()),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }

    # ---- per-layer metrics (traced run) -----------------------------------

    def layer_metrics(self, n: dict, overhead: float) -> dict:
        """Per-layer figures from the spans, counters and Spark job groups."""
        from tracing import SIDECARS

        tr = self.tracer
        c = tr.counters

        def per(name, phase, parent=None, self_time=False, scale=1e3):
            s, _ = tr.total(name, phase, parent, self_time)
            return s * scale / max(n[phase], 1)

        def ctr(phase, key):
            return c.get((phase, key), 0.0)

        n_open = tr.total("serve.open", "coldopen")[1]
        m = {
            "serve.parse_ms": (per("serve.parse", "warm"), "ms"),
            "serve.open_ms": (tr.total("serve.open", "coldopen")[0] * 1e3 / max(n_open, 1), "ms"),
            "serve.term_meta_ms": (per("serve.term_meta", "cold"), "ms"),
            "serve.block_read_ms": (per("serve.block_read", "cold"), "ms"),
            "serve.blocks_read": (ctr("cold", "blocks_read") / n["cold"], "count"),
            "serve.block_bytes_read": (ctr("cold", "block_bytes_read") / n["cold"], "B"),
            "codecs.decode_ms": (per("codecs.decode", "cold"), "ms"),
            "codecs.postings_decoded": (ctr("cold", "postings_decoded") / n["cold"], "count"),
            "serve.cache_hit_ratio": (ctr("warm", "cache_hits") / max(ctr("warm", "cache_gets"), 1), "ratio"),
            "serve.score_combine_ms": (per("serve.search", "warm", self_time=True), "ms"),
            "engine.serve_ms": (per("serve.search", "api", parent="engine.search"), "ms"),
            "engine.to_dataframe_ms": (per("spark.create_dataframe", "api", parent="engine.search"), "ms"),
            "engine.collect_ms": (per("engine.collect", "api"), "ms"),
            "engine.search_self_ms": (per("engine.search", "api", self_time=True), "ms"),
            "engine.spark_fallbacks": (tr.total("engine.spark_fallback", "api")[1], "count"),
            "segment_search.driver_ms": (per("segment_search.call", "spark"), "ms"),
            "segment_search.collect_ms": (per("segment_search.collect", "spark"), "ms"),
            "trace.overhead_warm_p50_ms": (overhead, "ms"),
        }
        self.jobs.settle()
        api = self.jobs.stats(self.groups.get("api", []))
        m["engine.spark_jobs_per_query"] = (api["jobs"] / n["api"], "count")
        sp = self.jobs.stats(self.groups.get("spark", []))
        for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                          ("shuffle_bytes", "B"), ("executor_run_ms", "ms")):
            m[f"spark.{key}_per_query"] = (sp[key] / n["spark"], unit)
        b = self.jobs.stats(["batch"])
        m.update({
            "batch.jobs": (b["jobs"], "count"),
            "batch.stages": (b["stages"], "count"),
            "batch.stage_s.total": (b["stage_s_total"], "s"),
            "batch.stage_s.max": (b["stage_s_max"], "s"),
            "batch.shuffle_bytes": (b["shuffle_bytes"], "B"),
            "batch.task_skew": (b["task_skew"], "ratio"),
        })
        p = self.jobs.stats(["percolate"])
        m.update({
            "percolate.jobs": (p["jobs"], "count"),
            "percolate.stage_s": (p["stage_s_total"], "s"),
            "percolate.shuffle_bytes": (p["shuffle_bytes"], "B"),
        })
        bj = self.jobs.stats(["build"])
        m.update({
            "spark.jobs_per_build": (bj["jobs"], "count"),
            "spark.stages_per_build": (bj["stages"], "count"),
        })
        everything = [g for gs in self.groups.values() for g in gs]
        m["spark.failed_tasks"] = (self.jobs.stats(everything)["failed_tasks"], "count")

        with open(os.path.join(self.index_dir, "_stage_postings_raw.json")) as f:
            raw_s = json.load(f)["wall_sec"]
        seg_build_s = tr.total("segments.build", "setup")[0]
        m.update({
            "segments.postings_raw_s": (raw_s, "s"),
            "segments.encode_s": (tr.total("segments.encode", "setup")[0], "s"),
            "segments.dictionary_s": (tr.total("segments.dictionary", "setup")[0], "s"),
            "segments.build_s": (seg_build_s, "s"),
            "segments.build_wall_gap_s": (seg_build_s - self.stats["build_wall_sec"], "s"),
            "segments.bytes_encoded_per_posting": (self.stats["bytes_encoded"] / self.stats["n_postings"], "B"),
            "engine.build_self_s": (tr.total("engine.build", "setup", self_time=True)[0], "s"),
        })
        for suffix in SIDECARS:
            m[f"engine.sidecar_s.{suffix}"] = (tr.total(f"engine.sidecar.{suffix}", "setup")[0], "s")
        known = 0
        for sub in INDEX_SUBDIRS:
            nb = dir_bytes(os.path.join(self.index_dir, sub))
            known += nb
            m[f"index.bytes.{sub}"] = (nb, "B")
        m["index.bytes.other"] = (self.props["index_bytes"] - known, "B")
        m["tokenizer.kernel_postings_per_s"] = (self.tokenizer_rate(), "postings/s")
        return m

    def tokenizer_rate(self) -> float:
        """``postings_batch`` over a fixed slice of the corpus in this
        process (no Spark): median of three passes."""
        from fugu_spark.tokenizer import postings_batch

        texts = self.frame["text"].iloc[:200].reset_index(drop=True)
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = len(postings_batch(texts, encode_positions=True))
            rates.append(n / (time.perf_counter() - t0))
        return statistics.median(rates)


_REF = np.random.default_rng(0).random(1 << 17)


def host_ref() -> float:
    """Seconds for a fixed numpy/pandas kernel (sort + group-sum over 128k
    values): a yardstick for how fast the host ran during a run."""
    import pandas as pd

    t0 = time.perf_counter()
    order = np.argsort(_REF)
    pd.Series(_REF).groupby((order & 1023)).sum()
    return time.perf_counter() - t0


def make_inputs(seed: int, n_docs: int, max_text_len: int, corpus_dir: str, n_files: int):
    """→ (corpus frame, truncated texts, pure-Python oracle index); the
    corpus is written as parquet, the only input the program reads."""
    from tests.oracle import PyIndex

    frame, truncated = inputs.corpus_frame(seed, n_docs, max_text_len)
    inputs.write_corpus(frame, corpus_dir, n_files)
    oracle = PyIndex(dict(zip(frame["doc_id"].tolist(), frame["text"].tolist())))
    return frame, truncated, oracle


def pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else float("nan")


def pairs(res) -> list[tuple[int, float]]:
    """Top-k result (pandas frame or collected rows) → [(doc_id, score)]."""
    if hasattr(res, "itertuples"):
        return [(int(d), float(s)) for d, s in zip(res["doc_id"], res["score"])]
    return [(int(r["doc_id"]), float(r["score"])) for r in res]


def same(a: list, b: list) -> bool:
    """Same ranked (doc_id, score) lists, scores to 1e-9 relative."""
    return len(a) == len(b) and all(
        da == db and abs(sa - sb) <= 1e-9 * max(1.0, abs(sb)) for (da, sa), (db, sb) in zip(a, b)
    )


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    result = Run(args, WORKLOADS[args.workload]).main()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
