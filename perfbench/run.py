"""Serving benchmark for newsleak_spark.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 18 --trace 0

One process, one closed-loop client on ``local[4]``. Per run it stores a
seeded synthetic corpus as parquet, builds its index, serves one untimed
warm-up pass, then serves a seeded request mix through ``NewsleakAPI``
for about ``--seconds`` (whole passes of the workload) and checks the
answers.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics instead. The last stdout line is one JSON object; the
exit code is non-zero when any request or check failed. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
STAGES = ("tokenized", "docmeta", "postings", "dictionary", "bigrams", "segments")
# build stages that shuffle (tokenized, docmeta and postings are map-side writes)
SHUFFLE_STAGES = ("dictionary", "bigrams", "segments")
# ranked pages checked against the brute oracle per run (each is a
# full-collection Spark scan, so the sample is small)
RANKED_CHECKS = 1
SERVING_LAYERS = (
    "spec.compile", "engine.dictionary", "engine.plan", "engine.execute",
    "engine.count", "api.ranked_rows", "api.body_fetch", "api.highlight",
    "facets.matching", "facets.collect",
)


def host_speed() -> float:
    """Fixed single-process CPU burn, in work units per second."""
    import numpy as np

    x = np.arange(500_000, dtype=np.uint64)
    t0 = time.perf_counter()
    acc = 0
    for _ in range(100):
        y = (x * np.uint64(0x9E3779B97F4A7C15)) ^ (x >> np.uint64(13))
        acc += int(y[::65536].sum() % 97)
    return 100 / (time.perf_counter() - t0)


def isolate() -> dict[str, str]:
    """Keep the files Spark, the JVM and Python write under WORK;
    returns the Spark conf that does so. The one exception is the
    program's worker zip, which ``session.ensure_workers_can_import``
    always writes to /tmp (removed by ``remove_worker_zip``)."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    for d in (tmp, local, os.path.join(WORK, "eventlog")):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def remove_worker_zip() -> None:
    """Remove the zip ``session.ensure_workers_can_import`` wrote for
    this process's Python workers."""
    zpath = os.path.join("/tmp", f"newsleak_spark_pkg_{os.getpid()}.zip")
    for f in (zpath, zpath + ".tmp"):
        if os.path.exists(f):
            os.remove(f)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, w, seed: int, seconds: float, traced: bool):
        self.w = w
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, dict[str, list[float]]] = {}  # type -> kind -> latencies
        self.done: list[tuple] = []  # (request, latency, traced)
        self.diag: dict = {"phase_s": {}}
        self._mark = time.perf_counter()
        self._phase = "session"

    # -- bookkeeping -------------------------------------------------------

    def phase(self, name: str) -> None:
        """Enter a phase: closes the previous one in the diagnostics'
        wall times and, when traced, tags the phase's Spark jobs."""
        now = time.perf_counter()
        prev = self.diag["phase_s"]
        prev[self._phase] = round(prev.get(self._phase, 0.0) + now - self._mark, 2)
        self._phase, self._mark = name, now
        if self.traced:
            self.spark.sparkContext.setJobGroup(name, name)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED: {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    # -- requests ----------------------------------------------------------

    def call(self, api, req) -> dict | None:
        s = req.spec
        if req.type in ("search", "next_page", "search_total"):
            return api.get_docs(
                s.query, s.time_range, s.roles, s.tools, page=req.page,
                page_size=self.w.page_size, with_total=req.type == "search_total",
            )
        if req.type == "aggregate":
            return api.aggregate(req.detail, s.query, s.time_range)
        if req.type == "timeline":
            return api.get_timeline(s.query, s.time_range, lod=req.detail)
        return api.induce_subgraph(s.query, s.time_range)

    def execute(self, api, req, what: str) -> float:
        """Run one request; returns its wall time. A raised error or an
        error response counts as a failed attempt."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            req.result = self.call(api, req)
        except Exception:
            traceback.print_exc()
            req.result = None
        lat = time.perf_counter() - t0
        if req.result is None or "status" in req.result:
            self.fail(f"{what}: {req.type} {req.spec} -> {req.result}")
            req.result = None
        return lat

    # -- phases ------------------------------------------------------------

    def setup(self, tracer) -> None:
        """Cold set-up: session start, index build, API open and one
        untimed warm-up pass, so every request kind's first call lands
        here. The corpus is stored as parquet first (input generation,
        not set-up)."""
        import pyarrow.parquet as pq

        from newsleak_spark.api import NewsleakAPI
        from newsleak_spark.indexing.build import IndexConfig, build_index
        from newsleak_spark.indexing.manifest import dir_bytes
        from newsleak_spark.session import get_spark
        from newsleak_spark.transcripts import synth_transcripts
        from perfbench.workloads import SpecSource, next_pass, text_phrase_sampler

        conf = isolate()
        if self.traced:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + os.path.join(WORK, "eventlog")
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        self.diag["host_speed_before"] = host_speed()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.w.name}", cores=CORES, extra_conf=conf)
        session_s = time.perf_counter() - t0

        self.phase("corpus")
        corpus_dir = os.path.join(WORK, "corpus")
        synth_transcripts(self.spark, self.w.n_turns, seed=self.seed, partitions=CORES).write.parquet(
            corpus_dir
        )
        self.corpus = self.spark.read.parquet(corpus_dir)
        texts = pq.read_table(corpus_dir, columns=["text"])["text"].to_pylist()
        self.input_bytes = sum(len(t.encode("utf-8")) for t in texts)
        self.src = SpecSource(self.seed, text_phrase_sampler(texts))
        self.cfg = IndexConfig(n_shards=4, n_term_buckets=4)
        self.idx = os.path.join(WORK, "index")

        self.phase("setup")
        t0 = time.perf_counter()
        build_index(self.spark, self.corpus, self.idx, self.cfg)
        self.build_s = time.perf_counter() - t0
        self.index_bytes = dir_bytes(self.idx)
        self.api = NewsleakAPI(self.spark, self.corpus, self.idx)
        self.phase("warmup")
        # a traced run keeps spans on here: the first query opens the
        # index reader, which the serving loop then reuses
        self.run_pass(next_pass(self.w, self.src), tracer, None)
        self.setup_s = session_s + time.perf_counter() - t0
        self.diag.update(
            nproc=os.cpu_count(), master=self.spark.sparkContext.master,
            turns=self.w.n_turns, input_bytes=self.input_bytes,
            index_config={"n_shards": self.cfg.n_shards, "n_term_buckets": self.cfg.n_term_buckets},
        )

    def run_pass(self, reqs, tracer, p: int | None) -> None:
        """Serve one pass in order. ``p`` numbers a timed pass; None marks
        the warm-up pass, whose requests are not recorded and whose spans
        belong to no request."""
        from perfbench.workloads import Request

        pending = []  # term queries whose full page 1 invites a page 2
        for j, req in enumerate(reqs):
            if req.follow_up:
                if not pending:
                    continue
                req = Request("next_page", pending.pop().spec, page=2)
            if p is None:
                self.execute(self.api, req, "warm-up")
            else:
                # a traced run traces alternate steps, shifted by one each
                # pass: over two passes every step kind runs once traced
                # and once untraced, which gives the overhead comparison
                on = self.traced and (j + p) % 2 == 0
                rid = len(self.done)
                if self.traced:
                    group = f"req{rid}:{req.type}" if on else "untraced"
                    self.spark.sparkContext.setJobGroup(group, group)
                tracer.enabled = on
                with tracer.span("request." + req.type, request=rid):
                    lat = self.execute(self.api, req, "serve")
                tracer.enabled = False
                self.done.append((req, lat, on))
            # match-all pages are not followed: they rank by doc_id
            # and page 2 always re-runs (safe rank is k)
            if (
                req.type in ("search", "search_total") and req.spec.query
                and req.result and len(req.result["docs"]) == self.w.page_size
            ):
                pending.append(req)

    def serve(self, tracer) -> None:
        """Closed loop, one client: round(--seconds / pass_s) whole
        passes (a traced run serves at least two)."""
        from perfbench.workloads import next_pass

        api = self.api
        runs0, aggs0 = api.topk_runs, api.agg_runs
        passes = max(round(self.seconds / self.w.pass_s), 2 if self.traced else 1)
        self.phase("serve")
        t0 = time.perf_counter()
        for p in range(passes):
            self.run_pass(next_pass(self.w, self.src), tracer, p)
        self.loop_s = time.perf_counter() - t0
        self.pages = sum(r.type in ("search", "next_page", "search_total") for r, _l, _o in self.done)
        self.topk_runs = api.topk_runs - runs0
        self.agg_runs = api.agg_runs - aggs0
        for req, lat, on in self.done:
            if not on:
                self.samples.setdefault(req.type, {}).setdefault(req.kind, []).append(lat)
        self.diag["passes"] = passes
        self.diag["samples_s"] = {
            t: {k: [round(x, 4) for x in xs] for k, xs in by_kind.items()}
            for t, by_kind in self.samples.items()
        }

    def check_answers(self, tracer) -> None:
        """Ranked pages against the brute BM25 oracle on a seeded sample;
        role-facet and timeline bucket sums against the paired total."""
        from newsleak_spark.api import compile_spec
        from newsleak_spark.query.brute import bm25_topk

        tracer.enabled = False
        self.phase("check_answers")
        rng = random.Random(self.seed + 1)
        ok = [r for r, _l, _o in self.done if r.result is not None]
        ranked = [  # pages with a ranking to check: two or more term-query hits
            r for r in ok
            if r.type in ("search", "next_page", "search_total") and r.spec.query
            and len(r.result["docs"]) >= 2
        ]
        ps = self.w.page_size
        for r in rng.sample(ranked, min(RANKED_CHECKS, len(ranked))):
            s = r.spec
            spec = compile_spec(s.query, s.time_range, s.roles, s.tools, k=r.page * ps)
            want = sorted(
                ((row["doc_id"], row["score_e6"]) for row in bm25_topk(self.corpus, spec).collect()),
                key=lambda t: (-t[1], t[0]),
            )[(r.page - 1) * ps :]
            got = [(d["id"], round(d["score"] * 1e6)) for d in r.result["docs"]]
            self.check(got == want, f"ranked page != brute BM25 for {s} page {r.page}")
        hits = {r.spec.key(): r.result["hits"] for r in ok if r.type == "search_total"}
        for r in ok:
            if r.spec.key() not in hits:
                continue
            if r.type == "aggregate" and r.detail == "role":
                n = sum(b["docCount"] for b in r.result["buckets"])
            elif r.type == "timeline":
                n = sum(b["docCount"] for b in r.result["buckets"])
            else:
                continue
            self.check(
                n == hits[r.spec.key()],
                f"{r.type} {r.detail} bucket sum {n} != total {hits[r.spec.key()]} for {r.spec}",
            )

    # -- metrics -----------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        from perfbench.stats import mix_median, percentile, tail_percentile
        from perfbench.workloads import TYPES

        out = {"setup_s": (self.setup_s, "s", 1)}
        for t in TYPES:
            by_kind = self.samples.get(t, {})
            if not by_kind:
                raise RuntimeError(f"no {t} request completed in the serving loop")
            xs = [x for v in by_kind.values() for x in v]
            out[f"{t}_p50_s"] = (mix_median(by_kind), "s", len(xs))
            p = tail_percentile(len(xs))
            if p is not None:  # a tail is reported only with 10 samples beyond it
                self.diag.setdefault("tail_s", {})[f"{t}_p{p:g}"] = percentile(xs, p)
        n = len(self.done)
        out["requests_per_s"] = (n / self.loop_s, "1/s", n)
        out["build_turns_per_s"] = (self.w.n_turns / self.build_s, "1/s", 1)
        out["index_bytes_per_input_byte"] = (self.index_bytes / self.input_bytes, "ratio", 1)
        return out

    def per_layer(self, tracer, commits: dict[str, list]) -> dict[str, tuple[float, str, int]]:
        from newsleak_spark.indexing.manifest import Manifest
        from perfbench import eventlog
        from perfbench.stats import mix_median
        from perfbench.trace import self_times
        from perfbench.workloads import TYPES

        spans = tracer.spans
        selfs = self_times(spans)
        traced_ids = {i: req.type for i, (req, _l, on) in enumerate(self.done) if on}
        out: dict[str, tuple[float, str, int]] = {}

        layer_total: dict[str, float] = {}
        layer_reqs: dict[str, set] = {}
        root_self: dict[str, list[float]] = {}
        for s, st in zip(spans, selfs):
            if s.request not in traced_ids:
                continue
            if s.name.startswith("request."):
                root_self.setdefault(s.name[len("request."):], []).append(st)
            else:
                layer_total[s.name] = layer_total.get(s.name, 0.0) + st
                layer_reqs.setdefault(s.name, set()).add(s.request)
        for layer in SERVING_LAYERS:
            n = len(layer_reqs.get(layer, ()))
            out[f"{layer}_s"] = (layer_total.get(layer, 0.0) / max(n, 1), "s", n)
        opens = [st for s, st in zip(spans, selfs) if s.name == "engine.reader_open"]
        out["engine.reader_open_s"] = (sum(opens) / max(len(opens), 1), "s", len(opens))
        out["engine.reader_opens"] = (len(opens), "count", len(opens))
        out["api.hit_cache_hit_ratio"] = ((self.pages - self.topk_runs) / max(self.pages, 1), "ratio", self.pages)
        out["api.agg_runs"] = (self.agg_runs, "count", self.agg_runs)
        for t in TYPES:
            xs = root_self.get(t, [])
            out[f"unaccounted.{t}_s"] = (sum(xs) / max(len(xs), 1), "s", len(xs))

        traced_lat: dict[str, dict[int, list[float]]] = {}
        for req, lat, on in self.done:
            if on:
                traced_lat.setdefault(req.type, {}).setdefault(req.kind, []).append(lat)
        both = [t for t in TYPES if traced_lat.get(t) and self.samples.get(t)]
        untr = sum(mix_median(self.samples[t]) for t in both)
        tr = sum(mix_median(traced_lat[t]) for t in both)
        out["trace.overhead_share"] = ((tr - untr) / untr if untr else 0.0, "ratio", len(both))

        jobs = eventlog.read_jobs(eventlog.find_log(os.path.join(WORK, "eventlog")))
        groups = eventlog.by_group(jobs)
        for t in TYPES:
            ids = [i for i, typ in traced_ids.items() if typ == t]
            for f in eventlog.FIELDS:
                if t == "next_page" and f.startswith("shuffle"):
                    continue  # a body fetch is a filtered scan: no exchange
                v = sum(groups.get(f"req{i}:{t}", {}).get(f, 0) for i in ids)
                unit = "s" if f.endswith("_s") else ("bytes" if f.endswith("bytes") else "count")
                out[f"spark.{t}.{f}"] = (v / max(len(ids), 1), unit, len(ids))

        base = Manifest(self.idx).stages
        for st in STAGES:
            rec = base.get(st, {})
            out[f"build.{st}_s"] = (rec.get("wall_sec", 0.0), "s", 1)
            out[f"build.{st}_rows"] = (rec.get("rows", 0), "count", 1)
            out[f"build.{st}_bytes"] = (rec.get("bytes", 0), "bytes", 1)
        setup_jobs = [j for j in jobs if j["group"] == "setup"]
        per_stage = eventlog.by_build_stage(setup_jobs, commits.get(self.idx, []))
        for st in SHUFFLE_STAGES:
            v = per_stage.get(st, {}).get("shuffle_write_bytes", 0)
            out[f"build.{st}_shuffle_write_bytes"] = (v, "bytes", 1)
        return out


def record_commits(commits: dict[str, list]):
    """Wrap Manifest.commit_stage to log (epoch ms, stage) per index dir,
    so event-log jobs can be attributed to build stages."""
    from newsleak_spark.indexing.manifest import Manifest

    orig = Manifest.commit_stage

    def commit_stage(self, rec):
        orig(self, rec)
        commits.setdefault(self.index_dir, []).append((time.time() * 1000.0, rec.name))

    Manifest.commit_stage = commit_stage


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "newsleak_spark", "api.py")):
        print(f"perfbench: no newsleak_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer, install
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} (have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    b = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    tracer = Tracer()
    commits: dict[str, list] = {}
    if b.traced:
        install(tracer)
        record_commits(commits)
        tracer.enabled = True
    try:
        b.setup(tracer)
        b.serve(tracer)
        b.check_answers(tracer)
        b.phase("done")
        b.diag["host_speed_after"] = host_speed()
        if not b.traced:
            metrics = b.end_to_end()
    finally:
        if hasattr(b, "spark"):
            stop_spark(b.spark)
        remove_worker_zip()
    try:
        if b.traced:
            metrics = b.per_layer(tracer, commits)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    print(json.dumps({"diagnostics": b.diag, "error_rate": b.failed / max(b.attempted, 1)}))
    for name, (v, unit, n) in metrics.items():
        print(f"{name:44s} {v:14.6g} {unit:6s} n={n}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _n) in metrics.items()},
    }))
    return 0 if b.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
