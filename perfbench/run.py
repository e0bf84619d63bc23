"""Benchmark of the KG engine's public API: building a graph and reading it.

    python3 perfbench/run.py --workload build|query --seed N --seconds S --trace 0|1

Run from the repository root. One process drives `local[2]` (CORES) with
one client in a closed loop, over the fixed 500-document corpus of inputs.py
(written into the run's work dir; the seed permutes its rows, picks the
recrawled urls and draws the questions). Workloads:

  build  set-up: session start and one untimed build of a 10-document slice
         (the JVM and Python workers warm up; the cold build costs the same
         at any size). Timed op: a full `PipelineRun` (13 stages) into a
         fresh, empty work dir, so no stage can resume. The first timed
         build still pays for some JIT compiles; a run times at least two.
  query  set-up: session start, a base-graph build and one untimed round of
         the six read-path calls. Timed op: a round of six requests, one
         per call in a seeded order, each for a hot or tail entity; no
         ingest work; a run times at least two rounds. With --trace 1 the
         base graph is built from a crawl whose seeded 5 % of urls are
         stale, and `recrawl_upsert` merges the fresh crawl of those urls
         into it; the nine merged tables and re-embedded vectors are the
         snapshot the questions then read.

End-to-end metrics (--trace 0): setup_s, the median wall (op_p50_s) and
CPU seconds of the whole process tree (op_cpu_s) per op, and peak_rss_mb of
the JVM, its Python workers and this process. Per-layer metrics (--trace 1)
come from spans the benchmark records around each call into a layer:
per build stage `<layer>.<stage>.{s,cpu_s,py_cpu_s,jobs,shuffle_mb,
task_skew}`, per merged table `upsert.<table>.s`, per read call
`<module>.<fn>.{p50_s,jobs}`, and the set-up phases. A layer the workload
does not run reports 0. Expected coupling: kernel stages (sources, extract,
ingest, embed) move op_p50_s on build only; canonicalize/assemble move build
and the recrawl (setup.recrawl_s); read-path calls move query only.

Every op's output is checked against pinned.json (made by pin.py): per-stage
row counts and digests for builds, the recrawl-merged tables against a
from-scratch build of the up-to-date corpus, and a digest per (call,
entity) for questions. A run writes its samples (with the GEMM stall
sentinel of bench_extra.py before and after each), provenance and, when
traced, its spans to .perfbench/results/. The last stdout line is
{"correct", "attempted", "failed", "metrics"}. A failing op counts in
`failed`; a failed set-up check makes `correct` false.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from inputs import (  # noqa: E402
    CALLS,
    HOT,
    TAIL,
    question_stream,
    recrawl_ids,
    rows_digest,
    tables_digest,
    write_documents,
)
from spans import RssSampler, Tracer, median, tree_cpu_s  # noqa: E402

# Spark task slots. The engine's builds and reads at this corpus size are
# bound by per-job overhead, not parallelism: local[1], [2] and [4] build in
# the same wall time on 4 cores, but [4] plus the JVM's own threads and the
# Python workers oversubscribe the host, which makes the timings noisier.
CORES = 2
# A run takes at least this many timed ops (builds or rounds), however
# short --seconds is. Set-up takes most of a run of about a minute, so only
# a few ops fit.
MIN_OPS = 2
WARMUP_DOCS = 10

STAGE_LAYER = {
    "pages": "sources",
    "extracted": "extract",
    "docs": "extract",
    "annotations": "ingest",
    "chunks": "ingest",
    "mentions": "ingest",
    "facts_raw": "ingest",
    "canonical_map": "canonicalize",
    "entities": "canonicalize",
    "topics": "assemble",
    "facts": "assemble",
    "relationships": "assemble",
    "vectors": "embed",
}
UPSERT_TABLES = [
    "docs", "chunks", "mentions", "facts_raw", "canonical_map",
    "entities", "topics", "facts", "relationships",
]

# (name, unit, better); BENCHMARK.json lists the same metrics
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("op_cpu_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]
PER_LAYER = (
    [
        (f"{layer}.{stage}.{m}", unit, "lower")
        for stage, layer in STAGE_LAYER.items()
        for m, unit in [("s", "s"), ("cpu_s", "s"), ("py_cpu_s", "s"), ("jobs", "count"),
                        ("shuffle_mb", "MB"), ("task_skew", "ratio")]
    ]
    + [("build.gc_s", "s", "lower"), ("build.spill_mb", "MB", "lower")]
    + [(f"upsert.{t}.s", "s", "lower") for t in UPSERT_TABLES]
    + [("recrawl.jobs", "count", "lower"), ("recrawl.cpu_s", "s", "lower"),
       ("recrawl.shuffle_mb", "MB", "lower"), ("recrawl.gc_s", "s", "lower")]
    + [(f"{c}.{m}", u, "lower") for c in CALLS for m, u in [("p50_s", "s"), ("jobs", "count")]]
    + [("context.build_context.hot_p50_s", "s", "lower"),
       ("context.build_context.tail_p50_s", "s", "lower"),
       ("query.gc_s", "s", "lower")]
    + [("session.start_s", "s", "lower"), ("setup.warmup_s", "s", "lower"),
       ("setup.recrawl_s", "s", "lower")]
    + [("trace.op_p50_s", "s", "lower"), ("trace.overhead_s", "s", "lower")]
)


class Bench:
    """State of one run: session, tracer, work dir, pinned outputs, samples."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, pinned: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.pinned = pinned
        self.samples: list[dict] = []
        self.setup_checks: dict[str, bool] = {}
        self.setup: dict[str, float] = {}
        from bench_extra import sentinel

        self.sentinel = sentinel

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def build(self, sf_dir: str, work_dir: str, traced: bool) -> dict:
        """Run the full DAG; with `traced`, each stage is a span with its own
        Spark job group."""
        from vanna_financial_knowledge_graph_spark.plans.pipeline import PipelineRun

        run_cls = PipelineRun
        if traced:
            tracer = self.tracer

            class run_cls(PipelineRun):  # noqa: N801
                def _run_stage(self, stage, upstream, build, *, params=""):
                    with tracer.span(f"{STAGE_LAYER[stage]}.{stage}", spark_metrics=True):
                        return super()._run_stage(stage, upstream, build, params=params)

        return run_cls(self.spark, sf_dir, work_dir).run()

    def check_tables(self, tables: dict, pinned: dict) -> list[str]:
        """Names of the tables whose rows or digest differ from `pinned`."""
        got = tables_digest({t: tables[t] for t in pinned})
        return [t for t, want in pinned.items() if got[t] != want]

    def timed(self, op: str, fn, traced: bool, **attrs):
        """One timed sample. Returns (sample, result of fn or None when it
        raised)."""
        sample = {"op": op, "traced": traced, **attrs}
        out = None
        try:
            cpu0 = tree_cpu_s()
            with self.tracer.span(op, spark_metrics=traced and op != "build", **attrs) as rec:
                out = fn()
            sample["s"] = rec["s"]
            sample["cpu_s"] = tree_cpu_s() - cpu0
        except Exception as e:  # a failed op is counted, not fatal
            sample["error"] = f"{type(e).__name__}: {e}"
        self.samples.append(sample)
        return sample, out

    @contextmanager
    def sentinel_window(self):
        """Read the stall sentinel before and after the block and store both
        readings in every sample the block takes."""
        first, pre = len(self.samples), self.sentinel()
        try:
            yield
        finally:
            post = self.sentinel()
            for sample in self.samples[first:]:
                sample.update(sentinel_pre=pre, sentinel_post=post)


# -- workloads --------------------------------------------------------------


def run_build(b: Bench, seconds: float) -> None:
    corpus = write_documents(b.path("corpus"), b.seed)
    warm = write_documents(b.path("warm-corpus"), b.seed, only=range(WARMUP_DOCS))
    with b.tracer.span("setup.warmup", phase="setup") as rec:
        b.build(warm, b.path("warmup"), traced=b.tracer.enabled)
    b.setup["setup.warmup_s"] = rec["s"]
    shutil.rmtree(b.path("warmup"), ignore_errors=True)

    t0, i = time.perf_counter(), 0
    # traced runs alternate untraced and traced builds, for the overhead; the
    # seed picks which comes first, so later ops' extra warmth cancels out
    while True:
        traced = b.tracer.enabled and (i + b.seed) % 2 == 1
        work_dir = b.path(f"build-{i}")
        try:
            with b.sentinel_window():
                sample, out = b.timed(
                    "build", lambda: b.build(corpus, work_dir, traced), traced, phase="timed"
                )
            if out is not None:
                t = time.perf_counter()
                sample["mismatched"] = b.check_tables(out, b.pinned["stages"])
                sample["check_s"] = time.perf_counter() - t
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)
        i += 1
        if time.perf_counter() - t0 >= seconds and i >= MIN_OPS:
            break


def _query_calls(spark, t: dict) -> dict:
    from vanna_financial_knowledge_graph_spark.operators.context import build_context
    from vanna_financial_knowledge_graph_spark.operators.embed import (
        search_entities,
        two_stage_search,
    )
    from vanna_financial_knowledge_graph_spark.operators.readpath import (
        entity_one_hop_chunks,
        facts_for_entities,
        two_hop_neighbors,
    )

    return {
        "context.build_context": lambda e: build_context(
            spark, t["entities"], t["relationships"], t["chunks"], t["vectors"],
            e, "earnings and acquisitions",
        ),
        "embed.two_stage_search": lambda e: two_stage_search(
            spark, t["facts"], t["vectors"], [e], "acquisition announcement"
        ),
        "embed.search_entities": lambda e: search_entities(
            spark, t["vectors"], t["entities"], f"{e} earnings outlook"
        ),
        "readpath.two_hop_neighbors": lambda e: two_hop_neighbors(
            t["entities"], t["relationships"], e, 10
        ),
        "readpath.facts_for_entities": lambda e: facts_for_entities(
            t["facts"], [e], "around", 50
        ),
        "readpath.entity_one_hop_chunks": lambda e: entity_one_hop_chunks(
            t["entities"], t["relationships"], t["chunks"], e
        ),
    }


def _recrawled_snapshot(b: Bench, base: dict) -> dict:
    """Merge the fresh crawl of the stale urls into `base` and write the nine
    merged tables plus re-embedded vectors as a snapshot; returns it read
    back. Set-up checks compare it with the from-scratch build."""
    from vanna_financial_knowledge_graph_spark.operators.embed import build_vectors
    from vanna_financial_knowledge_graph_spark.operators.upsert import recrawl_upsert
    from vanna_financial_knowledge_graph_spark.sources.pages import synthesize_pages

    spark = b.spark
    fresh_dir = write_documents(b.path("recrawl"), b.seed, only=recrawl_ids(b.seed))
    synthesize_pages(spark, fresh_dir).write.parquet(b.path("recrawl", "pages"))
    new_pages = spark.read.parquet(b.path("recrawl", "pages"))

    snap = {}
    with b.tracer.span("setup.recrawl", phase="setup") as rec:
        merged = recrawl_upsert(spark, base, new_pages)
        for t in UPSERT_TABLES:
            with b.tracer.span(f"upsert.{t}", spark_metrics=True):
                merged[t].write.parquet(b.path("snapshot", t))
    b.setup["setup.recrawl_s"] = rec["s"]
    for t in UPSERT_TABLES:
        snap[t] = spark.read.parquet(b.path("snapshot", t))
    with b.tracer.span("setup.reembed", phase="setup") as rec:
        width = spark.sparkContext.defaultParallelism * 2
        build_vectors(
            snap["chunks"], snap["entities"], snap["facts"], snap["topics"], width=width
        ).write.parquet(b.path("snapshot", "vectors"))
    b.setup["setup.reembed_s"] = rec["s"]
    snap["vectors"] = spark.read.parquet(b.path("snapshot", "vectors"))
    bad = b.check_tables(snap, b.pinned["recrawl"])
    b.setup_checks["recrawl_equals_rebuild"] = not bad
    if bad:
        print(f"recrawl snapshot differs from the rebuild in {bad}", file=sys.stderr)
    return snap


def run_query(b: Bench, seconds: float) -> None:
    traced_run = b.tracer.enabled
    stale = recrawl_ids(b.seed) if traced_run else frozenset()
    corpus = write_documents(b.path("corpus"), b.seed, stale=stale)
    with b.tracer.span("setup.warmup", phase="setup") as rec:
        tables = b.build(corpus, b.path("base"), traced=traced_run)
    b.setup["setup.warmup_s"] = rec["s"]
    if traced_run:
        tables = _recrawled_snapshot(b, tables)

    calls = _query_calls(b.spark, tables)
    pinned = b.pinned["queries"]

    def ask(call: str, entity: str, traced: bool, phase: str, **attrs) -> None:
        sample, rows = b.timed(
            call, lambda: calls[call](entity).collect(), traced,
            entity=entity, phase=phase, **attrs,
        )
        if rows is not None:
            sample["ok"] = rows_digest(rows) == pinned[call][entity]

    # warm-up round: each call once, untimed (first calls compile their plans)
    with b.tracer.span("setup.query_warmup", phase="setup") as rec:
        for call in CALLS:
            ask(call, HOT[0], False, "setup")
    b.setup["setup.query_warmup_s"] = rec["s"]

    stream = question_stream(b.seed)
    t0, rnd = time.perf_counter(), 0
    # whole rounds keep the call mix fixed; traced runs alternate untraced
    # and traced rounds, for the overhead (seeded order, as for builds)
    while True:
        traced = traced_run and (rnd + b.seed) % 2 == 1
        with b.sentinel_window():
            for call, entity in next(stream):
                ask(call, entity, traced, "timed", round=rnd)
        rnd += 1
        if time.perf_counter() - t0 >= seconds and rnd >= MIN_OPS:
            break


WORKLOADS = {"build": run_build, "query": run_query}


# -- metrics ----------------------------------------------------------------


def _failed(sample: dict) -> bool:
    return "error" in sample or bool(sample.get("mismatched")) or sample.get("ok") is False


def _ops(b: Bench) -> list[dict]:
    """The timed ops that succeeded: each build, and each round of six
    requests (a median over one round's mixed calls would jump between call
    types; the round's total does not)."""
    groups: dict = {}
    for i, s in enumerate(b.samples):
        if s.get("phase") == "timed":
            groups.setdefault(s.get("round", f"build{i}"), []).append(s)
    return [
        {"s": sum(x["s"] for x in g), "cpu_s": sum(x["cpu_s"] for x in g),
         "traced": g[0]["traced"]}
        for g in groups.values()
        if not any(_failed(x) for x in g)
    ]


def end_to_end(b: Bench, session_s: float, peak_rss_mb: float) -> dict:
    ops = _ops(b)
    return {
        "setup_s": session_s + sum(b.setup.values()),
        "op_p50_s": median(op["s"] for op in ops),
        "op_cpu_s": median(op["cpu_s"] for op in ops),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(b: Bench, session_s: float) -> dict:
    tr = b.tracer
    by_id = {s["id"]: s for s in tr.spans}
    m: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}

    # build stages: the timed builds' spans, else (query) the set-up build's
    def build_of(span):
        while span["parent"] is not None:
            span = by_id[span["parent"]]
            if span["name"] in ("build", "setup.warmup"):
                return span
        return None

    stage_spans = [s for s in tr.spans if s["name"] in {f"{v}.{k}" for k, v in STAGE_LAYER.items()}]
    timed = [s for s in stage_spans if build_of(s)["name"] == "build"]
    stage_spans = timed or stage_spans
    for stage, layer in STAGE_LAYER.items():
        name = f"{layer}.{stage}"
        spans = [s for s in stage_spans if s["name"] == name]
        for key in ("s", "cpu_s", "py_cpu_s", "jobs", "shuffle_mb", "task_skew"):
            m[f"{name}.{key}"] = median(s[key] for s in spans)
    builds: dict[int, list[dict]] = {}
    for s in stage_spans:
        builds.setdefault(build_of(s)["id"], []).append(s)
    m["build.gc_s"] = median(sum(s["gc_s"] for s in v) for v in builds.values())
    m["build.spill_mb"] = median(sum(s["spill_mb"] for s in v) for v in builds.values())

    upserts = [s for s in tr.spans if s["name"].startswith("upsert.")]
    for s in upserts:
        m[f"{s['name']}.s"] = s["s"]
    for key in ("jobs", "cpu_s", "shuffle_mb", "gc_s"):
        m[f"recrawl.{key}"] = sum(s[key] for s in upserts)

    requests = [s for s in b.samples if s.get("phase") == "timed" and s["op"] in CALLS]
    for call in CALLS:
        m[f"{call}.p50_s"] = median(s["s"] for s in requests if s["op"] == call and "s" in s)
        m[f"{call}.jobs"] = median(
            s["jobs"] for s in tr.spans
            if s["name"] == call and "jobs" in s and s.get("phase") == "timed"
        )
    ctx = [s for s in requests if s["op"] == "context.build_context" and "s" in s]
    m["context.build_context.hot_p50_s"] = median(s["s"] for s in ctx if s["entity"] in HOT)
    m["context.build_context.tail_p50_s"] = median(s["s"] for s in ctx if s["entity"] in TAIL)
    traced_requests = [s for s in tr.spans if s["name"] in CALLS and "gc_s" in s]
    m["query.gc_s"] = median(s["gc_s"] for s in traced_requests)

    m["session.start_s"] = session_s
    for key in ("setup.warmup_s", "setup.recrawl_s"):
        m[key] = b.setup.get(key, 0.0)

    ops = _ops(b)
    on = median(op["s"] for op in ops if op["traced"])
    off = median(op["s"] for op in ops if not op["traced"])
    m["trace.op_p50_s"] = on
    m["trace.overhead_s"] = on - off
    return m


# -- run --------------------------------------------------------------------


def provenance(root: str, args) -> dict:
    import pyspark

    commit = None  # the benchmark may run from an export, not a clone
    if os.path.exists(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True,
                timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    src = hashlib.sha256()
    pkg = os.path.join(root, "vanna_financial_knowledge_graph_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    src.update(f.encode() + b"\0" + fh.read())
    return {
        "git_commit": commit,
        "source_sha256": src.hexdigest(),
        "nproc": len(os.sched_getaffinity(0)),
        "cores": min(CORES, len(os.sched_getaffinity(0))),
        "pyspark": pyspark.__version__,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "corpus": "perfbench/inputs.py (500 synthetic documents, written to the work dir)",
    }


def _isolate(work: str, root: str) -> None:
    """Keep every file the run writes inside its work dir; must run before
    the first pyspark import."""
    dirs = {k: os.path.join(work, d) for k, d in [
        ("VKG_LOCAL_DIR", "spark-local"), ("VKG_WAREHOUSE", "warehouse"),
        ("VKG_CC_SCRATCH", "cc"), ("TMPDIR", "tmp"),
    ]}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(dirs)
    # no hsperfdata file: the JVM would write it under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['TMPDIR']} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    # the engine's default JVM heap is sized for a large host
    os.environ["VKG_DRIVER_MEM"] = "2g"


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "vanna_financial_knowledge_graph_spark")):
        print("run from the repository root: the package is not here", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "pinned.json")) as f:
        pinned = json.load(f)
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, root)
    sys.path.insert(0, root)

    prov = provenance(root, args)
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            from vanna_financial_knowledge_graph_spark.session import get_spark

            spark = get_spark("perfbench", cpus=prov["cores"])
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            bench = Bench(spark, Tracer(spark, bool(args.trace)), work, args.seed, pinned)
            WORKLOADS[args.workload](bench, args.seconds)
            if args.trace:
                metrics = per_layer(bench, session_s)
                units = {n: u for n, u, _ in PER_LAYER}
            else:
                metrics = end_to_end(bench, session_s, rss.peak_mb)
                units = {n: u for n, u, _ in END_TO_END}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(_failed(s) for s in bench.samples)
    attempted = len(bench.samples)
    correct = failed == 0 and all(bench.setup_checks.values())
    record = {
        "provenance": prov,
        "session_s": session_s,
        "setup": bench.setup,
        "setup_checks": bench.setup_checks,
        "samples": bench.samples,
        "peak_rss_mb": rss.peak_mb,
        "peak_rss_parts_mb": rss.peak_parts,
        "metrics": metrics,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    bench.tracer.write(os.path.join(root, ".perfbench", "results", name), record)
    print(json.dumps({"provenance": prov, "record": os.path.join(".perfbench", "results", name)}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
