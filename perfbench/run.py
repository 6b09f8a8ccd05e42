#!/usr/bin/env python3
"""miru_spark benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload wide --seed 1 --seconds 6 --trace 0

Run from the repository root. Every run generates its inputs from the seed
(perfbench/workload.py), starts Spark at local[<cores>], warms it with a
build over one row per partition, and then times four phases against the
engine's public functions:

  build        one bulk build_index (sha gate on, resume off)
  serve        a closed-loop, single client walks a fixed query set round
               and round with search_local, in five slices that add up to
               --seconds seconds; a query's latency is its median over all
               its runs, most of which find its postings cached
  spark_query  search_batch over a query log, then search_distributed for a
               rare term and for a head-term conjunction
  ingest       a copy of the built index takes a micro-batch of new docs
               plus op='remove' rows: append_batch, refresh, then a fixed
               search_local query set in cold passes

Outputs are checked outside the timed sections. Stdout gets one
``name value unit`` line per metric and, last, one JSON object; the full
record (run stamp, corpus statistics, failures and, with --trace 1, spans
and per-layer metrics) goes to .perfbench/results/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import workload as wl  # noqa: E402
from tracing import Tracer, busy_seconds, install, layer_stage_metrics, read_event_log  # noqa: E402

SERVE_TAIL_PCT = 90
SERVE_SLICES = 5
# cold passes of the ingest query set after each refresh: the refreshed
# index itself, then a byte-identical copy at each later serve slice
COLD_PASSES = SERVE_SLICES

# layer → the job groups (<phase>/<span name>) whose Spark stages it owns
STAGE_LAYERS = {
    "corpus.verify_sha256": ["build/corpus.verify_sha256"],
    "index.build.segments": ["build/index.build.key_partition", "build/index.build.segments"],
    "index.merge": ["build/index.merge"],
    "index.build.filters": ["build/index.build.filters"],
    "query.scorer.batch": ["spark_query/query.scorer.batch"],
    "query.scorer.single": ["spark_query/query.scorer.single"],
    "streaming.ingest.append": ["ingest/streaming.ingest.append", "ingest/index.build.key_partition",
                                "ingest/index.build.segments"],
    "streaming.ingest.refresh": ["ingest/streaming.ingest.refresh", "ingest/index.merge",
                                 "ingest/index.build.filters", "ingest/index.removal.apply"],
}


def pct(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, math.ceil(p / 100.0 * len(v)) - 1))]


def same_ranking(ref: list[tuple[int, float]], got: list[tuple[int, float]], tie: float) -> bool:
    """Identical docID ranks and scores within 1e-6 relative. Docs whose
    reference scores lie within ``tie`` of each other form a tie group that
    may be listed in either order (the last group may be cut by k)."""
    if len(ref) != len(got):
        return False
    if not all(math.isclose(a[1], b[1], rel_tol=1e-6, abs_tol=tie) for a, b in zip(ref, got)):
        return False
    i = 0
    while i < len(ref):
        j = i + 1
        while j < len(ref) and abs(ref[j][1] - ref[j - 1][1]) <= tie:
            j += 1
        if j < len(ref) and {d for d, _ in ref[i:j]} != {d for d, _ in got[i:j]}:
            return False
        i = j
    return True


def ranking(df) -> list[tuple[int, float]]:
    return list(zip(df["doc_id"].tolist(), df["score"].tolist()))


def keys(df) -> set[tuple[str, str, str]]:
    return set(zip(df["repo"], df["path"], df["commit"]))


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def file_state(path: Path) -> dict[str, tuple[int, int]]:
    return {str(f): (f.stat().st_size, f.stat().st_mtime_ns) for f in path.rglob("*") if f.is_file()}


def cpu_times() -> list[int]:
    """The machine's summed CPU times in clock ticks (first line of
    /proc/stat: user, nice, system, idle, iowait, irq, softirq, steal, ...),
    or [] where there is no /proc/stat."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def run_stamp(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    h = hashlib.sha256()
    for f in sorted((ROOT / "miru_spark").rglob("*.py")):
        h.update(str(f.relative_to(ROOT)).encode() + f.read_bytes())
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        sha = None  # a plain checkout: the source digest identifies the code
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": cores, "ram_gb": round(ram_gb, 1),
        # a quarter of host RAM, at most 4g (the session default is 48g)
        "driver_mem": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "git_sha": sha, "source_digest": h.hexdigest()[:16],
    }


class Run:
    """One run's state: counted operations, metrics and the run record."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.traced = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.info: dict = {}
        self.spark = None
        self.tracer: Tracer | None = None
        self._t0 = time.perf_counter()
        self.info["wall_at_s"] = {}

    def mark(self, what: str) -> None:
        """Record the run's elapsed wall time as ``what`` ends."""
        self.info["wall_at_s"][what] = time.perf_counter() - self._t0

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def attempt(self, what: str, fn, *a, **kw):
        """One counted operation; an error is a failed operation."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as e:  # a failed query must not end the run
            self.failed += 1
            self.failures.append(f"{what}: {type(e).__name__}: {e}"[:400])
            return None


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit, also when the
    gateway to the JVM is broken (a signal can cut a call to it short)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            with contextlib.suppress(Py4JError, OSError):
                gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def main(argv: list[str] | None = None) -> int:
    # on SIGTERM, unwind through the finally blocks that stop Spark and
    # remove the run's scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="miru_spark benchmark (one seeded run)")
    ap.add_argument("--workload", required=True, choices=sorted(wl.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="total length of the serve slices")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    # the engine and the host probe come from the checkout; without them the
    # run stops here, before printing a result
    sys.path.insert(0, str(ROOT))
    from miru_spark.session import get_spark
    from tools import host_probe

    stamp = run_stamp(args)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = ROOT / ".perfbench" / "work" / run_id
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # everything the run, its JVM and its Python workers write stays in the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["MIRU_SPARK_DRIVER_MEM"] = stamp["driver_mem"]

    run = Run(args, work)
    run.info.update(stamp=stamp, probe_before=host_probe.probe(), healthy_gbps=host_probe.BW_HEALTHY_GBPS)
    cpu_before = cpu_times()
    try:
        execute(run, get_spark)
        stop_spark(run.spark)
        run.spark = None
        run.mark("spark stop")
        if run.traced:
            trace_layers(run, work / "eventlog")
            run.mark("event log")
    finally:
        try:
            if run.spark is not None:
                stop_spark(run.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    probe_after = host_probe.probe()
    run.mark("probe")
    run.info["probe_after"] = probe_after
    # the share of CPU time a virtual machine's hypervisor gave elsewhere
    # during the run: a run that is slow on every metric usually shows it here
    cpu = [b - a for a, b in zip(cpu_before, cpu_times())]
    run.info["cpu_steal_share"] = cpu[7] / sum(cpu) if len(cpu) > 7 and sum(cpu) else None
    run.info["probe_healthy"] = min(run.info["probe_before"]["bw_gbps"], probe_after["bw_gbps"]) >= host_probe.BW_HEALTHY_GBPS
    return report(run, spec)


class Server:
    """The closed-loop serve client: one caller, next query when the last
    returns. It walks the query set round and round, in slices spread over
    the run, each slice going on where the last stopped. A query's latency
    is its median over all its runs, which fall in several slices, so a
    burst of host contention in one slice cannot decide it, and neither can
    its first run, which loads its postings into the engine's cache."""

    def __init__(self, run: Run, search_local, idx: Path, stream: list[dict]):
        self.run, self.search_local, self.idx, self.stream = run, search_local, str(idx), stream
        self.i = 0
        self.lat: list[list[float]] = [[] for _ in stream]  # per query, one value per run
        self.slice_samples: list[int] = []
        self.traced_lat: list[float] = []
        self.untraced_lat: list[float] = []
        self.diags: list[dict] = []
        self.results: list[int] = []
        self.slices: list[tuple[int, int]] = []  # each slice's span-index range
        self.coin = random.Random(run.args.seed)

    def serve(self, seconds: float) -> None:
        run, tracer = self.run, self.run.tracer
        first = len(tracer.spans)
        n = 0
        end = time.perf_counter() + seconds
        while time.perf_counter() < end:
            i = self.i % len(self.stream)
            q = self.stream[i]
            self.i += 1
            # a traced run traces a random half of the queries, to measure its own overhead
            on = run.traced and self.coin.random() < 0.5
            tracer.enabled = on
            diag = {} if on else None
            t = time.perf_counter()
            with tracer.span("query.scorer.search_local"):
                res = run.attempt(f"search_local {q['query']!r}", self.search_local, self.idx, q["query"], k=q["k"],
                                  lang_filter=q["lang_filter"], repo_filter=q["repo_filter"], diag=diag)
            dt = (time.perf_counter() - t) * 1000.0
            if res is None:
                continue
            n += 1
            self.lat[i].append(dt)
            if on:
                self.traced_lat.append(dt)
                self.diags.append(diag)
                self.results.append(len(res))
            else:
                self.untraced_lat.append(dt)
        tracer.enabled = run.traced
        self.slice_samples.append(n)
        self.slices.append((first, len(tracer.spans)))


def execute(run: Run, get_spark) -> None:
    args, work, traced = run.args, run.work, run.traced
    cores = run.info["stamp"]["cores"]
    tracer = run.tracer = Tracer(f"{args.workload}-s{args.seed}-t{args.trace}")
    tracer.enabled = traced
    conf = {"spark.ui.showConsoleProgress": "false", "spark.local.dir": str(work / "spark-local")}
    if traced:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    # ---------------------------------------------------------------- setup
    # session, inputs (generated three times: the median counts), and a
    # build over one row per partition: the run's first Spark job, which
    # takes the JVM and Python-worker warm-up out of the timed build
    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = run.spark = get_spark(f"perfbench-{args.workload}", cores=cores, extra_conf=conf)
    session_s = time.perf_counter() - t
    tracer.sc = spark.sparkContext
    gen_s = []
    for _ in range(3):
        t = time.perf_counter()
        inputs = wl.generate(args.workload, args.seed, str(work / "inputs"))
        gen_s.append(time.perf_counter() - t)
    if traced:
        install(tracer)
        run.layers["session.start_s"] = session_s

    import pyarrow.dataset as pads
    from miru_spark.index.build import build_index
    from miru_spark.query import scorer
    from miru_spark.query.oracle import oracle_topk
    from miru_spark.streaming.ingest import append_batch, refresh

    corpus = spark.read.parquet(inputs.corpus_path)
    t = time.perf_counter()
    build_index(spark, corpus.limit(cores), str(work / "warmup_index"), num_partitions=cores, resume=False)
    warmup_s = time.perf_counter() - t
    run.metrics["setup_s"] = session_s + statistics.median(gen_s) + warmup_s
    run.info["setup"] = {"session_s": session_s, "generate_s": gen_s, "warmup_build_s": warmup_s}
    run.info["corpus"] = {
        "docs": inputs.n_docs, "tokens": inputs.n_tokens, "distinct_terms": inputs.n_terms,
        "postings": inputs.n_postings, "content_bytes": inputs.content_bytes,
        "ingest_content_bytes": inputs.batch_content_bytes,
    }
    run.info["spark_conf"] = {k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
                              if k.startswith(("spark.sql.", "spark.driver.memory", "spark.master", "spark.eventLog.enabled"))}
    run.mark("setup")

    # ---------------------------------------------------------------- build
    tracer.phase = "build"
    idx = work / "index"
    t = time.perf_counter()
    with tracer.span("index.build", jobs=True):
        summary = build_index(spark, corpus, str(idx), num_partitions=cores, resume=False, check_sha256=True)
    build_s = time.perf_counter() - t
    run.attempted += 1
    run.metrics["build_files_per_s"] = inputs.n_docs / build_s
    run.metrics["index_bytes_per_content_byte"] = dir_bytes(idx) / inputs.content_bytes
    run.info["build"] = {"wall_s": build_s, "summary": summary}

    stats_df = pads.dataset(str(idx / "stats")).to_table(columns=["df"]).column("df").to_pylist()
    run.check("build n_docs == input rows", summary["n_docs"] == inputs.n_docs)
    run.check("build n_tokens == input tokens", summary["n_tokens"] == inputs.n_tokens)
    run.check("build n_terms == input distinct terms", summary["n_terms"] == inputs.n_terms)
    run.check("sum(stats df) == total postings", sum(stats_df) == inputs.n_postings)
    run.mark("build")
    if traced:
        run.layers["index.merge.groups"] = pads.dataset(str(idx / "merged")).count_rows()
        extra_builds(run, build_index, corpus, cores, build_s)

    # ---------------------------------------- serve, slice 1 of SERVE_SLICES
    server = Server(run, scorer.search_local, idx, inputs.stream)
    cold: list[list[float]] = [[] for _ in inputs.ingest_queries]  # per query, one value per cold pass
    later: list[list[tuple[Path, set]]] = [[] for _ in range(COLD_PASSES - 1)]  # cold passes of slices 2..

    def ask(path: Path, gone: set) -> list[float | None]:
        """The ingest query set on ``path``: each query's latency (None if
        it failed). No doc in ``gone`` may appear in any result."""
        out = []
        for q in inputs.ingest_queries:
            t = time.perf_counter()
            res = run.attempt(f"ingest search_local {q!r}", scorer.search_local, str(path), q, k=wl.K)
            out.append(None if res is None else (time.perf_counter() - t) * 1000.0)
            if res is not None:
                run.check(f"no removed doc in {q!r}", not (keys(res) & gone))
        return out

    def cold_pass(path: Path, gone: set) -> None:
        tracer.phase = "ingest"
        with (tracer.counting("miru_spark.query.scorer", "decode_postings", "codec.postings_decoded")
              if traced else contextlib.nullcontext()):
            for v, dt in zip(cold, ask(path, gone)):
                if dt is not None:
                    v.append(dt)

    def serve_slice() -> None:
        if server.slices:  # from the second slice on, a round of the later cold passes first
            for path, gone in later.pop(0):
                cold_pass(path, gone)
        tracer.phase = "serve"
        server.serve(args.seconds / SERVE_SLICES)

    serve_slice()

    # --------------------------------------------------------------- ingest
    # micro-batches on a fresh copy of the built index; an untraced run
    # times the first batch, a traced run applies them all (visible_growth)
    live = work / "ingest_index"
    shutil.copytree(idx, live)
    visible, warm, written = [], [], []
    removed: set[tuple] = set()
    n_docs = inputs.n_docs
    for b, path in enumerate(inputs.batch_paths[: None if traced else 1]):
        tracer.phase = "ingest"
        batch_df = spark.read.parquet(path)
        before = file_state(live)
        t = time.perf_counter()
        with tracer.span("streaming.ingest.append", jobs=True):
            append_batch(batch_df, b, str(live), partitions_per_batch=cores)
        with tracer.span("streaming.ingest.refresh", jobs=True):
            rsum = refresh(spark, str(live))
        visible.append(time.perf_counter() - t)
        run.attempted += 2
        removed |= set(inputs.removed_keys[b])  # what this refresh has just applied
        after = file_state(live)
        written.append(sum(s for f, (s, m) in after.items() if before.get(f) != (s, m)) / inputs.batch_content_bytes[b])

        # Right after refresh the engine's caches hold nothing of the new
        # generation, so every term is loaded and decoded: one cold pass
        # now. The caches key on the index path, so byte-identical copies
        # made now give the other cold passes, one at each later serve
        # slice, spread over the run. Then a warm pass.
        cold_pass(live, removed)
        for c in range(COLD_PASSES - 1):
            copy = work / f"cold_b{b}_c{c}"
            shutil.copytree(live, copy)
            later[c].append((copy, set(removed)))
        warm += [dt for dt in ask(live, removed) if dt is not None]
        tracer.phase = "check"
        n_docs += wl.INGEST_ADDS
        run.check(f"batch {b}: n_docs after refresh", rsum["n_docs"] == n_docs)
        run.check(f"batch {b}: removals applied", rsum["n_removed"] == len(removed))
        for key, term in zip(inputs.removed_keys[b], inputs.removed_probe[b]):
            res = run.attempt("removal probe", scorer.search_local, str(live), term, k=1000)
            if res is not None:
                run.check(f"removed {key} absent", key not in keys(res))
    run.metrics["ingest_visible_s"] = statistics.median(visible)
    run.mark("ingest")
    serve_slice()

    # correctness: a seeded query sample against the brute-force BM25 oracle
    tracer.phase = "check"
    oracle_corpus = spark.read.parquet(inputs.oracle_path)
    for q in inputs.oracle_sample:
        got = run.attempt("oracle sample search_local", scorer.search_local, str(idx), q["query"], k=q["k"],
                          lang_filter=q["lang_filter"], repo_filter=q["repo_filter"])
        ref = run.attempt(f"oracle_topk {q['query']!r}", lambda: oracle_topk(
            oracle_corpus, q["query"], k=q["k"], lang_filter=q["lang_filter"], repo_filter=q["repo_filter"]).collect())
        if got is not None and ref is not None:
            run.check(f"oracle == search_local {q['query']!r}",
                      same_ranking([(r["doc_id"], r["score"]) for r in ref], ranking(got), 1e-9))
    run.mark("oracle check")
    serve_slice()

    # ---------------------------------------------------------- spark_query
    tracer.phase = "spark_query"
    t = time.perf_counter()
    with tracer.span("query.scorer.batch", jobs=True):
        batch_rows = run.attempt("search_batch", lambda: scorer.search_batch(spark, str(idx), inputs.log, k=wl.K).collect())
    batch_s = time.perf_counter() - t
    single_s, single_rows = [], []
    for q in inputs.singles:
        t = time.perf_counter()
        with tracer.span("query.scorer.single", jobs=True):
            single_rows.append(run.attempt(f"search_distributed {q!r}",
                                           lambda: scorer.search_distributed(spark, str(idx), q, k=wl.K).collect()))
        single_s.append(time.perf_counter() - t)
    if traced:
        t = time.perf_counter()
        with tracer.span("query.scorer.batch1", jobs=True):
            run.attempt("search_batch of one", lambda: scorer.search_batch(spark, str(idx), inputs.singles[:1], k=wl.K).collect())
        run.layers["query.scorer.batch1_s"] = time.perf_counter() - t
    run.metrics["batch_qps"] = len(inputs.log) / batch_s
    run.metrics["spark_single_s"] = statistics.median(single_s)
    run.info["spark_query"] = {"batch_s": batch_s, "batch_queries": len(inputs.log), "single_s": single_s}
    run.mark("spark_query")

    serve_slice()

    tracer.phase = "check"
    if batch_rows is not None:
        by_q: dict[int, list] = {}
        for r in sorted(batch_rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, q in enumerate(inputs.log):  # search_batch rounds scores to 6 places
            loc = run.attempt("search_local (batch check)", scorer.search_local, str(idx), q, k=wl.K, gather=False)
            if loc is not None:
                run.check(f"search_batch == search_local {q!r}", same_ranking(ranking(loc), by_q.get(qid, []), 2e-6))
    for q, rows in zip(inputs.singles, single_rows):
        loc = run.attempt("search_local (single check)", scorer.search_local, str(idx), q, k=wl.K, gather=False)
        if loc is not None and rows is not None:
            run.check(f"search_distributed == search_local {q!r}",
                      same_ranking(ranking(loc), [(r["doc_id"], r["score"]) for r in rows], 2e-6))
    run.mark("batch check")
    serve_slice()

    tracer.phase = "done"
    # the latency of a cold ingest query is its median over the cold passes
    cold_q = [statistics.median(v) for v in cold if v]
    run.metrics["ingest_query_p50_ms"] = statistics.median(cold_q)
    run.info["ingest"] = {"visible_s": visible, "bytes_written_per_content_byte": written,
                          "cold_ms_per_query": cold_q, "cold_ms": cold, "warm_ms": warm}
    # percentiles over the query set of each query's median latency
    per_q = [statistics.median(v) for v in server.lat if v]
    run.metrics["serve_p50_ms"] = statistics.median(per_q)
    run.metrics[f"serve_p{SERVE_TAIL_PCT}_ms"] = pct(per_q, SERVE_TAIL_PCT)
    by_shape: dict[str, list] = {}
    for q, v in zip(server.stream, server.lat):
        if v:
            by_shape.setdefault(q["shape"], []).append(statistics.median(v))
    flat = [x for v in server.lat for x in v]
    run.info["serve"] = {"samples": len(flat), "queries": len(per_q), "slice_samples": server.slice_samples,
                         "p50_ms_by_shape": {k: statistics.median(v) for k, v in sorted(by_shape.items())},
                         **{f"p{p}_ms": pct(per_q, p) for p in (95, 99)},
                         **{f"all_samples_p{p}_ms": pct(flat, p) for p in (50, 90, 99)}, "max_ms": max(flat),
                         "per_query_ms": server.lat}
    run.mark("serve")
    if traced:
        tracer.unwrap()
        serve_layers(run, server)
        run.layers["streaming.ingest.bytes_written_per_content_byte"] = statistics.median(written)
        run.layers["streaming.ingest.visible_growth"] = visible[-1] / visible[0]
        n_cold = sum(len(v) for v in cold)
        run.layers["query.scorer.cold_ms"] = sum(x for v in cold for x in v) / n_cold
        run.layers["codec.postings_decoded"] = tracer.counts["codec.postings_decoded"] / n_cold
        run.layers["query.scorer.warm_ms"] = statistics.fmean(warm)


def extra_builds(run: Run, build_index, corpus, cores: int, traced_build_s: float) -> None:
    """Traced run only: the fixed-cost build (one row per partition), and two
    twins of the timed build, one traced and one not, for the tracing
    overhead. The twins run back to back after the timed build, in an order
    that flips with the seed's parity, so neither is always the warmer one.
    Spark's event log is per session and stays on for both: the in-run
    figure is the cost of the spans and job-group calls. The whole cost,
    event log included, is the timed build against the untraced run of the
    same seed, when that run's record is at hand."""
    tracer = run.tracer
    tracer.phase = "fixed"
    t = time.perf_counter()
    with tracer.span("index.build", jobs=True):
        build_index(run.spark, corpus.limit(cores), str(run.work / "index_fixed"), num_partitions=cores, resume=False)
    run.layers["index.build.fixed_s"] = time.perf_counter() - t
    tracer.phase = "twin"
    twin_s = {}
    for on in ((True, False) if run.args.seed % 2 else (False, True)):
        tracer.enabled = on
        t = time.perf_counter()
        with tracer.span("index.build", jobs=True):
            build_index(run.spark, corpus, str(run.work / f"index_twin{int(on)}"), num_partitions=cores,
                        resume=False, check_sha256=True)
        twin_s[on] = time.perf_counter() - t
    tracer.enabled = True
    run.layers["trace.overhead_build_s"] = twin_s[True] - twin_s[False]
    overhead = {"twin_traced_s": twin_s[True], "twin_untraced_s": twin_s[False]}
    untraced = ROOT / ".perfbench" / "results" / f"{run.args.workload}-s{run.args.seed}-t0.json"
    with contextlib.suppress(OSError, ValueError, KeyError):
        rec = json.loads(untraced.read_text())["info"]
        if rec["stamp"]["source_digest"] == run.info["stamp"]["source_digest"]:
            overhead["build_vs_untraced_run_s"] = traced_build_s - rec["build"]["wall_s"]
    run.info["trace_overhead"] = overhead


def serve_layers(run: Run, server: Server) -> None:
    """Per-query layer means over the traced serve queries."""
    tracer, L = run.tracer, run.layers
    n = max(1, len(server.traced_lat))
    total: dict[str, float] = {}
    self_s = 0.0
    hits = requested = 0
    for s in tracer.find("query.scorer.search_local", "serve"):
        kids = tracer.children(s)
        self_s += s.dur - sum(k.dur for k in kids)
        for k in kids:
            total[k.name] = total.get(k.name, 0.0) + k.dur
            if k.name == "query.scorer.postings":
                hits += k.attrs["hits"]
                requested += k.attrs["requested"]
    n_filtered = sum(1 for s in tracer.find("query.scorer.search_local", "serve")
                     if any(k.name == "roaring.filter" for k in tracer.children(s)))
    L["query.parser.parse_ms"] = total.get("query.parser.parse", 0.0) * 1000 / n
    L["query.scorer.expand_ms"] = total.get("query.scorer.expand", 0.0) * 1000 / n
    L["query.scorer.postings_ms"] = total.get("query.scorer.postings", 0.0) * 1000 / n
    L["roaring.filter_ms"] = total.get("roaring.filter", 0.0) * 1000 / max(1, n_filtered)
    L["query.scorer.self_ms"] = self_s * 1000 / n
    L["query.scorer.posting_cache_hit_ratio"] = hits / max(1, requested)
    L["query.scorer.scored_per_result"] = sum(d.get("scored", 0) for d in server.diags) / max(1, sum(server.results))
    wand = [d for d in server.diags if "after_blockmax" in d]
    L["query.scorer.wand_kept_ratio"] = sum(d["after_blockmax"] for d in wand) / max(1, sum(d["union_size"] for d in wand))
    L["trace.overhead_query_ms"] = statistics.median(server.traced_lat) - statistics.median(server.untraced_lat)
    run.info["serve"]["traced_queries"] = len(server.traced_lat)
    by_slice = []
    for lo, hi in server.slices:
        loads = [s for s in tracer.spans[lo:hi] if s.name == "query.scorer.postings"]
        by_slice.append(sum(s.attrs["hits"] for s in loads) / max(1, sum(s.attrs["requested"] for s in loads)))
    run.info["serve"]["posting_cache_hit_ratio_by_slice"] = by_slice


def trace_layers(run: Run, log_dir: Path) -> None:
    """Span- and event-log-derived layer metrics (after Spark has stopped,
    so the event log is complete)."""
    tracer, L = run.tracer, run.layers
    stages, jobs = read_event_log(str(log_dir))
    for layer, groups in STAGE_LAYERS.items():
        for k, v in layer_stage_metrics(stages, groups).items():
            L[f"{layer}.{k}"] = v

    def dur(name: str, phase: str) -> float:
        return sum(s.dur for s in tracer.find(name, phase))

    def under(parent, name: str) -> float:
        return sum(c.dur for c in tracer.children(parent) if c.name == name)

    build = tracer.find("index.build", "build")[0]
    L["corpus.verify_sha256_s"] = dur("corpus.verify_sha256", "build")
    L["index.build.segments_s"] = dur("index.build.key_partition", "build") + dur("index.build.segments", "build")
    L["index.merge.wall_s"] = dur("index.merge", "build")
    L["index.build.filters_s"] = dur("index.build.filters", "build")
    L["index.merge.core_ms_per_group"] = L["index.merge.task_s"] * 1000.0 / max(1, L["index.merge.groups"])
    L["index.build.span_coverage"] = sum(c.dur for c in tracer.children(build)) / build.dur

    batch = tracer.find("query.scorer.batch", "spark_query")[0]
    L["query.scorer.batch.driver_s"] = batch.dur - busy_seconds(jobs, batch.start, batch.end)
    singles = tracer.find("query.scorer.single", "spark_query")
    L["query.scorer.single.driver_s"] = statistics.median(s.dur - busy_seconds(jobs, s.start, s.end) for s in singles)
    L["query.scorer.single.jobs"] = sum(1 for s in singles for _, a, _e in jobs if s.start <= a <= s.end) / len(singles)

    appends = tracer.find("streaming.ingest.append", "ingest")
    refreshes = tracer.find("streaming.ingest.refresh", "ingest")
    L["streaming.ingest.append_s"] = statistics.median(s.dur for s in appends)
    L["streaming.ingest.refresh_merge_s"] = statistics.median(under(r, "index.merge") for r in refreshes)
    L["streaming.ingest.refresh_filters_s"] = statistics.median(under(r, "index.build.filters") for r in refreshes)
    L["index.removal.apply_s"] = statistics.median(under(r, "index.removal.apply") for r in refreshes)
    covered = sum(c.dur for s in appends + refreshes for c in tracer.children(s))
    L["streaming.ingest.span_coverage"] = covered / sum(run.info["ingest"]["visible_s"])


def report(run: Run, spec: dict) -> int:
    args = run.args
    listed = spec["per_layer"] if run.traced else spec["end_to_end"]
    values = run.layers if run.traced else run.metrics
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}

    record = {"info": run.info, "metrics": run.metrics, "failures": run.failures}
    if run.traced:
        record.update(layers=run.layers, spans=run.tracer.to_json(), counts=dict(run.tracer.counts))
    out = ROOT / ".perfbench" / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record, indent=1, default=str))

    w = args.workload
    c = run.info["corpus"]
    print(f"{w} corpus docs={c['docs']} tokens={c['tokens']} terms={c['distinct_terms']} bytes={c['content_bytes']}")
    steal = run.info["cpu_steal_share"]
    print(f"{w} probe_gbps {run.info['probe_before']['bw_gbps']}/{run.info['probe_after']['bw_gbps']} "
          f"healthy={run.info['probe_healthy']} cpu_steal_share={'n/a' if steal is None else f'{steal:.4f}'}")
    if not run.traced:
        for k, m in metrics.items():
            print(f"{w} {k} {m['value']:.6g} {m['unit']}")
        print(f"{w} serve_samples {run.info['serve']['samples']} count")
    print(f"{w} failed_ops_frac {run.failed / max(1, run.attempted):.6g} ratio ({run.failed}/{run.attempted})")
    for f in run.failures[:5]:
        print(f"{w} FAILED {f}")
    print(f"{w} details {out.relative_to(ROOT)}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed, "metrics": metrics},
                     separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
