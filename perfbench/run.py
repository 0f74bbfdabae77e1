#!/usr/bin/env python3
"""Benchmark of the synteny database build and the browser requests it serves.

Every run is one process on ``local[<cores>]``: it starts a Spark session
twice, each in a new JVM (``setup_s`` is the median start), writes
seeded genomics inputs, builds the nine-table database with
``plans.pipeline.build_database`` in that fresh session (what a nightly ETL
run pays), checks the database with DuckDB, then serves closed-loop browser
requests from four concurrent clients against it and checks every answer
with DuckDB. The two workloads differ in the traffic:

- ``browse``: 30% of requests repeat one of four hot requests (one per kind),
  the traffic a result cache would serve;
- ``fresh``: every request is drawn fresh, which bypasses any result cache.

The traffic is assumed, not measured: no browser request logs exist. The
kinds follow the reference's secondary indexes; the even mix of kinds, the
30% hot share and the even choice among region tables are guesses.

Usage::

    python3 perfbench/run.py --workload browse --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics of a run whose layer
calls are wrapped in spans (written to ``.bench_work/traces/``).
"""

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

from stats import Outcomes, min_samples_for, tail_percentile
from tracing import Tracer, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

# Both workloads keep the four cores busy with four closed-loop clients. On
# the 4-vCPU VM this was tuned on, a single client's median latency ranged
# from 270 to 490 ms over ten runs (its cores sit idle between requests);
# four clients spread less.
CLIENTS = 4
# The workloads differ only in the share of requests that repeat a hot one.
HOT_SHARE = {"browse": 0.3, "fresh": 0.0}
# browse_p80_ms; a run serves enough requests for 10 beyond it. Each kind is a
# quarter of the traffic and synteny_view is the slowest, so p75 would sit on
# the edge between two kinds and jump with the order of a few requests.
P_TAIL = 0.8
MAX_WINDOW_S = 60.0  # keeps a run inside 180 s if requests slow down
# Untimed requests before the measured window. The JVM runs query planning
# and code generation interpreted at first and compiles them as they repeat:
# on a 4-vCPU VM, with four clients, p50 fell from ~600 ms in the first 8 s
# after the build to ~500 ms in the next 8 s and ~400 ms in the third, and
# the first window's level varied most between runs. A count rather than a
# time, so every run enters the window after the same work. More would push
# a round of 48 runs past its 57-minute budget.
WARM_REQUESTS = 48
# setup_s is the median of this many session starts, each in a new JVM; the
# last session serves the run. A start takes ~7 s on a 4-vCPU VM, and a third
# would push a round of 48 runs past its 57-minute budget.
SESSION_STARTS = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(HOT_SHARE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine_temp_files(run_dir: str) -> None:
    """Keep the JVM's, Spark's, DuckDB's and Python's scratch files in the run
    directory. Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of this process plus the JVM (VmHWM), in MiB."""
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            total += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return total / 1024


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway JVM and wait for it to exit,
    so that the next session starts in a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_spans(tracer) -> None:
    """Wrap the package's layer entry points in spans."""
    from syntenybrowserv2_etl_spark import session
    from syntenybrowserv2_etl_spark.operators import closure
    from syntenybrowserv2_etl_spark.plans import loaders
    from syntenybrowserv2_etl_spark.sources import io, obo, text_sources

    def written(sp, args, kwargs, result):
        path = kwargs.get("path", args[1] if len(args) > 1 else None)
        for d, _, names in os.walk(path):
            for n in names:
                if n.startswith("part-"):
                    sp.extra["files"] = sp.extra.get("files", 0) + 1
                    sp.extra["bytes"] = sp.extra.get("bytes", 0) + os.path.getsize(
                        os.path.join(d, n))

    tracer.wrap(session, "get_spark", "session.get_spark")
    for fn in ("read_gff3", "read_headered_tsv", "read_headerless_tsv", "read_vcf", "read_gaf"):
        tracer.wrap(text_sources, fn, "sources.text_sources.read")
    tracer.wrap(obo, "read_obo_terms", "sources.obo.read")
    for fn in LOADERS:
        tracer.wrap(loaders, fn, f"plans.loaders.{fn}")
    tracer.wrap(closure, "transitive_closure", "operators.closure.transitive_closure")
    tracer.wrap(io, "write_table", "sources.io.write_table", on_return=written)
    tracer.wrap(io, "upsert_dedup", "sources.io.upsert_dedup")
    tracer.wrap(io, "assert_no_duplicates", "sources.io.assert_no_duplicates")


LOADERS = ("load_genes_exons", "load_synteny_blocks", "load_cytobands", "load_features",
           "load_variants", "load_homologs", "build_ontology")


def serve(browser, catalog, hot_share, seed, seconds, tracer, need=min_samples_for(P_TAIL)):
    """Closed-loop clients; returns ([(request, latency_s, result, error)],
    window seconds, requests completed in the window). The window lasts
    ``seconds`` or until ``need`` requests succeeded (by default enough for
    the tail percentile), whichever is later; requests in flight when it
    closes are served and timed but not counted as completed in it."""
    from browse import hot_requests, stream

    done, ends, lock = [], [], threading.Lock()
    start = time.perf_counter()
    ok_count = 0

    hot = hot_requests(catalog, random.Random(f"{seed}/hot"))

    def client(i):
        nonlocal ok_count
        rng = random.Random(f"{seed}/{i}")
        for req in stream(catalog, rng, hot, hot_share):
            now = time.perf_counter() - start
            with lock:
                if (now >= seconds and ok_count >= need) or now >= MAX_WINDOW_S:
                    return
                op = f"request-{len(done)}-{i}"
            span = tracer.span(f"browse.{req.kind}", op=op) if tracer else nullcontext()
            t0 = time.perf_counter()
            try:
                with span:
                    res, err = browser.execute(req), None
            except Exception as e:  # a failed request is counted, not fatal
                res, err = None, repr(e)
            t1 = time.perf_counter()
            with lock:
                done.append((req, t1 - t0, res, err))
                ends.append((t1 - start, err is None))
                ok_count += err is None
            if tracer:
                tracer.resolve_jobs(older_than=1.0)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ok_ends = sorted(e for e, ok in ends if ok)
    window = max(seconds, ok_ends[min(need, len(ok_ends)) - 1])
    return done, window, sum(e <= window for e, _ in ends)


def start_session(session) -> tuple[object, list[float]]:
    """Start ``SESSION_STARTS`` sessions one after another, each in a new
    JVM; returns the last and the wall time of every start."""
    times = []
    for i in range(SESSION_STARTS):
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        times.append(time.perf_counter() - t0)
        if i < SESSION_STARTS - 1:
            stop_spark(spark)
    return spark, times


def coverage(served) -> dict[str, int]:
    """Per kind, how many successful requests found the data they ask for."""
    from browse import DATA_PART, KINDS

    found = dict.fromkeys(KINDS, 0)
    for req, _, res, err in served:
        if err is None and res[DATA_PART[req.kind]]:
            found[req.kind] += 1
    return found


def score(served, answer, outcomes) -> None:
    """Count each served request into ``outcomes``: it fails if it raised
    or its result differs from ``answer(request)``."""
    answers = {}
    for req, _, res, err in served:
        if req not in answers:
            answers[req] = answer(req)
        outcomes.record(err is None and res == answers[req],
                        f"{req.kind}{req.params}: {err or 'wrong result'}")


def layer_metrics(tracer, build_span) -> dict[str, tuple[float, str]]:
    """Per-layer figures from the recorded spans."""
    spans = tracer.spans
    selfs = self_times(spans)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def self_sum(name):
        return sum(selfs[s.id] for s in by_name.get(name, []))

    def count(name, what):
        return sum(getattr(s, what) if hasattr(s, what) else s.extra.get(what, 0)
                   for s in by_name.get(name, []))

    m = {
        "session.get_spark_s": (statistics.median(
            selfs[s.id] for s in by_name["session.get_spark"]), "s"),
        "sources.text_sources.read_s": (self_sum("sources.text_sources.read"), "s"),
        "sources.obo.read_s": (self_sum("sources.obo.read"), "s"),
    }
    for fn in LOADERS:
        m[f"plans.loaders.{fn}_s"] = (self_sum(f"plans.loaders.{fn}"), "s")
    m["plans.loaders.jobs"] = (sum(count(f"plans.loaders.{fn}", "jobs") for fn in LOADERS),
                               "count")
    m["operators.closure.transitive_closure_s"] = (
        self_sum("operators.closure.transitive_closure"), "s")
    m["operators.closure.jobs"] = (count("operators.closure.transitive_closure", "jobs"),
                                   "count")
    m["sources.io.write_table_s"] = (self_sum("sources.io.write_table"), "s")
    for what in ("tasks", "files", "bytes"):
        m[f"sources.io.write_table.{what}"] = (count("sources.io.write_table", what),
                                               "count" if what != "bytes" else "B")
    m["sources.io.upsert_dedup_s"] = (self_sum("sources.io.upsert_dedup"), "s")
    m["sources.io.assert_no_duplicates_s"] = (self_sum("sources.io.assert_no_duplicates"), "s")
    m["plans.pipeline.build_database_self_s"] = (selfs[build_span.id], "s")

    # Table families run on their own threads; a family spans from its
    # thread's first to last top-level span inside the build.
    fam: dict[int, tuple[float, float]] = {}
    for s in spans:
        if s.parent == build_span.id and s.thread != build_span.thread:
            lo, hi = fam.get(s.thread, (s.start, s.end))
            fam[s.thread] = (min(lo, s.start), max(hi, s.end))
    m["plans.pipeline.overlap"] = (
        sum(hi - lo for lo, hi in fam.values()) / build_span.duration, "ratio")

    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    from browse import KINDS

    for kind in KINDS:
        rows = []
        for s in by_name.get(f"browse.{kind}", []):
            kids = children.get(s.id, [])
            rows.append((
                sum(c.duration for c in kids if c.name.endswith(".plan")),
                sum(c.duration for c in kids if c.name.endswith(".exec")),
                s.jobs + sum(c.jobs for c in kids),
                s.tasks + sum(c.tasks for c in kids),
            ))
        if not rows:
            raise RuntimeError(f"no traced {kind} requests")
        m[f"browse.{kind}.plan_ms"] = (statistics.median(r[0] for r in rows) * 1000, "ms")
        m[f"browse.{kind}.exec_ms"] = (statistics.median(r[1] for r in rows) * 1000, "ms")
        m[f"browse.{kind}.jobs"] = (statistics.mean(r[2] for r in rows), "count")
        m[f"browse.{kind}.tasks"] = (statistics.mean(r[3] for r in rows), "count")
    return m


def measure(args, run_dir: str) -> tuple[dict, dict, Outcomes]:
    """One run: returns (metrics, summary, outcomes)."""
    # The program under test; absent outside a full checkout, which ends the
    # run here with an ImportError and no result line.
    from syntenybrowserv2_etl_spark import session
    from syntenybrowserv2_etl_spark.plans import pipeline

    import inputs as gen
    from browse import KINDS, Oracle, SparkBrowser
    from checks import check_build

    tracer = Tracer() if args.trace else None
    if tracer:
        install_spans(tracer)
    outcomes = Outcomes()
    phases = {}
    spark = None
    try:
        spark, starts = start_session(session)
        phases["session_starts"] = starts
        if tracer:
            tracer.sc = spark.sparkContext
        t0 = time.perf_counter()
        src = gen.generate(os.path.join(run_dir, "inputs"), args.seed)
        phases["inputs"] = time.perf_counter() - t0

        db = os.path.join(run_dir, "db")
        t0 = time.perf_counter()
        with tracer.span("plans.pipeline.build_database", op="build") if tracer \
                else nullcontext() as build_span:
            if tracer:
                tracer.root = build_span
            counts = pipeline.build_database(spark, src.pipeline_inputs(), db)
        phases["build"] = time.perf_counter() - t0
        if tracer:
            tracer.root = None
            tracer.resolve_jobs()

        t0 = time.perf_counter()
        oracle = Oracle(db, os.path.join(run_dir, "tmp"))
        outcomes.record(True, "build")
        for name, ok in check_build(oracle.con, db, counts, src.is_a_edges()):
            outcomes.record(ok, name)
        db_bytes = sum(os.path.getsize(os.path.join(d, n))
                       for d, _, names in os.walk(db) for n in names if n.endswith(".parquet"))
        catalog = oracle.catalog()
        phases["check_build"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        browser = SparkBrowser(spark, db)
        warm, _, _ = serve(browser, catalog, 0.0, f"{args.seed}/warm-up", 0.0, None,
                           need=WARM_REQUESTS)
        browser.tracer = tracer
        phases["warm_up"] = time.perf_counter() - t0
        served, window_s, completed = serve(
            browser, catalog, HOT_SHARE[args.workload], args.seed, args.seconds, tracer)
        phases["window"] = window_s
        if tracer:
            tracer.resolve_jobs()

        t0 = time.perf_counter()
        score(warm + served, oracle.answer, outcomes)
        found = coverage(served)
        for kind, n in found.items():
            outcomes.record(n > 0, f"coverage:{kind}: no request found data")
        phases["check_browse"] = time.perf_counter() - t0
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        if spark is not None:
            stop_spark(spark)

    lat = [t for _, t, _, err in served if err is None]
    metrics = {
        "setup_s": (statistics.median(starts), "s"),
        "build_first_s": (phases["build"], "s"),
        "db_bytes_per_input_byte": (db_bytes / src.bytes, "ratio"),
        "browse_p50_ms": (statistics.median(lat) * 1000, "ms"),
        "browse_p80_ms": (tail_percentile(lat, P_TAIL) * 1000, "ms"),
        "browse_rps": (completed / window_s, "1/s"),
    }
    if tracer:
        layers = layer_metrics(tracer, build_span)
        layers["peak_rss_mb"] = (rss, "MiB")
        layers["trace.bookkeeping_share"] = (
            tracer.bookkeeping_s / (phases["build"] + window_s), "ratio")
        layers["traced.build_first_s"] = metrics["build_first_s"]
        layers["traced.browse_p50_ms"] = metrics["browse_p50_ms"]
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"))
        metrics = layers
    summary = {
        "workload": args.workload, "seed": args.seed, "clients": CLIENTS,
        "input_lines": src.lines, "requests": len(served), "found_by_kind": found,
        "error_rate": outcomes.error_rate,
        "failures": outcomes.reasons[:10], "peak_rss_mb": round(rss, 1),
        "p50_ms_by_kind": {k: round(1000 * statistics.median(
            [t for r, t, _, e in served if r.kind == k and e is None]), 1) for k in KINDS},
        "phases_s": {k: [round(x, 2) for x in v] if isinstance(v, list) else round(v, 2)
                     for k, v in phases.items()},
    }
    return metrics, summary, outcomes


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    confine_temp_files(run_dir)
    sys.path.insert(0, ROOT)
    try:
        metrics, summary, outcomes = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("summary " + json.dumps(summary))
    print(json.dumps({
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
