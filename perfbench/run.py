"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of standard output is
the result JSON; the line before it holds the run's details (host
annotation, input sizes, sample counts, tail percentiles, failed
checks). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: input sizes per workload; see README.md for what they produce
SIZES = {
    "ingest_crawl": dict(pages=32, shards=4, requests=400),
    "serve_retrieval": dict(pages=32, shards=4, requests=400),
    "recrawl_maintain": dict(pages=32, shards=4, requests=400, recrawl_batches=8),
}
#: nominal seconds of one unit of measured work, which turns --seconds
#: into a fixed amount of work per run (the same sample mix every run)
UNIT_S = {"ingest_crawl": 10.0, "serve_retrieval": 6.0, "recrawl_maintain": 10.0}

END_TO_END = {
    "setup_s": "s",
    "ingest_pages_per_s": "pages/s",
    "search_p50_ms": "ms",
    "ann_p50_ms": "ms",
    "pq_p50_ms": "ms",
    "keyword_p50_ms": "ms",
    "query_tail_ms": "ms",
    "ann_recall_at_5": "ratio",
    "pq_recall_at_5": "ratio",
    "commit_p50_ms": "ms",
    "commit_tail_ms": "ms",
    "store_bytes_per_chunk": "bytes",
    "peak_rss_mb": "MB",
}

COUNTER_LAYERS = ("warc", "html", "textops", "embedding", "sinks", "ann", "postings", "pq", "dedup")
COUNTERS = {"jobs": "count", "stages": "count", "tasks": "count", "shuffle_bytes": "bytes",
            "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s"}
STREAMS = ("novelty", "postings", "ann", "pq")

PER_LAYER = {
    "session.start_s": "s",
    "warc.self_s": "s", "warc.records": "count", "warc.pages": "count",
    "html.self_s": "s", "html.pages": "count", "html.bytes_in": "bytes",
    "textops.self_s": "s", "textops.sections": "count", "textops.chunks": "count",
    "embedding.self_s": "s", "embedding.chunks": "count",
    "sinks.write_s": "s", "sinks.bytes": "bytes", "sinks.files": "count",
    "sinks.write_tasks": "count", "sinks.max_task_row_share": "ratio",
    "ann.build_s": "s", "postings.build_s": "s", "pq.build_s": "s", "dedup.build_s": "s",
    "ann.probe_ms": "ms", "ann.files_read_per_probe": "count", "ann.candidates_per_result": "ratio",
    "ann.jobs_per_probe": "count", "ann.live_segments": "count",
    "pq.probe_ms": "ms", "pq.files_read_per_probe": "count", "pq.candidates_per_result": "ratio",
    "pq.jobs_per_probe": "count", "pq.live_segments": "count",
    "postings.query_ms": "ms", "postings.jobs_per_query": "count", "postings.live_segments": "count",
    "query_api.search_ms": "ms", "query_api.jobs_per_search": "count", "query_api.rows_scanned": "count",
    **{f"{s}.{op}": u for s in ("ann", "postings", "pq")
       for op, u in (("upsert_ms", "ms"), ("delete_ms", "ms"), ("compact_s", "s"), ("compactions", "count"))},
    "dedup.gate_ms": "ms", "dedup.admitted_frac": "ratio", "dedup.live_segments": "count",
    "dedup.compact_s": "s", "dedup.compactions": "count",
    **{f"streaming.fold_ms.{s}": "ms" for s in STREAMS},
    **{f"streaming.jobs_per_batch.{s}": "count" for s in STREAMS},
    **{f"{layer}.{c}": u for layer in COUNTER_LAYERS for c, u in COUNTERS.items()},
    "trace.wall_s": "s",
}


def host_probe() -> dict:
    """nproc, the 1-minute load average and a single-core speed probe
    (best of three runs of a fixed pure-Python loop)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t0)
    return {"nproc": len(os.sched_getaffinity(0)), "load1": os.getloadavg()[0],
            "speed_probe_ms": best * 1e3}


def rss_mb(pid: int | None) -> float:
    """Peak RSS of this Python process plus, if given, the JVM's."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    if pid is not None:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
    return py + jvm


def start_session(work: str, cores: int):
    """The engine's own session factory, with every scratch path the
    JVM and the Python workers write kept inside the working dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        # a fixed-size heap keeps the JVM's resident size from depending
        # on when the collector chose to grow it
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms1g'",
        "pyspark-shell",
    ])
    from data_ingestion_spark.session import get_spark

    return get_spark("perfbench", cpus=cores)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def install_layer_spans(tracer) -> None:
    """Traced runs only: wrap the store lifecycle functions the
    maintenance streams call, so their upserts, deletes and compactions
    show as spans. The wrappers time the call and change nothing."""
    from data_ingestion_spark.functions import dedup as DD
    from data_ingestion_spark.functions import pq as PQ
    from data_ingestion_spark.functions import similarity as SIM

    targets = {
        (SIM, "upsert_postings_index_versioned"): "postings.upsert",
        (SIM, "delete_index_ids"): "postings.delete",
        (SIM, "compact_index"): "postings.compact",
        (SIM, "upsert_ann_store_versioned"): "ann.upsert",
        (SIM, "delete_ann_ids"): "ann.delete",
        (SIM, "compact_ann_store"): "ann.compact",
        (PQ, "upsert_ivfpq_store"): "pq.upsert",
        (PQ, "delete_ivfpq_ids"): "pq.delete",
        (PQ, "compact_ivfpq_store"): "pq.compact",
        (DD, "upsert_band_store"): "dedup.upsert",
        (DD, "compact_band_store"): "dedup.compact",
    }
    for (mod, name), span in targets.items():
        fn = getattr(mod, name)

        def wrapped(*a, __fn=fn, __span=span, **kw):
            with tracer.span(__span):
                return __fn(*a, **kw)

        setattr(mod, name, wrapped)


# ---------------------------------------------------------------- workloads
def wl_ingest_crawl(b, units: int) -> dict:
    """Crawl passes in a fresh process: WARC → vector store → four
    roots, each pass into fresh roots, then one request of each kind on
    them. Set-up is only the session: a batch ingest job pays the JVM
    and worker warm-up on every run, so the first pass measures it."""
    from workloads import Roots

    b.bm25_checks = 0
    b.reset_samples()
    setup_end = time.perf_counter()
    last = None
    for p in range(1, units + 1):
        roots = Roots(os.path.join(b.work, f"g{p}"))
        b.commits.append(b.crawl(roots, staged=b.traced))
        b.pages_in += b.manifest["pages"]
        truth = b.vs_truth(roots.vs)
        b.serve(roots, truth, 4)
        if last is not None:
            shutil.rmtree(last.base)
        last = roots
    if b.traced:
        b.check(b.chunk_set_hash(last.vs) == b.fused_chunk_hash(),
                "staged ingest chunk set differs from the fused plan's")
    return {"setup_end": setup_end, "roots": last, "truth": truth, "chunks": len(truth[0])}


def wl_serve_retrieval(b, units: int) -> dict:
    """Stores built and single-segment in setup; then only requests."""
    from workloads import Roots

    roots = Roots(os.path.join(b.work, "g0"))
    commit = b.crawl(roots, staged=False)
    truth = b.vs_truth(roots.vs)
    b.serve(roots, truth, 4)
    setup_end = time.perf_counter()
    b.reset_samples()
    b.commits.append(commit)
    b.pages_in += b.manifest["pages"]
    b.serve(roots, truth, 4 * units)
    return {"setup_end": setup_end, "roots": roots, "truth": truth, "chunks": len(truth[0])}


def wl_recrawl_maintain(b, units: int) -> dict:
    """Re-crawl batches folded through the maintenance streams, with
    one round of the request mix after each batch. The inline BM25
    check runs here, on the maintained postings root."""
    from workloads import Recrawl, Roots

    roots = Roots(os.path.join(b.work, "g0"))
    b.crawl(roots, staged=False)
    truth = b.vs_truth(roots.vs)
    setup_end = time.perf_counter()
    b.reset_samples()
    rc = Recrawl(b, roots, truth)
    b.recrawl = rc
    n_batches = len(os.listdir(os.path.join(b.inputs, "recrawl")))
    for n in range(min(units, n_batches)):
        b.commits.append(b.op(lambda: rc.batch(n), f"recrawl batch {n}") or 0.0)
        b.pages_in += b.manifest["recrawl"]["rows_per_batch"]
        truth = rc.truth()
        b.serve(roots, truth, 4)
    b.live_id_check(roots, set(rc.live))
    b.note("dedup.admitted_frac", rc.admitted / max(1, rc.offered))
    return {"setup_end": setup_end, "roots": roots, "truth": truth, "chunks": len(rc.live)}


WORKLOADS = {
    "ingest_crawl": wl_ingest_crawl,
    "serve_retrieval": wl_serve_retrieval,
    "recrawl_maintain": wl_recrawl_maintain,
}


# ---------------------------------------------------------------- metrics
def end_to_end(b, out: dict, setup_s: float, peak_rss: float) -> dict:
    from workloads import tail

    all_lat = [x for v in b.lat.values() for x in v]
    commits = [c for c in b.commits if c > 0]
    vals = {
        "setup_s": setup_s,
        "ingest_pages_per_s": b.pages_in / sum(commits),
        "search_p50_ms": statistics.median(b.lat["search"]),
        "ann_p50_ms": statistics.median(b.lat["ann"]),
        "pq_p50_ms": statistics.median(b.lat["pq"]),
        "keyword_p50_ms": statistics.median(b.lat["keyword"]),
        "query_tail_ms": tail(all_lat)[1],
        "ann_recall_at_5": out["ann_recall"],
        "pq_recall_at_5": out["pq_recall"],
        "commit_p50_ms": statistics.median(commits) * 1e3,
        "commit_tail_ms": tail(commits)[1] * 1e3,
        "store_bytes_per_chunk": out["store_bytes"] / out["chunks"],
        "peak_rss_mb": peak_rss,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def per_layer(b, tracer, session_s: float, wall_s: float) -> dict:
    tot = tracer.layer_totals()
    notes = {k: statistics.fmean(v) for k, v in b.layer.items()}

    def mean_ms(name: str) -> float:
        t = tot.get(name)
        return t["wall_s"] / t["n"] * 1e3 if t else 0.0

    def self_s(name: str) -> float:
        t = tot.get(name)
        return t["self_s"] / t["n"] if t else 0.0

    def per_call(name: str, key: str) -> float:
        t = tot.get(name)
        return t[key] / t["n"] if t else 0.0

    vals = {"session.start_s": session_s, "trace.wall_s": wall_s}
    for layer in ("warc", "html", "textops", "embedding"):
        vals[f"{layer}.self_s"] = self_s(layer)
    vals["sinks.write_s"] = self_s("sinks")
    for s in ("ann", "postings", "pq", "dedup"):
        vals[f"{s}.build_s"] = self_s(f"{s}.build")
    vals["ann.probe_ms"] = mean_ms("ann.probe")
    vals["ann.jobs_per_probe"] = per_call("ann.probe", "jobs")
    vals["pq.probe_ms"] = mean_ms("pq.probe")
    vals["pq.jobs_per_probe"] = per_call("pq.probe", "jobs")
    vals["postings.query_ms"] = mean_ms("postings.query")
    vals["postings.jobs_per_query"] = per_call("postings.query", "jobs")
    vals["query_api.search_ms"] = mean_ms("query_api.search")
    vals["query_api.jobs_per_search"] = per_call("query_api.search", "jobs")
    for s in ("ann", "postings", "pq", "dedup"):
        vals[f"{s}.compact_s"] = mean_ms(f"{s}.compact") / 1e3
        vals[f"{s}.compactions"] = tot[f"{s}.compact"]["n"] if f"{s}.compact" in tot else 0
    for s in ("ann", "postings", "pq"):
        vals[f"{s}.upsert_ms"] = mean_ms(f"{s}.upsert")
        vals[f"{s}.delete_ms"] = mean_ms(f"{s}.delete")
    vals["dedup.gate_ms"] = self_s("streaming.novelty") * 1e3
    for s in STREAMS:
        vals[f"streaming.fold_ms.{s}"] = mean_ms(f"streaming.{s}")
        vals[f"streaming.jobs_per_batch.{s}"] = per_call(f"streaming.{s}", "jobs")
    for layer in COUNTER_LAYERS:
        for c in COUNTERS:
            vals[f"{layer}.{c}"] = sum(t[c] for name, t in tot.items()
                                       if name == layer or name.startswith(layer + "."))
    for k in PER_LAYER:
        if k not in vals:
            vals[k] = notes.get(k, 0.0)
    return {k: {"value": float(vals[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.perf_counter()
    host = {"start": host_probe()}
    excluded = time.perf_counter() - t0

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import data_ingestion_spark  # noqa: F401  (fails outside a checkout)
    import gen
    from spans import Tracer
    from workloads import Bench, tail

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)

    t0 = time.perf_counter()
    manifest = gen.generate(os.path.join(work, "inputs"), args.seed,
                            gen.Sizes(**SIZES[args.workload]), 64)
    excluded += time.perf_counter() - t0

    cores = min(2, host["start"]["nproc"])
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t0
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        if args.trace:
            install_layer_spans(tracer)
        b = Bench(spark, tracer, work, os.path.join(work, "inputs"), manifest)
        units = max(1, round(args.seconds / UNIT_S[args.workload]))
        out = WORKLOADS[args.workload](b, units)
        measured_s = time.perf_counter() - out["setup_end"]
        setup_s = out["setup_end"] - T_START - excluded
        roots, truth = out["roots"], out["truth"]
        out["ann_recall"] = b.recall("ann", roots, truth)
        out["pq_recall"] = b.recall("pq", roots, truth)
        out["store_bytes"] = b.store_bytes(roots)
        b.note("dedup.live_segments", b.live_segments(roots.band))
        peak = rss_mb(jvm_pid)
        tracer.attach_counters()
        if args.trace:
            metrics = per_layer(b, tracer, session_s, measured_s)
        else:
            metrics = end_to_end(b, out, setup_s, peak)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    host["end"] = host_probe()

    stem = f"{args.workload}-seed{args.seed}"
    if args.trace:
        tracer.dump(os.path.join(out_dir, f"spans-{stem}.jsonl"))
    else:
        with open(os.path.join(out_dir, f"untraced-{stem}.json"), "w", encoding="utf-8") as f:
            json.dump({"measured_s": measured_s}, f)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "cores": cores,
        "inputs": {k: manifest[k] for k in ("pages", "html_bytes", "warc_records", "requests")}
        | {"chunks": out["chunks"]},
        "units": units, "measured_s": measured_s, "session_s": session_s,
        "samples": {k: len(v) for k, v in b.lat.items()} | {"commit": len(b.commits)},
        "tail_percentile": {"query": tail([x for v in b.lat.values() for x in v])[0],
                            "commit": tail(b.commits)[0]},
        "failures": b.failures[:20],
    }
    if args.trace:
        prior = os.path.join(out_dir, f"untraced-{stem}.json")
        if os.path.exists(prior):
            with open(prior, encoding="utf-8") as f:
                detail["trace_overhead_s"] = measured_s - json.load(f)["measured_s"]
        detail["stream_jobs_range_vs_runid_group"] = [
            (sp["name"], sp["jobs"], sp.get("group_jobs"))
            for sp in tracer.spans if sp["name"].startswith("streaming.")
        ][:8]
    print(json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
