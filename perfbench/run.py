#!/usr/bin/env python3
"""spider_spark crawl benchmark.

    python3 perfbench/run.py --workload bench_crawl --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) from the root of a checkout and
prints, as the last line of stdout, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1`` wraps
the program's layers, enables Spark's event log and reports the
per-layer metrics instead.

Every run also writes a side-car JSON under ``.perfbench/results/``: the
host stamp (nproc, git SHA, ALU and steal readings before and after),
the failure notes and, for a traced run, its end-to-end metrics beside
the latest untraced run's and their difference (the tracing overhead).

The benchmark reads and writes only inside the checkout: inputs, the
snapshot store, Spark's local dirs, temp files and the event log all
live under ``.perfbench/``.  It exits 1 when an output check fails and 2
when the program is missing.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proctree  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402

WORKLOADS = ("bench_crawl", "scale_crawl")
NPROC = os.cpu_count() or 1
MB = 1e6


_t_phase = [T_START]


def phase(label: str) -> None:
    """One ``# label: seconds`` progress line on stderr."""
    t = time.time()
    print(f"# {label}: {t - _t_phase[0]:.2f}s", file=sys.stderr, flush=True)
    _t_phase[0] = t


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def count_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def _socket_dir(state: str) -> str:
    """Where Spark puts its Python-worker Unix sockets.  A socket path
    holds at most 107 bytes and Spark names each socket with 42, so the
    checkout's state dir is used when it is short enough, else /tmp."""
    if len(state.encode()) + 1 + 42 <= 107:
        return state
    print(f"perfbench: {state} is too long for Unix socket paths; "
          "Spark's Python-worker sockets go to /tmp", file=sys.stderr)
    return "/tmp"


def steal_ticks() -> tuple[int, int]:
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return (v[7] if len(v) > 7 else -1), sum(v)
    except OSError:
        return -1, 0


def git_sha() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke test's sizes")
    args = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "spider_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no spider_spark program under {ROOT}",
              file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(state, "runs", run_id)
    results = os.path.join(state, "results")
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    events = os.path.join(work, "events")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    submit = ["--driver-java-options",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "--conf", "spark.ui.showConsoleProgress=false",
              "--conf",
              f"spark.python.unix.domain.socket.dir={_socket_dir(state)}"]
    if args.trace:
        submit += tracing.event_log_conf(events)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    sys.path.insert(0, ROOT)

    try:
        return run(args, work, results, events)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, results: str, events: str) -> int:
    import tempfile
    tempfile.tempdir = os.environ["TMPDIR"]

    from spider_spark.hostprobe import alu_probe
    t_probe = time.time()
    stamp = {"nproc": NPROC, "git_sha": git_sha(),
             "alu_mops_pre": alu_probe(NPROC, 0.25)}
    steal0 = steal_ticks()
    probe_s = time.time() - t_probe

    import bench
    missing = [n for n in W.QUERY_PANEL if n not in bench.HEADLINE]
    if missing:
        print(f"perfbench: panel queries not in HEADLINE: {missing}",
              file=sys.stderr)
        return 2

    tracer = tracing.Tracer() if args.trace else None
    if tracer is not None:
        tracing.install(tracer, list(W.QUERY_PANEL))
        _count_candidates(tracer)

    size = W.TINY if args.size == "tiny" else W.FULL
    ledger = W.Ledger()
    rss = proctree.PeakRss()
    rss.start()

    from spider_spark.session import get_spark
    spark = get_spark(app_name="spider_spark_perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    if tracer is not None:
        tracer.sc = spark.sparkContext
    phase("session")
    try:
        c = W.Crawl(args.workload, args.seed, size, work)
        W.build_inputs(spark, c)
        phase("inputs")
        t_boot = time.time()
        c.engine = W.bootstrap(spark, c, os.path.join(work, "store"))
        boot_s = time.time() - t_boot
        phase("bootstrap")
        setup_s = time.time() - T_START - probe_s
        files_boot = count_files(c.engine.store.root)

        t_window = time.time()
        W.run_rounds(c, ledger)
        phase("crawl rounds")
        files_crawl = count_files(c.engine.store.root)
        serve = W.Serve(spark, c, ledger, _pinned(args.size))
        serve.warm_up()
        t_serve = time.time()
        while True:
            serve.cycle()
            if time.time() - t_window >= args.seconds:
                break
        t_end = time.time()
        phase("serve")
        rss.stop.set()
        rss.join()
        store_b = du(c.engine.store.root)
        if tracer is not None:
            serve.extras()
            t_end = time.time()
            phase("enqueue + query panel")

        e2e = _end_to_end(c, serve, setup_s, rss.peak, store_b)
        oracle = W.oracle_check(c, ledger)
        phase("checks")
        kernels = _kernels(c, tracer) if tracer is not None else None
    finally:
        _stop_spark(spark)

    steal1 = steal_ticks()
    stamp["alu_mops_post"] = alu_probe(NPROC, 0.25)
    stamp["steal_pct"] = (
        round(100.0 * (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]), 2)
        if steal0[0] >= 0 and steal1[1] > steal0[1] else -1.0)

    side = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "host": stamp, "notes": ledger.notes,
            "bootstrap_s": boot_s, "end_to_end": e2e}
    if tracer is None:
        metrics = e2e
    else:
        log = tracing.read_event_log(events)
        for path in os.listdir(events):
            shutil.copy(os.path.join(events, path), os.path.join(
                results, f"{args.workload}-eventlog.json"))
        metrics = _per_layer(c, tracer, log, oracle, kernels,
                             boot_span_s=boot_s, files=(files_boot,
                                                        files_crawl),
                             windows=(t_window, t_serve, t_end))
        side["absent_layers"] = tracer.absent
        side["spans"] = len(tracer.spans)
        side["tracing_overhead"] = _overhead(results, args.workload, e2e)
        tracer.dump(os.path.join(results, f"{args.workload}-spans.jsonl"))
    with open(os.path.join(
            results, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
            "w") as f:
        json.dump(side, f, indent=1, default=str)
    print(json.dumps({"host": stamp, "notes": ledger.notes[:20]}),
          file=sys.stderr)

    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in _units(args.trace).items()},
    }))
    return 0 if ledger.failed == 0 else 1


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _pinned(size: str) -> dict:
    with open(os.path.join(HERE, "pinned_counts.json")) as f:
        return json.load(f)[size]


def _units(traced: int) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    key = "per_layer" if traced else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def _end_to_end(c: W.Crawl, serve: W.Serve, setup_s: float, peak: int,
                store_b: int) -> dict:
    """Every end-to-end figure of the run; BENCHMARK.json names the ones
    steady enough to gate on, the side-car keeps them all."""
    k = sum(r["k"] for r in c.rounds)
    wall = sum(r["wall"] for r in c.rounds)
    w = serve.walls
    return {
        "setup_s": setup_s,
        "crawl_urls_per_s": k / wall if wall else 0.0,
        "lookup_s_p50": W.median(w["lookup"]),
        "lookup_s_p90": W.percentile(w["lookup"], 90),
        "status_s_p50": W.median(w["status"]),
        "search_s_p50": W.median(w["search"]),
        "peak_rss_mb": peak / MB,
        "store_mb": store_b / MB,
    }


def _count_candidates(tracer: tracing.Tracer) -> None:
    """Count each admission's candidates in a ``benchmark`` span before
    the (traced) admit runs.  The count is one extra Spark job, which
    the per-layer report excludes from the engine's jobs and time."""
    from spider_spark.operators import admission
    admit = admission.admit

    def counting_admit(spark, candidates, *a, **kw):
        with tracer.span("count_candidates", "benchmark") as s:
            n = candidates.count()
        tracer.candidates.append((s.start, n))
        return admit(spark, candidates, *a, **kw)

    admission.admit = counting_admit


def _kernels(c: W.Crawl, tracer: tracing.Tracer) -> dict:
    """Kernel timings in this process on fixed samples: the tokenizer's
    ASCII path and its automaton (CJK) path, and url canonicalization
    (the body of admission's Arrow UDF)."""
    import pandas as pd
    from spider_spark.functions import tokenizer, urlnorm
    from spider_spark.sources.corpus import TOKEN_POOL

    ascii_pool = [t for t in TOKEN_POOL if t.isascii()]
    ascii_texts = pd.Series([" ".join(ascii_pool[(i + j) % len(ascii_pool)]
                                      for j in range(240))
                             for i in range(200)])
    multi_texts = pd.Series([" ".join(TOKEN_POOL[(i + j) % len(TOKEN_POOL)]
                                      for j in range(240))
                             for i in range(50)])
    urls = pd.Series((c.seeds * (1 + 5000 // max(1, len(c.seeds))))[:5000])

    def rate(fn, arg, work) -> float:
        n, t0 = 0, time.time()
        while True:
            fn(arg)
            n += 1
            dt = time.time() - t0
            if dt >= 0.3:
                return n * work / dt

    n_tok = int(tokenizer.tokenize_series(ascii_texts).map(len).sum())
    return {
        "ascii_tokens_per_s": rate(tokenizer.tokenize_series, ascii_texts,
                                   n_tok),
        "automaton_chars_per_s": rate(tokenizer.tokenize_series,
                                      multi_texts,
                                      int(multi_texts.str.len().sum())),
        "canon_urls_per_s": rate(urlnorm.canonicalize_parts_frame, urls,
                                 len(urls)),
    }


def _per_layer(c: W.Crawl, tracer: tracing.Tracer, log: dict, oracle: dict,
               kernels: dict, boot_span_s: float, files: tuple[int, int],
               windows: tuple[float, float, float]) -> dict:
    spans = [s for s in tracer.spans if s.end > 0]
    t_window, t_serve, t_end = windows
    n = max(1, len(c.rounds))
    rounds = [s for s in spans if s.name == "CrawlEngine.run_round"
              and t_window <= s.start <= t_serve]
    in_rounds = lambda t: any(r.start <= t <= r.end for r in rounds)

    def per_round(values) -> float:
        return sum(values) / n

    walls, selfs, jobs_r = [], [], []
    for r in rounds:
        bench_cover = tracing.child_cover(spans, r, {"benchmark"})
        walls.append(r.dur - bench_cover)
        selfs.append(r.dur - tracing.child_cover(spans, r))
        jobs_r.append([j for j in tracing.jobs_in(log, r.start, r.end)
                       if j.layer != "benchmark"])
    tot = [tracing.job_totals(log, js) for js in jobs_r]
    window_jobs = [j for j in tracing.jobs_in(log, t_window, t_end)
                   if j.layer != "benchmark"]

    def span_sum(pred) -> float:
        return sum(s.dur for s in spans if pred(s))

    admitted = sum(r["admitted"] for r in c.rounds)
    cands = sum(nc for t, nc in tracer.candidates if in_rounds(t))
    ks = [r["k"] for r in c.rounds]
    serve_read = {"SnapshotStore.read", "SnapshotStore.read_buckets",
                  "SnapshotStore.read_status", "SnapshotStore.read_changes",
                  "SnapshotStore.read_catalog"}
    by_sid = {s.sid: s for s in spans}
    store_root = c.engine.store.root
    postings_b = du(os.path.join(store_root, "postings"))

    out = {
        "engine.round_s": W.median(walls),
        "engine.self_s": W.median(selfs),
        "engine.task_s_per_round": per_round(t["run_s"] for t in tot),
        "engine.jobs_per_round": per_round(t["jobs"] for t in tot),
        "engine.stages_per_round": per_round(t["stages"] for t in tot),
        "engine.tasks_per_round": per_round(t["tasks"] for t in tot),
        "engine.core_util": (sum(t["run_s"] for t in tot)
                             / max(1e-9, sum(walls) * NPROC)),
        "engine.gc_s_per_round": per_round(t["gc_s"] for t in tot),
        "engine.shuffle_mb_per_round": per_round(t["shuffle_b"] / MB
                                                 for t in tot),
        "engine.bootstrap_s": boot_span_s,
        "scheduling.queued_rows": per_round(r["queued"] for r in c.rounds),
        "scheduling.selected": per_round(ks),
        "scheduling.fill": per_round(k / c.budget for k in ks),
        "parse.docs_indexed": oracle["indexed"] / n,
        "parse.tokens": oracle["tokens"] / n,
        "tokenizer.ascii_tokens_per_s": kernels["ascii_tokens_per_s"],
        "tokenizer.automaton_chars_per_s": kernels["automaton_chars_per_s"],
        "admission.admit_s": per_round(
            [span_sum(lambda s: s.name == "admit" and in_rounds(s.start))]),
        "admission.jobs": per_round(
            [sum(1 for js in jobs_r for j in js if j.layer == "admission")]),
        "admission.candidates": cands / n,
        "admission.admitted": admitted / n,
        "admission.yield": admitted / cands if cands else 0.0,
        "urlnorm.canon_urls_per_s": kernels["canon_urls_per_s"],
        "seenfilter.calls": float(sum(
            1 for s in spans if s.layer == "seenfilter"
            and t_window <= s.start <= t_end)),
        "seenfilter.jobs": float(sum(1 for j in window_jobs
                                     if j.seenfilter)),
        "seenfilter.store_mb": (du(os.path.join(store_root, "bloom"))
                                + du(os.path.join(store_root, "done"))) / MB,
        "postings.rows_per_round": oracle["postings"] / n,
        "postings.bytes_per_row": (postings_b / oracle["postings"]
                                   if oracle["postings"] else 0.0),
        "store.commit_s": per_round([span_sum(
            lambda s: s.name == "SnapshotStore.commit_round"
            and in_rounds(s.start))]),
        "store.commit_jobs": per_round(
            [sum(1 for js in jobs_r for j in js if j.layer == "store")]),
        "store.write_mb_per_round": per_round(t["output_b"] / MB
                                              for t in tot),
        "store.files_per_round": (files[1] - files[0]) / n,
        "store.read_s": span_sum(
            lambda s: s.name in serve_read and t_serve <= s.start <= t_end
            and (s.parent is None
                 or by_sid[s.parent].layer != "store")),
        "store.read_catalog_calls": float(sum(
            1 for s in spans if s.name == "SnapshotStore.read_catalog"
            and t_serve <= s.start <= t_end)),
        "store.compact_s": span_sum(
            lambda s: s.name == "SnapshotStore.compact_appends"
            and t_window <= s.start <= t_end),
        "store.gc_s": span_sum(
            lambda s: s.name == "SnapshotStore.gc_orphans"
            and t_window <= s.start <= t_end),
        "search.calls": float(sum(
            1 for s in spans if s.name == "and_search"
            and t_window <= s.start <= t_end)),
    }
    modules: dict[str, float] = {}
    for name, module in W.QUERY_PANEL.items():
        v = W.median([s.dur for s in spans if s.name == f"q_{name}"])
        out[f"queries.{name}_s"] = v
        modules[module] = modules.get(module, 0.0) + v
    for module, v in modules.items():
        out[f"queries.{module}_s"] = v
    return out


def _overhead(results: str, workload: str, traced: dict) -> dict:
    """The traced run's end-to-end metrics beside the latest untraced
    run's of the same workload, and their difference."""
    import glob
    runs = sorted(glob.glob(os.path.join(results, f"{workload}-s*-t0.json")),
                  key=os.path.getmtime)
    if not runs:
        return {"traced": traced, "untraced": None}
    with open(runs[-1]) as f:
        untraced = json.load(f)["end_to_end"]
    return {"traced": traced, "untraced": untraced,
            "untraced_run": os.path.basename(runs[-1]),
            "difference": {k: traced[k] - untraced[k] for k in traced
                           if k in untraced}}


if __name__ == "__main__":
    sys.exit(main())
