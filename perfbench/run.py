"""Resumable extraction-commit benchmark.

One closed-loop client drives ``plans.pipeline.run_extract_job`` over a
seeded pages table, one commit at a time, and checks the text each commit
leaves in the output table byte-for-byte against a golden the program never
sees. Run it from the root of a checkout, so Spark's Python workers can
import ``ocr_spark``:

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics (commits timed untraced);
``--trace 1`` makes one traced commit plus an in-process kernel replay and
prints the per-layer metrics. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the run exits nonzero
when any committed text differs from the golden. See perfbench/README.md
for the workloads and which layer metric should move which end-to-end one.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = ".perfbench"  # cache, warehouses and traces, relative to ROOT
CACHE = os.path.join(STATE, "cache")
WAREHOUSE = os.path.join(STATE, "work", "wh")  # relative: snapshot manifests stay valid
TRACES = os.path.join(STATE, "traces")
TMP = os.path.join(STATE, "tmp")

MIN_COMMITS = 3  # timed commits per run, at least, whatever --seconds says
UNTRACED_IN_TRACE = 2  # untraced commits in a traced run, the overhead base
TYPE_REPLAY_CAP = 256  # docs per page type in the per-type replay


# -- host and process facts (/proc; psutil is not installed) ---------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def python_workers() -> list[int]:
    """Pids of Spark's Python worker processes (the daemon and its forks)."""
    pids = []
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read().split(b"\0"):  # python -m pyspark.daemon
                    pids.append(pid)
        except OSError:
            continue
    return pids


def reset_worker_peaks() -> None:
    """Restart every Python worker's VmHWM (``clear_refs`` value 5), so that
    the peak covers only the work after this call, not set-up or the
    snapshot build that only some runs make."""
    for pid in python_workers():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def worker_peak_rss_mb() -> float:
    """Highest VmHWM among Spark's Python worker processes."""
    peak_kb = 0
    for pid in python_workers():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor took from this machine so far."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# -- session lifecycle ------------------------------------------------------
def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for every child process to end."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # EOF on stdin makes the gateway JVM exit
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def fresh_warehouse(inputs=None) -> str:
    """Empty warehouse, or the restored snapshot with the committed share."""
    shutil.rmtree(WAREHOUSE, ignore_errors=True)
    if inputs is not None and inputs.meta["committed_rows"]:
        shutil.copytree(inputs.path("snapshot"), WAREHOUSE)
    else:
        os.makedirs(WAREHOUSE)
    return WAREHOUSE


def timed_commit(spark, pages, wh: str) -> tuple[float, int]:
    from ocr_spark.plans import pipeline

    t0 = time.perf_counter()
    _, metrics = pipeline.run_extract_job(spark, pages, wh)
    return time.perf_counter() - t0, int(metrics.get("docs") or 0)


def set_up(nproc: int, inputs) -> tuple[object, float]:
    """Session start through the end of an untimed warm pass (JVM, Python
    worker fork, kernel imports, lazy vocab). The warm pass commits half of
    a small all-types table, then all of it, so that the resume path
    (lineage read, anti-join) is warm too."""
    from ocr_spark.plans.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    wh = fresh_warehouse()
    timed_commit(spark, spark.read.parquet(inputs.path("warm1")), wh)
    timed_commit(spark, spark.read.parquet(inputs.path("warm1"), inputs.path("warm2")), wh)
    elapsed = time.perf_counter() - t0
    shutil.rmtree(WAREHOUSE, ignore_errors=True)
    return spark, elapsed


def ensure_snapshot(spark, inputs) -> float:
    """Build, once per cached input, the warehouse in which the committed
    share of the urls is already extracted. Returns the seconds it took."""
    snap = inputs.path("snapshot")
    if not inputs.meta["committed_rows"] or os.path.isdir(snap):
        return 0.0
    t0 = time.perf_counter()
    wh = fresh_warehouse()
    _, docs = timed_commit(spark, spark.read.parquet(inputs.path("committed")), wh)
    if docs != inputs.meta["committed_rows"]:
        raise RuntimeError(f"snapshot commit wrote {docs} docs")
    os.replace(wh, snap)
    return time.perf_counter() - t0


# -- correctness --------------------------------------------------------------
def load_golden(inputs):
    import pyarrow.parquet as pq

    return pq.read_table(inputs.path("golden.parquet")).to_pandas()


def check_output(spark, wh: str, golden, n_input: int) -> dict:
    """Compare the committed output table (all commits) with the golden.

    A url counts as a mismatch when it is missing, committed more than
    once, not in the golden, or its text is not byte-identical; the ratio's
    base is the ``n_input`` urls of the pages table."""
    from ocr_spark.sources.catalog import ManifestTable

    out = (
        ManifestTable(f"{wh}/extracted").read(spark)
        .select("url", "title", "text", "n_spans").toPandas()
    )
    lin = ManifestTable(f"{wh}/lineage").read(spark).select("url").toPandas()
    counts = out["url"].value_counts()
    expected = dict(zip(golden["url"], golden["expected_text"]))
    got = dict(zip(out["url"], out["text"]))
    bad = {u for u, t in expected.items() if got.get(u) != t}
    bad |= {u for u in got if u not in expected}
    bad |= set(counts[counts > 1].index)
    lin_counts = lin["url"].value_counts()
    lineage_ok = bool(
        len(lin_counts) == len(expected) and (lin_counts == 1).all()
        and set(lin_counts.index) == set(expected)
    )
    return {
        "mismatched_urls": len(bad),
        "mismatch_ratio": len(bad) / n_input,
        "lineage_exactly_once": lineage_ok,
        "example": sorted(bad)[:3],
        "output": out,
    }


# -- timed run (--trace 0) -----------------------------------------------------
def timed_run(spark, inputs, golden, seconds: float) -> tuple[dict, dict]:
    pages = spark.read.parquet(inputs.path("pages"))
    expect_docs = inputs.meta["pending_rows"]
    commit_s, steal, stored, checks, failed = [], [], [], [], 0
    rss = 0.0  # sampled after every commit: Spark may retire a worker mid-run
    ncpu = os.cpu_count()  # /proc/stat's first line sums every CPU
    while sum(commit_s) < seconds or len(commit_s) < MIN_COMMITS:
        wh = fresh_warehouse(inputs)
        _, before = workloads.dir_stats(wh)
        steal0 = cpu_steal_s()
        dt, docs = timed_commit(spark, pages, wh)
        steal.append((cpu_steal_s() - steal0) / (ncpu * dt))
        commit_s.append(dt)
        rss = max(rss, worker_peak_rss_mb())
        failed += docs != expect_docs
        stored.append((workloads.dir_stats(wh)[1] - before) / max(docs, 1))
        checks.append(check_output(spark, wh, golden, inputs.meta["rows"]))
    check = max(checks, key=lambda c: c["mismatched_urls"])  # the worst commit
    attempted = len(commit_s)
    noop_docs = None
    if inputs.meta["committed_rows"]:
        # exactly-once across the snapshot and the delta commit, then a
        # follow-up commit with nothing pending must commit nothing
        attempted += 1
        _, noop_docs = timed_commit(spark, pages, wh)
        failed += noop_docs != 0
    failed += sum(not c["lineage_exactly_once"] for c in checks)
    metrics = {
        "docs_per_s": statistics.median(expect_docs / t for t in commit_s),
        "commit_s": statistics.median(commit_s),
        "match_ratio": 1.0 - check["mismatch_ratio"],
        "worker_peak_rss_mb": rss,
        "stored_bytes_per_doc": statistics.median(stored),
    }
    info = {
        "commit_samples_s": commit_s,
        "commit_steal_share": steal,  # share of all CPUs the hypervisor took
        "mismatch_ratio": check["mismatch_ratio"],
        "mismatched_urls": check["mismatched_urls"],
        "mismatched_urls_per_commit": [c["mismatched_urls"] for c in checks],
        "mismatch_examples": check["example"],
        "lineage_exactly_once": all(c["lineage_exactly_once"] for c in checks),
        "noop_commit_docs": noop_docs,
        "attempted": attempted,
        "failed": failed,
    }
    return metrics, info


# -- traced run (--trace 1) ----------------------------------------------------
def replay_frames(inputs, golden, batch_rows: int):
    """Pending pages, as pandas batches of the session's Arrow batch size."""
    import pyarrow.parquet as pq

    pages = pq.read_table(inputs.path("pages")).to_pandas()
    pending = set(golden.loc[~golden["in_snapshot"], "url"])
    pages = pages[pages["url"].isin(pending)].reset_index(drop=True)
    return pages, [pages.iloc[i : i + batch_rows] for i in range(0, len(pages), batch_rows)]


def traced_run(spark, inputs, golden, nproc: int) -> tuple[dict, dict]:
    from ocr_spark.operators.extract import extract_batch
    from ocr_spark.plans import pipeline
    from ocr_spark.sources.catalog import ManifestTable

    tracer = tracing.Tracer()
    pages = spark.read.parquet(inputs.path("pages"))
    expect_docs = inputs.meta["pending_rows"]
    failed = 0

    untraced = []
    for _ in range(UNTRACED_IN_TRACE):
        dt, docs = timed_commit(spark, pages, fresh_warehouse(inputs))
        untraced.append(dt)
        failed += docs != expect_docs
    rss = worker_peak_rss_mb()

    wh = fresh_warehouse(inputs)
    lineage_before = ManifestTable(f"{wh}/lineage").read(spark)
    t0 = time.perf_counter()
    n_pending = pipeline.pending_pages(pages, lineage_before).count()
    anti_join_s = time.perf_counter() - t0
    n_scanned = pages.count()

    files0, bytes0 = workloads.dir_stats(wh)
    mark = len(tracer.spans)
    with tracing.driver_spans(tracer):
        with tracer.span("bench.commit") as commit_span:
            _, m = pipeline.run_extract_job(spark, pages, wh)
    traced_commit_s = commit_span["end"] - commit_span["start"]
    failed += int(m.get("docs") or 0) != expect_docs
    files1, bytes1 = workloads.dir_stats(wh)
    commit_totals = tracer.totals(mark)
    check = check_output(spark, wh, golden, inputs.meta["rows"])

    with tracing.driver_spans(tracer):
        with tracer.span("bench.noop_commit") as noop_span:
            _, m = pipeline.run_extract_job(spark, pages, wh)
    failed += int(m.get("docs") or 0) != 0
    rss = max(rss, worker_peak_rss_mb())

    # kernel replay, in-process and single-threaded, over the same pages
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    replay_pages, batches = replay_frames(inputs, golden, batch_rows)
    types = replay_pages["url"].map(workloads.page_type)
    extract_batch(replay_pages.groupby(types).head(2))  # lazy imports, vocab
    t0 = time.perf_counter()
    replayed = [extract_batch(b) for b in batches]
    replay_s = time.perf_counter() - t0

    mark = len(tracer.spans)
    with tracing.kernel_spans(tracer):
        for b in batches:
            with tracer.span("extract.extract_batch"):
                extract_batch(b)
    kernel_totals = tracer.totals(mark)

    ms_per_doc = {}
    for ptype in workloads.PAGE_TYPES:
        sub = replay_pages[types == ptype].head(TYPE_REPLAY_CAP)
        if not len(sub):
            ms_per_doc[ptype] = 0.0
            continue
        t0 = time.perf_counter()
        for i in range(0, len(sub), batch_rows):
            extract_batch(sub.iloc[i : i + batch_rows])
        ms_per_doc[ptype] = (time.perf_counter() - t0) * 1e3 / len(sub)

    # the replay must describe the program that was timed: byte-identical
    # (url, title, text, n_spans) against the traced commit's output
    import pandas as pd

    rep = pd.concat(replayed)[["url", "title", "text", "n_spans"]]
    committed = check["output"][check["output"]["url"].isin(replay_pages["url"])]
    merged = rep.merge(committed, on="url", how="outer", suffixes=("_r", "_c"), indicator=True)
    replay_identical = bool(
        len(merged) == len(rep) == len(committed)
        and (merged["_merge"] == "both").all()
        and (merged["title_r"] == merged["title_c"]).all()
        and (merged["text_r"] == merged["text_c"]).all()
        and (merged["n_spans_r"] == merged["n_spans_c"]).all()
    )
    failed += not replay_identical

    def total(name):
        return commit_totals.get(name, {}).get("total_s", 0.0)

    batch = kernel_totals.get("extract.extract_batch", {"total_s": 0.0, "self_s": 0.0, "calls": 0})
    append_output_s = total("catalog.append:extracted")
    metrics = {
        "pipeline.scan_partitions": pages.rdd.getNumPartitions(),
        "pipeline.cores": nproc,
        "pipeline.parallel_eff": replay_s / (nproc * append_output_s) if append_output_s else 0.0,
        "pipeline.commit_self_s": commit_totals["pipeline.run_extract_job"]["self_s"],
        "pipeline.noop_commit_s": noop_span["end"] - noop_span["start"],
        "catalog.append_output_s": append_output_s,
        "catalog.append_lineage_s": total("catalog.append:lineage"),
        "catalog.append_metrics_s": total("catalog.append:metrics"),
        "catalog.read_s": sum(v["total_s"] for k, v in commit_totals.items() if k.startswith("catalog.read:")),
        "catalog.files_written": files1 - files0,
        "catalog.bytes_written": bytes1 - bytes0,
        "lineage.anti_join_s": anti_join_s,
        "lineage.pending_ratio": n_pending / n_scanned,
        "extract.batch_s": batch["total_s"],
        "extract.self_s": batch["self_s"],
        "extract.docs": len(replay_pages),
        "extract.batches": batch["calls"],
        "extract.replay_s": replay_s,
    }
    for ptype in workloads.PAGE_TYPES:
        metrics[f"extract.{ptype}_ms_per_doc"] = ms_per_doc[ptype]
    for mod, attr in tracing.KERNELS:
        name = tracing.span_name(mod, attr)
        agg = kernel_totals.get(name, {"self_s": 0.0, "calls": 0})
        metrics[f"{name}.self_s"] = agg["self_s"]
        metrics[f"{name}.calls"] = agg["calls"]
    metrics["workers.peak_rss_mb"] = rss
    metrics["trace.commit_s"] = traced_commit_s
    metrics["trace.untraced_commit_s"] = statistics.median(untraced)
    metrics["trace.overhead_s"] = traced_commit_s - statistics.median(untraced)

    os.makedirs(TRACES, exist_ok=True)
    trace_path = os.path.join(
        TRACES, f"{inputs.meta['workload']}-seed{inputs.meta['seed']}-{tracer.run_id}.json"
    )
    tracer.dump(trace_path, {"workload": inputs.meta["workload"], "seed": inputs.meta["seed"]})
    info = {
        "mismatch_ratio": check["mismatch_ratio"],
        "mismatched_urls": check["mismatched_urls"],
        "mismatch_examples": check["example"],
        "lineage_exactly_once": check["lineage_exactly_once"],
        "replay_identical": replay_identical,
        "trace_file": trace_path,
        "attempted": UNTRACED_IN_TRACE + 2,
        "failed": failed + (not check["lineage_exactly_once"]),
    }
    return metrics, info


# -- entry point -----------------------------------------------------------------
def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="timed commit seconds to accumulate")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (cache key part)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "plans", "pipeline.py")):
        print(f"perfbench: no ocr_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]}
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    # Spark's Python workers import ocr_spark through the inherited path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # keep every temporary file of the run (py4j handshake, Spark block
    # manager and shuffle files, JVM temp files) inside the checkout
    tmp = os.path.join(ROOT, TMP)
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
    )
    import pyspark

    nproc = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    steal_before = cpu_steal_s()
    inputs = workloads.prepare(
        workloads.WORKLOADS[args.workload], args.seed, args.scale, ROOT, CACHE
    )
    golden = load_golden(inputs)

    try:
        spark, setup_s = set_up(nproc, inputs)
        snapshot_s = ensure_snapshot(spark, inputs)
        reset_worker_peaks()
        if args.trace:
            metrics, info = traced_run(spark, inputs, golden, nproc)
        else:
            metrics, info = timed_run(spark, inputs, golden, args.seconds)
            metrics["setup_s"] = setup_s
        conf = {
            k: spark.conf.get(k)
            for k in (
                "spark.master",
                "spark.sql.execution.arrow.maxRecordsPerBatch",
                "spark.sql.shuffle.partitions",
            )
        }
        spark.stop()
    finally:
        shutdown_jvm()
        shutil.rmtree(os.path.dirname(WAREHOUSE), ignore_errors=True)
        shutil.rmtree(TMP, ignore_errors=True)

    facts = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "trace": args.trace,
        "nproc": nproc,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "cpu_steal_s": cpu_steal_s() - steal_before,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "spark_conf": conf,
        "input": {k: inputs.meta[k] for k in ("rows", "bytes", "files", "committed_rows", "pending_rows")},
        "input_cache_hit": inputs.cache_hit,
        "gen_s": (0.0 if inputs.cache_hit else inputs.meta["gen_s"]) + snapshot_s,
        "closed_loop_clients": 1,
        **{k: v for k, v in info.items() if k not in ("attempted", "failed")},
    }
    correct = info["mismatch_ratio"] == 0 and info["failed"] == 0
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(f"mismatch_ratio = {info['mismatch_ratio']:.6g} ratio")
    print("facts " + json.dumps(facts, sort_keys=True))
    result = {
        "correct": correct,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
