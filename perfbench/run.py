"""bm25spark benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload hot --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. It builds a seeded corpus into an
index on ``local[cores]`` Spark, runs the workload's timed window,
checks every result outside the window, and prints a report followed
by one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same window twice (untraced, then traced) and reports the per-layer
metrics and the tracing overhead. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# one directory per process, removed when the run ends
WORK = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
OUT = os.path.join(ROOT, ".perfbench_out")
MAX_CORES = 4
DRIVER_MEM = "3g"


def pin_environment() -> dict:
    """Everything the JVM and the Python workers inherit, set before
    Spark starts and identical on every run of every commit."""
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "data"), exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = {
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "BM25SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    }
    os.environ.update(env)
    # the driver's Arrow scans (a few small reads per cold query) run on
    # one thread of each pool, the same on every host whatever its cores
    import pyarrow

    pyarrow.set_cpu_count(1)
    pyarrow.set_io_thread_count(1)
    return {
        "cores": cores, "driver_arrow_threads": 1,
        **{k: env[k] for k in ("PYTHONPATH", "SPARK_LOCAL_DIRS", "BM25SPARK_DRIVER_MEM")},
    }


def source_digest() -> str:
    """sha256 of the library sources, so a result names the code it
    measured even in a checkout without git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "bm25spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    r = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=False
    )
    return r.stdout.strip() or "none"


def _children(pid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                out.append(int(p))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS (VmHWM) of this driver process and of the Spark JVM."""
    jvm = [p for p in _descendants(os.getpid()) if _comm(p) == "java"]
    return _hwm_kb(os.getpid()) / 1024.0, sum(_hwm_kb(p) for p in jvm) / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark, end the gateway JVM, then kill and wait for any other
    process this run started."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        for p in _children(os.getpid()):
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [p for p in _descendants(os.getpid()) if not _zombie(p)]
        if not left:
            break
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def end_to_end(run) -> dict:
    return {
        "setup_s": (run.setup["setup_s"], "s"),
        "index_bytes_per_input_byte": (run.setup["index_bytes"] / run.text_bytes, "ratio"),
        "driver_rss_mb": (run.setup["driver_rss_mb"], "MB"),
    }


def timings(run, w: dict) -> dict:
    """Latency and throughput of the timed calls. On a host with a
    shared CPU they spread between runs by more than a 25% regression
    bound, so they are reported (per layer, and untraced in the ``#``
    lines) but not gated."""
    from perfbench.scenario import BATCH, CORPUS_DOCS, percentile

    lat = w["lat"]
    return {
        "index.search_p50_ms": (percentile(lat["query"], 0.50) * 1e3, "ms"),
        "index.search_p95_ms": (percentile(lat["query"], 0.95) * 1e3, "ms"),
        "build.docs_per_s": (CORPUS_DOCS / run.setup["build_s"], "docs/s"),
        "distributed.single.wall_s": (statistics.median(lat["dist"]), "s"),
        "distributed.batch.qps": (BATCH / statistics.median(lat["batch"]), "1/s"),
        "maintain.insert.wall_s": (statistics.median(lat["insert"]), "s"),
        "maintain.delete.wall_s": (statistics.median(lat["delete"]), "s"),
    }


SPARK_KINDS = ("insert", "delete", "dist", "batch")


def per_layer(run, untraced: dict, traced: dict, mark: int, counts: dict) -> dict:
    from perfbench.spans import totals

    tr = run.tracer
    n_q = len(traced["lat"]["query"])
    span_us: dict[str, float] = {}
    for name, t0, t1, _, _ in tr.spans[mark:]:
        span_us[name] = span_us.get(name, 0.0) + (t1 - t0) * 1e6
    selfs = tr.self_times(mark)
    m = dict(run.layer)
    m.update(
        {
            "analyze.query_us": span_us.get("analyze.query_keys", 0.0) / n_q,
            "index.term_stats_us": span_us.get("index.term_stats", 0.0) / n_q,
            "index.postings_for_us": span_us.get("index.postings_for", 0.0) / n_q,
            "index.postings_miss_frac": counts["keys_read"] / max(1, counts["keys_requested"]),
            "artifacts.postings_bytes_read": counts["bytes_read"],
            "wand.decode_us": span_us.get("wand.decode", 0.0) / n_q,
            "wand.blocks_decoded": counts["blocks_decoded"],
            "wand.taat_us": span_us.get("wand.taat", 0.0) / n_q,
            "wand.postings_scored": counts["postings_scored"],
        }
    )
    for kind, name in (("dist", "distributed.single"), ("batch", "distributed.batch")):
        calls = traced["calls"][kind]
        per = [totals(c["jobs"]) for c in calls]
        for f in ("jobs", "stages", "tasks", "exec_s"):
            m[f"{name}.{f}"] = statistics.median([p[f] for p in per])
        m[f"{name}.driver_ms"] = statistics.median(
            [(c["jobs"][0]["submitted"] - c["start"]) * 1e3 for c in calls if c["jobs"]]
        )
    for kind in ("insert", "delete"):
        m[f"maintain.{kind}.jobs"] = statistics.median([len(c["jobs"]) for c in traced["calls"][kind]])
    m["maintain.delta_rows"] = len(run.live_inserted)
    m["maintain.tombstones"] = run.tombstones
    for layer in ("analyze", "index", "artifacts", "wand", "distributed", "maintain"):
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    m["trace.attributed_frac"] = tr.root_time(mark) / traced["wall"]

    def spark_time(w):
        return sum(statistics.median(w["lat"][k]) for k in SPARK_KINDS)

    m["trace.query_overhead_frac"] = (
        statistics.median(traced["lat"]["query"]) / statistics.median(untraced["lat"]["query"]) - 1.0
    )
    m["trace.spark_overhead_frac"] = spark_time(traced) / spark_time(untraced) - 1.0
    return m


UNITS = {"_us": "us", "_ms": "ms", "_s": "s", "_frac": "ratio", "_bytes": "bytes", "bytes_read": "bytes"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def set_up(run, windows: int) -> None:
    """Everything before the first timed call: inputs, the timed build
    (with the driver-side inputs and oracle derived meanwhile), index
    open and warm-up. Ends by restarting the driver's peak-RSS count."""
    from perfbench.scenario import log

    log(f"spark started at {time.perf_counter() - T_START:.1f} s")
    run.generate()
    log(f"inputs generated at {time.perf_counter() - T_START:.1f} s")
    with ThreadPoolExecutor(max_workers=1) as pool:
        derived = pool.submit(run.derive, windows)
        run.build()
        derived.result()
    log(f"index built at {time.perf_counter() - T_START:.1f} s")
    run.open_index()
    run.warm_up()
    run.setup["setup_s"] = time.perf_counter() - T_START
    log(f"set-up done at {run.setup['setup_s']:.1f} s")
    # the driver's peak RSS counts from here: set-up holds the
    # benchmark's own inputs and oracle, not the library's state
    gc.collect()
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def measure(run, seconds: float, trace: bool, spans_path: str) -> tuple[dict, dict]:
    """The timed window (twice when tracing: untraced, then traced) and
    its checks. Returns the last window and the metrics to report."""
    if not trace:
        w = run.window(seconds, run.plans[0])
        run.check(w)
    else:
        run.trace_probes()
        untraced = run.window(seconds, run.plans[0])
        run.tracer.enabled = True
        counts = dict.fromkeys(
            ("keys_requested", "keys_read", "bytes_read", "blocks_decoded", "postings_scored"), 0
        )
        mark = run.tracer.mark()
        with run.driver_layers(counts):
            w = run.window(seconds, run.plans[1])
        run.check(untraced)
        run.check(w)
        layers = per_layer(run, untraced, w, mark, counts)
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as fh:
            json.dump(run.tracer.dump(), fh)
    run.check_delta()
    run.setup["driver_rss_mb"], run.setup["jvm_rss_mb"] = peak_rss_mb()
    if trace:
        return w, {**timings(run, w), **{k: (v, unit_of(k)) for k, v in layers.items()}}
    return w, end_to_end(run)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bm25spark", "__init__.py")):
        print(f"perfbench: no bm25spark package under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import scenario

    if args.workload not in scenario.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(scenario.WORKLOADS)}",
              file=sys.stderr)
        return 2

    env = pin_environment()
    import pyarrow
    import pyspark

    from bm25spark.session import get_spark

    spark = get_spark("perfbench", cores=env["cores"], shuffle_partitions=env["cores"])
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run = scenario.Run(spark, os.path.join(WORK, "data"), args.workload, args.seed, env["cores"])
        if args.trace:
            from perfbench.spans import SparkJobs

            run.jobs = SparkJobs(spark)
        set_up(run, 1 + args.trace)
        w, metrics = measure(
            run, args.seconds, bool(args.trace),
            os.path.join(OUT, f"spans_{args.workload}_seed{args.seed}.json"),
        )
        scenario.log(f"checks done at {time.perf_counter() - T_START:.1f} s")
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:
            pass  # another run is using it

    for f in run.failures:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **env, "commit": git_commit(), "bm25spark_sources": source_digest(),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "corpus_docs": scenario.CORPUS_DOCS,
        "driver_queries": len(w["lat"]["query"]),
        "jvm_peak_rss_mb": run.setup["jvm_rss_mb"],
        "failed_frac": run.failed / max(1, run.attempted),
    }
    if not args.trace:
        info.update({k: f"{v:.6g} {u}" for k, (v, u) in timings(run, w).items()})
    for k, v in info.items():
        print(f"# {k}: {v}")
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:14.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
