"""Benchmark entry point.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout. It generates the inputs from the seed,
starts the engine's own session (``get_spark`` defaults; no tuning confs),
runs one untimed warm-up pass that also checks every result against its
DuckDB oracle, then measures whole passes for ``--seconds`` seconds. With
``--trace 1`` it instead runs one untraced and one traced pass and reports
the per-layer metrics. The last line of standard output is the result
JSON; the line before it is the full run record. Everything the run writes
goes under ``perfbench/.work/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")

WORKLOADS = ("queries", "log_store")
# Input sizes. "full" is what the benchmark measures; "tiny" is the self-test.
SCALES = {
    "full": {"sf": 0.01, "bulk_records": 100_000, "batch": 2_000},
    "tiny": {"sf": 0.001, "bulk_records": 10_000, "batch": 200},
}
def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=tuple(SCALES), default="full")
    p.add_argument(
        "--corrupt-model",
        action="store_true",
        help="self-test only: plant a wrong value in the log_store model",
    )
    return p.parse_args(argv)


# -- environment ----------------------------------------------------------------


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_mem() -> str:
    """A quarter of the box's RAM, at least 2 GB: the session default (16g)
    is more than some boxes have."""
    return f"{max(2, mem_total_mb() // 4096)}g"


def git_sha() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return out.stdout.strip() or "unknown"


def source_digest() -> str:
    """sha256 over the engine's sources: identifies the program even where
    the checkout is not a git repository."""
    h = hashlib.sha256()
    for dirpath, dirs, names in sorted(os.walk(os.path.join(ROOT, "marasa_spark"))):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(dirpath, n)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def tree_state() -> object:
    """What a run must leave unchanged: ``git status --porcelain`` in a git
    checkout, else every file's size and mtime outside perfbench/.work and
    __pycache__ directories."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(
            ["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=all"],
            capture_output=True,
            text=True,
            check=True,
        )
        return out.stdout
    state = {}
    for dirpath, dirs, names in os.walk(ROOT):
        dirs[:] = [
            d
            for d in dirs
            if d != "__pycache__" and os.path.join(dirpath, d) != WORK
        ]
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            state[os.path.join(dirpath, n)] = (st.st_size, st.st_mtime_ns)
    return state


def sandbox(run_dir: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``run_dir`` and make it the working directory (spark-warehouse,
    derby.log and DuckDB spill files land in the cwd)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "spark-local"))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_mem())
    os.chdir(run_dir)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- process-level measurements -------------------------------------------------


class RssSampler:
    """Peak resident set of this process plus the JVM, sampled every 50 ms
    while running."""

    def __init__(self, pids):
        self.pids = list(pids)
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except FileNotFoundError:
            pass
        return 0

    def _loop(self):
        while True:
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            if self._stop.wait(0.05):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def jvm_stats(spark, gc: bool = True) -> dict:
    """Heap in use (live heap when ``gc`` forces a full GC first),
    block-manager storage held by cached or checkpointed data, and
    cumulative GC time. Taken between passes; no GC is forced before or
    inside the timed window, where it would resize the heap and so the
    RSS being measured."""
    sc = spark.sparkContext
    mf = sc._jvm.java.lang.management.ManagementFactory
    if gc:
        sc._jvm.java.lang.System.gc()
    storage = sum(
        i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
    )
    return {
        "heap_used_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20,
        "storage_used_mb": storage / 2**20,
        "gc_s": sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()) / 1e3,
    }


# -- metrics --------------------------------------------------------------------


def tail(latencies: list[float]) -> dict:
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank); the maximum when there are fewer than 20 samples, where
    that percentile would fall below the median."""
    xs = sorted(latencies)
    n = len(xs)
    pct = int(100 * (1 - 10 / n)) if n >= 20 else 100
    rank = max(1, -(-pct * n // 100))
    return {"value": xs[rank - 1], "percentile": pct, "samples": n}


def end_to_end(setup_s: float, ops: list[dict]) -> tuple[dict, dict]:
    lat = [o["latency_s"] for o in ops if "latency_s" in o]
    t = tail(lat)
    values = {
        "setup_s": setup_s,
        "ops_per_s": len(lat) / sum(lat),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": t["value"],
    }
    return values, {"percentile": t["percentile"], "samples": t["samples"]}


def per_op_kind(ops: list[dict]) -> dict:
    """Median and tail latency per op kind (the log_store's append, get,
    lookup, ... and each query id)."""
    kinds: dict[str, list[float]] = {}
    for o in ops:
        if "latency_s" in o:
            kinds.setdefault(o["kind"], []).append(o["latency_s"])
    return {
        k: {"n": len(v), "p50_s": statistics.median(v), "tail": tail(v)}
        for k, v in sorted(kinds.items())
    }


def log_store_summary(ops: list[dict], stats: dict) -> dict:
    """The log store's user-facing figures (reported in the run record)."""
    kinds = per_op_kind(ops)

    def p50(*names):
        xs = [o["latency_s"] for o in ops if o["kind"] in names and "latency_s" in o]
        return statistics.median(xs) if xs else None

    return {
        "append_p50_s": p50("append"),
        "get_p50_s": p50("get"),
        "lookup_p50_s": p50("lookup"),
        "lookup_tail_s": kinds.get("lookup", {}).get("tail"),
        "scan_p50_s": p50("latest", "changes"),
        "compact_s": p50("compact"),
        "bytes_per_user_byte": stats["stored_bytes"] / stats["user_bytes"],
    }


def per_layer(tracer, sc, wl, extra: dict) -> dict:
    """Per-layer metrics of one traced pass."""
    from perfbench.trace import descendants, duration, job_stats, self_times

    spans = tracer.spans
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def total(name):
        return sum(duration(s) for s in by_name.get(name, []))

    def jobs(name, skip=()):
        """Job stats of every ``name`` span, jobs of nested spans included
        unless the nested span's name is in ``skip``."""
        ids = [
            j
            for span in by_name.get(name, [])
            for s in [span, *descendants(spans, span)]
            if s["name"] not in skip
            for j in s["jobs"]
        ]
        return job_stats(sc, ids)

    build_jobs, exec_jobs, collect_jobs = jobs("queries.build"), jobs("exec.noop"), jobs("collect.arrow")
    # jobs fn() launches itself, not the catalog's schema reads
    eager_jobs = jobs("queries.build", skip=("catalog.load",))
    catalog_in_build = sum(
        duration(s)
        for b in by_name.get("queries.build", [])
        for s in descendants(spans, b)
        if s["name"] == "catalog.load"
    )
    collects = by_name.get("collect.arrow", [])
    # pair counts of the kernels' outputs, taken outside every span
    pairs_out = sum(df.count() for _id, df in tracer.outputs)
    m = {
        "session.start_s": extra["session_start_s"],
        "session.warmup_s": extra["warmup_s"],
        "catalog.load_s": total("catalog.load"),
        "catalog.loads": len(by_name.get("catalog.load", [])),
        "queries.build_s": total("queries.build"),
        "queries.build_self_s": total("queries.build") - catalog_in_build - eager_jobs["wall_s"],
        "queries.build_jobs": build_jobs["jobs"],
        "plan.s": total("plan.physical"),
        "exec.s": total("exec.noop"),
        "exec.jobs": exec_jobs["jobs"],
        "exec.stages": exec_jobs["stages"],
        "exec.tasks": exec_jobs["tasks"],
        "exec.failed_tasks": exec_jobs["failed_tasks"],
        "ops.minhash_lsh_s": total("ops.minhash_lsh"),
        "ops.pairs_out": pairs_out,
        "collect.s": total("collect.arrow"),
        "collect.transfer_s": total("collect.arrow") - collect_jobs["wall_s"],
        "collect.rows": sum(s.get("rows", 0) for s in collects),
        "collect.bytes": sum(s.get("bytes", 0) for s in collects),
    }
    for method in ("append", "max_seqno", "lookup", "get", "latest", "changes", "compact"):
        m[f"log.{method}_s"] = total(f"log.{method}")
    log = extra.get("log")
    m.update(
        {
            "log.files_per_append": statistics.mean(wl.files_added) if log and wl.files_added else 0.0,
            "log.txn_entries": log["txn_entries"] if log else 0,
            "log.tail_rows": statistics.mean(wl.tail_seen) if log and wl.tail_seen else 0.0,
            "log.lookup_hit_ratio": wl.found / wl.asked if log and wl.asked else 0.0,
            "log.conflicts": wl.conflicts if log else 0,
            "log.stored_bytes": log["stored_bytes"] if log else 0,
            "log.user_bytes": log["user_bytes"] if log else 0,
            "log.bytes_per_user_byte": log["stored_bytes"] / log["user_bytes"] if log else 0.0,
        }
    )
    jvm = extra["jvm"]
    m.update(
        {
            "jvm.heap_used_mb": jvm["after"]["heap_used_mb"],
            "jvm.storage_used_mb": jvm["after"]["storage_used_mb"],
            "jvm.storage_drift_mb": jvm["after"]["storage_used_mb"] - jvm["warmup"]["storage_used_mb"],
            "jvm.gc_s": jvm["after"]["gc_s"] - jvm["before"]["gc_s"],
            "jvm.rss_peak_mb": extra["rss_peak_mb"],
        }
    )
    for layer, v in self_times(spans).items():
        m[f"{layer}.self_s"] = v
    m["trace.pass_s"] = extra["traced_pass_s"]
    m["trace.untraced_pass_s"] = extra["untraced_pass_s"]
    m["trace.overhead_s"] = extra["traced_pass_s"] - extra["untraced_pass_s"]
    m["trace.spans"] = len(spans)
    return m


# -- the run --------------------------------------------------------------------


def make_workload(args, spark, tracer, run_dir: str, scale: dict):
    if args.workload == "log_store":
        from perfbench.log_workload import LogStoreWorkload

        return LogStoreWorkload(
            spark,
            tracer,
            os.path.join(run_dir, "store"),
            args.seed,
            scale["bulk_records"],
            scale["batch"],
            corrupt_model=args.corrupt_model,
        )
    from perfbench.inputs import make_tables
    from perfbench.query_workload import HEADLINE, LSH, QueryWorkload

    data = os.path.join(run_dir, "data")
    make_tables(data, args.seed, scale["sf"])
    return QueryWorkload(spark, tracer, data, LSH + HEADLINE, args.seed)


def run(args) -> tuple[dict, dict]:
    from perfbench.trace import Tracer, install_wrappers

    scale = SCALES[args.scale]
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    before = tree_state()
    sandbox(run_dir)
    record: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": {"name": args.scale, **scale},
        "nproc": cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "git_sha": git_sha(),
        "source_sha256": source_digest(),
    }
    tracer = Tracer()
    if args.trace:
        install_wrappers(tracer)
    from marasa_spark.session import get_spark

    marks: dict[str, float] = {}  # seconds since process start

    def mark(name: str) -> float:
        marks[name] = time.perf_counter() - T_START
        return marks[name]

    mark("engine_imported")
    spark = get_spark(app_name="perfbench")
    session_start_s = mark("session_up") - marks["engine_imported"]
    tracer.sc = spark.sparkContext
    try:
        wl = make_workload(args, spark, tracer, run_dir, scale)
        wl.prepare()
        mark("prepared")
        ops = wl.run_pass(0, warmup=True)
        warmup_s = mark("warmed") - marks["prepared"] - wl.check_s
        setup_s = marks["warmed"] - wl.check_s
        warmup_ops = {o["op"]: (o.get("latency_s"), o.get("check_s")) for o in ops}
        jvm = {"warmup": jvm_stats(spark, gc=False)}
        passes = [{"pass": 0, "warmup": True, "wall_s": warmup_s, **jvm["warmup"]}]

        timed: list[dict] = []
        jvm_pid = spark.sparkContext._gateway.proc.pid
        with RssSampler([os.getpid(), jvm_pid]) as rss:
            t_window = time.perf_counter()
            while True:
                t0 = time.perf_counter()
                p_ops = wl.run_pass(len(passes))
                wall = time.perf_counter() - t0
                timed += p_ops
                passes.append({"pass": len(passes), "wall_s": wall, **jvm_stats(spark, gc=False)})
                if args.trace or (
                    time.perf_counter() - t_window >= args.seconds
                    and len(passes) > wl.min_passes
                ):
                    break
        mark("measured")
        jvm["before"] = jvm_stats(spark)
        ops += timed
        metrics, tail_info = end_to_end(setup_s, timed)
        record.update(
            rss_peak_mb=rss.peak_kb / 1024,
            setup_s=setup_s,
            session_start_s=session_start_s,
            warmup_s=warmup_s,
            end_to_end=metrics,
            latency_tail=tail_info,
            per_op_kind=per_op_kind(timed),
            warmup_ops=warmup_ops,
        )
        if args.trace:
            tracer.enabled = True
            t0 = time.perf_counter()
            traced_ops = wl.run_pass(len(passes))
            traced_pass_s = time.perf_counter() - t0
            tracer.enabled = False
            mark("traced")
            jvm["after"] = jvm_stats(spark)
            passes.append({"pass": len(passes), "traced": True, "wall_s": traced_pass_s, **jvm["after"]})
            ops += traced_ops
        log_stats = None
        if args.workload == "log_store":
            ok, err = wl.final_check()
            ops.append({"op": "final_latest", "kind": "final_latest", "pass": "end", "ok": ok, "error": err})
            log_stats = wl.store_stats()
            record["log_store"] = log_store_summary(timed, log_stats) | log_stats
        if args.trace:
            metrics = per_layer(
                tracer,
                spark.sparkContext,
                wl,
                {
                    "session_start_s": session_start_s,
                    "warmup_s": warmup_s,
                    "jvm": jvm,
                    "rss_peak_mb": rss.peak_kb / 1024,
                    "log": log_stats,
                    "traced_pass_s": traced_pass_s,
                    "untraced_pass_s": passes[1]["wall_s"],
                },
            )
            spans_path = os.path.join(WORK, "runs", os.path.basename(run_dir) + ".spans.json")
            tracer.dump(spans_path)
            record["spans_file"] = os.path.relpath(spans_path, ROOT)
        mark("checked")
    finally:
        stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    mark("stopped")

    errors = [f"pass {o['pass']} {o['op']}: {o['error']}" for o in ops if not o["ok"]]
    if tree_state() != before:
        errors.append("the run changed the repository tree")
    record.update(
        marks=marks,
        passes=passes,
        attempted=len(ops),
        failed=sum(not o["ok"] for o in ops),
        error_rate=sum(not o["ok"] for o in ops) / len(ops),
        errors=errors[:50],
        metrics=metrics,
    )
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    result = {
        "correct": not errors,
        "attempted": len(ops),
        "failed": sum(not o["ok"] for o in ops),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    with open(os.path.join(WORK, "runs", os.path.basename(run_dir) + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    return record, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "marasa_spark", "session.py")):
        print(f"perfbench: no engine sources under {ROOT}/marasa_spark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    record, result = run(args)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
