#!/usr/bin/env python3
"""boon_spark benchmark: one workload, one seed, one fresh Spark session.

    python3 perfbench/run.py --workload partition_report --seed 1 \
        --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root.  The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The full run record (host stamp, every call's samples,
percentiles, failures, and with ``--trace 1`` the spans) goes to
``.perfbench_work/records/``.  ``--smoke`` runs every workload at a small
size in both modes and checks that every metric named in BENCHMARK.json
is emitted with its unit.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)  # metric names and units


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload",
                    choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    return args


def program_present() -> bool:
    return (os.path.isdir(os.path.join(ROOT, "boon_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")))


def driver_memory_mb() -> int:
    """An eighth of host memory, between 1 and 2 GB."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return max(1024, min(2048, kb // 8 // 1024))


def make_session(cpus: int, run_dir: str):
    from pyspark.sql import SparkSession
    tmp = os.path.join(run_dir, "tmp")
    heap_mb = driver_memory_mb()
    spark = (SparkSession.builder
             .master(f"local[{cpus}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{heap_mb}m")
             # A fixed heap and young generation: when G1 sizes them by
             # its pause-time heuristics, peak memory wanders with GC
             # timing from run to run.  Without a large code cache the JIT
             # stops once generated classes fill it and later plans run
             # interpreted (~15x slower).  C1 only: C2 compiler threads
             # took half of a run's CPU and were still at it when the run
             # ended, so calls kept drifting faster.
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{heap_mb}m -Xmn{heap_mb // 4}m "
                     "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing "
                     "-XX:TieredStopAtLevel=1 "
                     f"-Djava.io.tmpdir={tmp}")
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config("spark.sql.warehouse.dir",
                     os.path.join(run_dir, "warehouse"))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process it
    started (the Python worker daemon and its workers)."""
    from pyspark import SparkContext
    from perfbench.spans import descendants
    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def timing(samples: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples
    beyond it (nearest rank), with the sample count."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs) if xs else None}
    for p in (99.9, 99, 95, 90, 75):
        if n * (1 - p / 100) >= 10:
            out[f"p{p:g}"] = xs[min(n - 1, int(-(-p * n // 100)) - 1)]
            break
    return out


def git_sha() -> str:
    """HEAD of the checkout, read from .git without running git."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                return f.read().strip()
        return head
    except OSError:
        return "unknown"


def run(args) -> dict:
    from perfbench.expect import Checker
    from perfbench.spans import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    cpus = os.cpu_count() or 1
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-"
                                 f"{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # Python workers import boon_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    t_start = time.perf_counter()
    checker = Checker(ROOT)
    wl = WORKLOADS[args.workload](run_dir, args.seed, args.size, checker)
    spark = tracer = None
    try:
        # the inputs are written while the Spark JVM starts
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            generating = pool.submit(wl.step, wl.generate)
            spark = make_session(cpus, run_dir)
            session_s = time.perf_counter() - t_start
            generating.result()
        tracer = Tracer(spark, bool(args.trace))
        wl.setup(spark, tracer)
        setup_s = time.perf_counter() - t_start
        # every process the run started is still alive, or reaped by one
        # that is, so this is all the set-up's CPU but the checker's
        setup_cpu_s = wl.cpu()
        tracer.spans.clear()  # spans of the timed phase only

        calls = []
        attempted = failed = 0
        with RssSampler(exclude=checker.pid) as rss:
            deadline = time.perf_counter() + args.seconds
            while (len(calls) < wl.min_calls
                   or time.perf_counter() < deadline):
                call_id = f"c{len(calls)}"
                tracer.reset()
                t0 = time.time()
                try:
                    with tracer.span("call", call_id,
                                     workload=args.workload):
                        res = wl.call(call_id)
                except Exception as e:  # a raising call counts as failed
                    res = {"wall_s": None, "cpu_s": None, "attempted": 1,
                           "groups": {},
                           "layers": {},
                           "failed": [f"raised {type(e).__name__}: {e}"]}
                t1 = time.time()
                res["leftover_rdds"] = wl.leftover_rdds()
                attempted += res["attempted"]
                failed += min(len(res["failed"]), res["attempted"])
                if args.trace:
                    res["layers"] = {**tracer.acc, **res["layers"],
                                     **_spark_layers(tracer, res, t0, t1,
                                                     call_id, wl)}
                calls.append(res)
        ok = [c for c in calls if c["wall_s"] is not None and not c["failed"]]
        ok_walls = [c["wall_s"] for c in ok]
        ok_cpus = [c["cpu_s"] for c in ok]
        if args.trace:
            values = _per_layer(calls)
            names = BENCH["per_layer"]
        else:
            values = {"setup_s": setup_cpu_s,
                      "call_cpu_s.p50": statistics.median(ok_cpus)
                      if ok_cpus else float("nan"),
                      "peak_rss_mb": rss.peak_mb}
            names = BENCH["end_to_end"]
        # every end-to-end value must exist; a layer a workload never
        # reaches reads 0
        metrics = {m["name"]: {"value": values[m["name"]] if not args.trace
                               else values.get(m["name"], 0.0),
                               "unit": m["unit"]} for m in names}
        record = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "size": args.size,
            "seconds": args.seconds,
            "host": {"cpus": cpus, "driver_memory_mb": driver_memory_mb(),
                     "spark": spark.version,
                     "java": spark._jvm.System.getProperty("java.version"),
                     "python": platform.python_version(),
                     "git_sha": git_sha()},
            "input": {"rows": wl.rows, "table_bytes": wl.table_bytes},
            "setup": {"cpu_s": setup_cpu_s, "wall_s": setup_s,
                      "session_s": session_s, **wl.setup_split},
            "timings": {"pass_s": timing(ok_walls), "cpu_s": timing(ok_cpus),
                        **_sub_timings(calls)},
            "failed_ratio": failed / attempted if attempted else 1.0,
            "failures": [f for c in calls for f in c["failed"]][:20],
            "calls": [{k: c[k] for k in ("wall_s", "cpu_s", "leftover_rdds",
                                         "layers")} for c in calls],
        }
        record["metrics"] = metrics
        _write_record(record, tracer)
        return {"correct": failed == 0 and attempted > 0,
                "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        try:
            if tracer is not None:
                tracer.close()
            checker.close()
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def _spark_layers(tracer, res, t0, t1, call_id, wl) -> dict:
    c = tracer.job_counters(list(res["groups"]), t0, t1, call_id)
    for g, q in res["groups"].items():
        if q:
            c[f"operators.{q}.jobs"] = c["jobs_by_group"].get(g, 0)
    c.pop("jobs_by_group")
    c["scan.passes"] = c["scan.bytes"] / wl.table_bytes
    c["cache.leftover_rdds"] = res["leftover_rdds"]
    c["call.wall_s"] = res["wall_s"]
    return c


def _per_layer(calls) -> dict:
    """Per-call median of every layer value (names a workload never
    reaches read 0); cache.leftover_rdds is the count after the last
    call."""
    names = {k for c in calls for k in c["layers"]}
    out = {n: statistics.median(c["layers"].get(n, 0.0) for c in calls)
           for n in names}
    out["cache.leftover_rdds"] = calls[-1]["layers"]["cache.leftover_rdds"]
    return out


def _sub_timings(calls) -> dict:
    subs: dict[str, list] = {}
    for c in calls:
        for k, v in c["layers"].items():
            if k.endswith("_s"):
                subs.setdefault(k, []).append(v)
    return {k: timing(v) for k, v in subs.items()}


def _write_record(record: dict, tracer) -> None:
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = f"{record['workload']}-seed{record['seed']}"
    if record["trace"]:
        with open(os.path.join(rec_dir, f"{stem}-spans.json"), "w") as f:
            json.dump(tracer.spans, f)
        untraced = os.path.join(rec_dir, f"{stem}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["timings"]
            over = {k: record["timings"][k]["p50"] / base[k]["p50"] - 1
                    for k in ("cpu_s", "pass_s")}
            record["tracing_overhead"] = over
            print(f"tracing overhead: CPU {over['cpu_s']:+.1%}, wall "
                  f"{over['pass_s']:+.1%} (per-call medians, traced vs "
                  f"untraced)", file=sys.stderr)
    with open(os.path.join(rec_dir, f"{stem}-trace{record['trace']}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)


def smoke() -> int:
    """Every workload at the small size, both modes, in fresh processes;
    checks each BENCHMARK.json metric is emitted with its unit."""
    want = {0: {m["name"]: m["unit"] for m in BENCH["end_to_end"]},
            1: {m["name"]: m["unit"] for m in BENCH["per_layer"]}}
    bad = 0
    for w in BENCH["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", w["name"], "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--size", "small"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                problems = [] if res["correct"] else ["not correct"]
            except (IndexError, ValueError, KeyError):
                got, problems = {}, [f"no result (exit {p.returncode}): "
                                     f"{p.stderr[-500:]}"]
            problems += [f"{k}: missing or unit {got.get(k)!r} != {u!r}"
                         for k, u in want[trace].items() if got.get(k) != u]
            bad += bool(problems)
            print(f"{w['name']} trace={trace}: "
                  f"{'ok' if not problems else problems}", flush=True)
    return 1 if bad else 0


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    if not program_present():
        print(f"boon_spark not found under {ROOT}", file=sys.stderr)
        return 2
    # import the program and this package from the checkout root
    sys.path[0:1] = [ROOT]
    if args.smoke:
        return smoke()
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
