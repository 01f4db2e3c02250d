"""Benchmark runner: one workload, one seed, one process.

    python3 loaderbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root.  Set-up (Spark session, registry, seeded
inputs, history, untimed warm-up operations) is timed as ``setup_s``;
then operations run in a closed loop until ``--seconds`` have passed;
then the correctness gates run.  Everything the run writes stays under
``.bench_work/`` (deleted at the end) and ``.bench_out/`` (records and
spans) in the repository root.

Standard output ends with one JSON line::

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (``E2E``); ``--trace 1``
first runs the same workload untraced in a child process, then again
traced, and reports the per-layer metrics (``per_layer_names()``),
including ``trace.overhead.*`` = traced minus untraced.  The line before
it is the run's full record: stamps, input sizes, every operation's
latency and the workload's own named metrics.  ``--smoke`` uses tiny
inputs and no warm-up, to check the workloads and gates quickly.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "kafka_hadoop_loader_spark")

E2E = {"op_median_s": "s", "setup_s": "s"}

# Tiny inputs for --smoke: every workload and gate, in seconds not minutes.
SMOKE = {
    "backfill": {"events": 400, "hours": 6, "warmup": 0},
    "live_tail": {"history_events": 400, "history_hours": 6, "increment": 50,
                  "per_hour": 2, "warmup": 0},
    "query_mix": {"sf": 0.001, "warmup": 1},
}


def per_layer_names() -> list[str]:
    from workloads import ITERATIVE, ONESHOT, MODULES
    from tracing import ENGINE_KEYS, LOADER_KEYS

    names = ["session.start_s", "registry.load_s", "inputs_s", "warmup_s",
             "process.peak_rss_mb"]
    names += [f"loader.{k}" for k in LOADER_KEYS]
    for q in ITERATIVE + ONESHOT:
        names += [f"q.{q}.build_s", f"q.{q}.exec_s"]
    names += [f"{m}_s" for m in sorted(set(MODULES.values()))] + ["iterative_s", "oneshot_s"]
    for prefix in ("", "iterative.", "oneshot."):
        names += [f"{prefix}spark.{k}" for k in ENGINE_KEYS]
    names += [f"trace.overhead.{k}" for k in E2E]
    return names


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _heap_gb() -> int:
    """Driver heap: 40% of RAM, at most 6 GB (the program asks for 16 GB)."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return max(1, min(6, int(total_kb / 1e6 * 0.4)))


def _source_stamp() -> dict:
    digest = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(PACKAGE)):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(f.encode() + fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True)
        commit = out.stdout.strip() or None
    return {"git_commit": commit, "source_sha256": digest.hexdigest()[:16]}


def _configure_env(work: str, trace: bool, cpus: int, heap_gb: int) -> str:
    """Point every temp and log directory into ``work``; set the session
    through ``get_spark``'s own environment overrides."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    os.environ.update({
        # Python workers start in the work dir; let them import the package.
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        # The program's default code-cache flag, plus JVM temp files in
        # the work dir (hsperfdata would otherwise go to /tmp).
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-XX:ReservedCodeCacheSize=1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    })
    if trace:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )
    return events


class Run:
    """What a workload needs from the runner: the session, the registry,
    the tracer, and the loader entry point with a run counter."""

    def __init__(self, spark, registry, tracer, listener, work: str, seed: int) -> None:
        self.spark, self.registry, self.tracer = spark, registry, tracer
        self.listener, self.work, self.seed = listener, work, seed
        self.loads = 0

    def load(self, cfg) -> dict:
        from kafka_hadoop_loader_spark.streaming.loader import run_loader

        self.loads += 1
        return run_loader(self.spark, cfg)


def measure(args: argparse.Namespace) -> tuple[dict, dict]:
    """Set up, warm up, run the timed loop, gate.  Returns (result, record)."""
    cpus, heap_gb = _cpus(), _heap_gb()
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    events_dir = _configure_env(work, args.trace, cpus, heap_gb)
    os.chdir(work)  # spark-warehouse and other relative paths land here
    try:
        return _measure(args, work, events_dir, cpus, heap_gb)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, work: str, events_dir: str, cpus: int, heap_gb: int) -> tuple[dict, dict]:
    import pyspark

    from kafka_hadoop_loader_spark import registry
    from kafka_hadoop_loader_spark.session import get_spark
    from tracing import EventLog, LoaderListener, RssSampler, Tracer
    from workloads import WORKLOADS, median

    tracer = Tracer(args.trace)
    with RssSampler() as rss:
        t_setup = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark("loaderbench", master=f"local[{cpus}]")
            spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("registry.load"):
            reg = registry.load_all()
        listener = LoaderListener() if args.trace else None
        if listener is not None:
            spark.streams.addListener(listener)
        run = Run(spark, reg, tracer, listener, work, args.seed)
        wl = WORKLOADS[args.workload](run, **(SMOKE[args.workload] if args.smoke else {}))
        attempted = failed = 0
        with tracer.span("inputs"):
            wl.setup()
        i, warm = 0, []
        with tracer.span("warmup"):
            for _ in range(wl.warmup):
                i += 1
                try:
                    warm.append(wl.op(i)["latency_s"])
                except Exception as e:  # noqa: BLE001 - counted, never retried
                    attempted, failed = attempted + 1, failed + 1
                    print(f"warm-up op {i} failed: {type(e).__name__}: {e}", file=sys.stderr)
        setup_s = time.perf_counter() - t_setup

        latencies, timed = [], []
        t0 = time.perf_counter()
        while True:
            i += 1
            w0 = time.time()
            try:
                detail = wl.op(i)
            except Exception as e:  # noqa: BLE001 - counted, never retried
                attempted, failed = attempted + 1, failed + 1
                print(f"op {i} failed: {type(e).__name__}: {e}", file=sys.stderr)
            else:
                attempted += detail.get("attempted", 1)
                failed += detail.get("failed", 0)
                if not detail.get("failed"):
                    latencies.append(detail["latency_s"])
                    timed.append({**detail, "window": (w0, time.time())})
            if time.perf_counter() - t0 >= args.seconds:
                break

        try:
            problems = [] if args.no_gates else wl.gate()
        except Exception as e:  # noqa: BLE001 - a gate that cannot run has failed
            problems = [f"gate raised {type(e).__name__}: {e}"]
        failed += _gate_failures(wl, timed, problems)
        for p in problems:
            print(f"GATE FAILED: {p}", file=sys.stderr)
        spark_version = spark.version
        _stop(spark)

    metrics = {"op_median_s": median(latencies), "setup_s": setup_s}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "smoke": bool(args.smoke), "gates": not args.no_gates,
        "cpus": cpus,
        "heap": f"{heap_gb}g", "master": f"local[{cpus}]",
        "spark_version": spark_version, "pyspark_version": pyspark.__version__,
        "python": sys.version.split()[0], "inputs": wl.sizes(), **_source_stamp(),
        "warmup_latencies_s": warm, "op_latencies_s": latencies, "gate_problems": problems,
        "named": wl.named_metrics(timed), "peak_rss_mb": rss.peak_mb, **metrics,
    }
    result = {"correct": not problems and failed == 0, "attempted": max(attempted, 1),
              "failed": failed, "metrics": metrics}
    if args.trace:
        layers = _layer_metrics(wl, timed, tracer, EventLog(events_dir))
        layers["process.peak_rss_mb"] = rss.peak_mb
        out = os.path.join(ROOT, ".bench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"spans-{args.workload}-s{args.seed}.jsonl"))
        result["metrics"] = layers
        record["per_layer"] = layers
    return result, record


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched and that JVM's Python
    workers, and wait until every one of those processes has ended."""
    from pyspark import SparkContext

    from tracing import tree_pids

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while (alive := [p for p in started if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive:
        os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _gate_failures(wl, timed: list[dict], problems: list[str]) -> int:
    """Operations whose output failed a gate count as failed operations."""
    if wl.name == "query_mix":
        return sum(1 for d in timed for q in d["queries"] if q in wl.failed_queries)
    return min(len(problems), max(len(timed), 1))


def _layer_metrics(wl, timed: list[dict], tracer, log) -> dict:
    from tracing import LOADER_KEYS
    from workloads import GROUPS, ITERATIVE, MODULES, ONESHOT, median

    m = {name: 0.0 for name in per_layer_names()}
    for span, key in (("session.start", "session.start_s"), ("registry.load", "registry.load_s"),
                      ("inputs", "inputs_s"), ("warmup", "warmup_s")):
        s = tracer.named(span)[0]
        m[key] = s["end"] - s["start"]
    for k in LOADER_KEYS:
        m[f"loader.{k}"] = median([d[f"loader.{k}"] for d in timed if f"loader.{k}" in d])
    for k, v in _engine(log, [[d["window"]] for d in timed]).items():
        m[f"spark.{k}"] = v
    if wl.name == "query_mix":
        for q in ITERATIVE + ONESHOT:
            m[f"q.{q}.build_s"] = median([d["queries"][q][0] for d in timed])
            m[f"q.{q}.exec_s"] = median([d["queries"][q][1] for d in timed])
            m[f"{MODULES[q]}_s"] += m[f"q.{q}.build_s"] + m[f"q.{q}.exec_s"]
        named = wl.named_metrics(timed)
        for group, members in GROUPS.items():
            m[f"{group}_s"] = named[f"{group}_s"]
            windows = [[d["queries"][q][2:4] for q in members] for d in timed]
            for k, v in _engine(log, windows).items():
                m[f"{group}.spark.{k}"] = v
    return m


def _engine(log, windows_per_op: list[list[tuple[float, float]]]) -> dict:
    """Median over operations of each engine metric."""
    from tracing import ENGINE_KEYS
    from workloads import median

    per_op = [log.metrics(w) for w in windows_per_op]
    return {k: median([p[k] for p in per_op]) for k in ENGINE_KEYS}


def _child_untraced(args: argparse.Namespace) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--no-gates"]
    if args.smoke:
        cmd.append("--smoke")
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("backfill", "live_tail", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    # The untraced child of a traced run only supplies the overhead
    # baseline; the traced run itself gates the outputs.
    ap.add_argument("--no-gates", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"loaderbench: program package not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    untraced = _child_untraced(args) if args.trace else None
    result, record = measure(args)
    if untraced is not None:
        for k, v in untraced["metrics"].items():
            result["metrics"][f"trace.overhead.{k}"] = record[k] - v["value"]
        result["correct"] = result["correct"] and untraced["correct"]
        record["untraced"] = untraced
    units = {**E2E, **{k: _unit(k) for k in per_layer_names()}}
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"record-{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


def _unit(name: str) -> str:
    if name.startswith("trace.overhead."):
        return E2E[name.removeprefix("trace.overhead.")]
    if name == "loader.rows_per_file":
        return "rows/file"
    if name.endswith(("task_skew", "per_byte_in")):
        return "ratio"
    return {"_s": "s", "mb": "MB"}.get(name[-2:], "count")


if __name__ == "__main__":
    sys.exit(main())
