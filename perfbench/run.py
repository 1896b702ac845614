"""Repository benchmark: bulk_replay and trickle_serve on local[nproc].

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` (and
cached under ``.perfbench/inputs``); the run works in
``.perfbench/runs/<id>``, removed at the end, and leaves a record of the
host, the sizes and every number under ``.perfbench/results``. With
``--trace 1`` it also writes the spans there.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A failed correctness gate exits
non-zero without that line. See ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
QUERY_ROUNDS = 2


def declared_units(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and the Python workers it
    started, and wait until they have all exited."""
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    started = descendants(jvm.pid)
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {p for p in started if alive(p)}
        time.sleep(0.1)
    for p in started:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def source_digest(top: str) -> str:
    """Content hash of the Python sources under ``top``, which identifies
    the code when the checkout is a source export without git metadata."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, top, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_rev() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["bulk_replay", "trickle_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "gamechanger_data_spark")):
        print(f"perfbench: no gamechanger_data_spark package under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    # SIGTERM runs the cleanup below (stop Spark, remove the run dir)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    runs = os.path.join(WORK, "runs")
    run_dir = os.path.join(runs, run_id)
    results = os.path.join(WORK, "results")
    for old in os.listdir(runs) if os.path.isdir(runs) else ():
        pid = old.rsplit("-", 1)[-1]
        if not (pid.isdigit() and alive(int(pid))):  # left by a killed run
            shutil.rmtree(os.path.join(runs, old), ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(results, exist_ok=True)
    # The Python workers that run lakecdc's reader import the package:
    # they inherit PYTHONPATH from the JVM, which inherits it from here.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # no hsperfdata files in /tmp from the spark-submit launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()

    try:
        return run(args, nproc, run_dir, results, run_id)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, nproc: int, run_dir: str, results: str, run_id: str) -> int:
    from feeds import Inputs, TableShape
    from spans import Tracer, cpu_steal_s
    from workload import GateError, TableWorkload, layer_metrics, plan_for

    plan = plan_for(args.workload, args.seconds)
    t0 = time.perf_counter()
    inputs = Inputs(os.path.join(WORK, "inputs"), procs=min(nproc, 4))
    feed_dir = inputs.feed(plan.feed, args.seed, parts=nproc)
    # the catalog tables serve only the traced run's query phase
    tables_dir = inputs.tables(TableShape(), args.seed) if args.trace else None
    # the probe is host context for the traced record; untraced runs skip
    # its ~1.3 s, which the run budget spends on warm-up instead
    membw = inputs.membw_gbps() if args.trace else None
    inputs_s = time.perf_counter() - t0

    from gamechanger_data_spark.session import get_spark

    t0 = time.perf_counter()
    # get_spark defaults at local[nproc]; the extra settings only keep the
    # JVM's temporary files inside the checkout and the console quiet.
    spark = get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    get_spark_s = time.perf_counter() - t0
    try:
        from gamechanger_data_spark.streaming.cdc_source import register_lakecdc

        register_lakecdc(spark)
        sc = spark.sparkContext
        tracer = Tracer(enabled=bool(args.trace))
        if args.trace:
            tracer.install(sc)
        w = TableWorkload(spark, tracer, plan, feed_dir, tables_dir, run_dir, QUERY_ROUNDS)
        w.warm_up()
        # process start to the first timed call, less input generation
        setup_s = time.perf_counter() - T_START - inputs_s
        t_timed, steal0 = time.perf_counter(), cpu_steal_s()
        w.timed()
        timed_s = time.perf_counter() - t_timed
        steal_s = cpu_steal_s() - steal0
        peak_rss_mb = vm_hwm_mb(sc._gateway.proc.pid) + vm_hwm_mb("self")
        e2e = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb, **w.end_to_end()}
        layers = {}
        if args.trace:
            w.cdc_and_queries()
            tracer.uninstall()
            layers = layer_metrics(w, tracer, get_spark_s)
            layers.update({f"trace.{k}": v for k, v in e2e.items()})
            layers.update({f"trace.{k}": v for k, v in w.cdc_and_query_totals().items()})
            layers["trace.bookkeeping_s"] = tracer.bookkeeping_s
        try:
            w.gates()
        except GateError as e:
            print(f"perfbench: correctness gate failed: {e}", file=sys.stderr)
            return 3
        conf = dict(sc.getConf().getAll())
    finally:
        stop_spark(spark)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_rev": git_rev(),
        "source_digest": source_digest("gamechanger_data_spark"),
        "bench_digest": source_digest("perfbench"),
        "host": {"nproc": nproc, "machine": platform.machine(),
                 "python": platform.python_version(), "membw_gbps": membw},
        "memory_conf": {k: conf.get(k) for k in (
            "spark.driver.memory", "spark.memory.offHeap.enabled",
            "spark.memory.offHeap.size", "spark.sql.shuffle.partitions")},
        "master": conf.get("spark.master"),
        "sizes": {"batches": list(plan.feed.batches), "n_warm": plan.feed.n_warm,
                  "n_buckets": w.table.n_buckets,
                  "warm_steps": plan.warm_steps, "lookups": plan.lookups,
                  "lookup_every": plan.lookup_every, "scans": plan.scans,
                  "cycle": plan.cycle, "scan_at": list(plan.scan_at),
                  "query_rounds": QUERY_ROUNDS},
        "inputs_s": inputs_s, "inputs_generated": bool(inputs.generated),
        "timed_phase_s": timed_s, "timed_phase_cpu_steal_s": steal_s,
        "attempted": w.attempted, "failed": w.failed,
        "ops_failed_frac": w.failed / w.attempted,
        "end_to_end": e2e, "tails": w.tails(), "per_layer": layers,
        "drains": w.drains, "ops": w.ops,
    }
    if args.trace:
        tracer.dump(os.path.join(results, f"{run_id}.spans.jsonl"))
        record["trace_bookkeeping_s"] = tracer.bookkeeping_s
        record["python_workers"] = w.python_workers
        record["overhead_vs_untraced"] = overhead(
            results, args, e2e,
            (record["source_digest"], record["bench_digest"], args.seconds))
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    metrics = layers if args.trace else e2e
    units = declared_units(args.trace)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(metrics) ^ set(units)}")
    print(json.dumps({
        "correct": True, "attempted": w.attempted, "failed": w.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


def overhead(results: str, args, traced: dict, key: tuple) -> dict | None:
    """Traced minus untraced for each end-to-end metric, against the
    untraced records of this workload, sources and run length in this
    checkout (same seed when there is one, else their per-metric median)."""
    import statistics

    recs = []
    for p in glob.glob(os.path.join(results, f"{args.workload}-s*-t0-*.json")):
        with open(p) as f:
            r = json.load(f)
        if (r.get("source_digest"), r.get("bench_digest"), r["seconds"]) == key:
            recs.append(r)
    same = [r for r in recs if r["seed"] == args.seed]
    base = same or recs
    if not base:
        return None
    ref = {k: statistics.median(r["end_to_end"][k] for r in base) for k in traced}
    out = {k: {"traced": traced[k], "untraced": ref[k], "diff": traced[k] - ref[k]}
           for k in traced}
    print("perfbench: tracing overhead (traced - untraced): " + ", ".join(
        f"{k}={v['diff']:+.4g}" for k, v in out.items()), file=sys.stderr)
    return {"reference_runs": len(base), "same_seed": bool(same), "metrics": out}


if __name__ == "__main__":
    sys.exit(main())
