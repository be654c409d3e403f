"""Benchmark of the engine's query workloads, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 1 --trace 0

One client sends one query at a time (a closed loop) to a session on
`local[<usable cpus>]`. A run:

1. generates the input tables from `--seed` (`datagen.py`);
2. sets up three times, each in a process that has neither imported the
   engine nor started a JVM: importing the engine, `session.get_spark()`
   and a warm-up pass over every query. The first two set-ups run in
   child processes that then stop; the third is this process's own.
   `setup_s` is the median set-up;
3. computes each query's DuckDB oracle answer on the tables
   (`oracle.py`) and, in an untimed pass, collects each result and
   checks it against its oracle;
4. runs whole passes over the workload's queries, each in a seeded
   order, until `--seconds` have passed (at least three passes). A query
   is timed from calling its builder until its whole physical plan has
   executed (`QueryExecution.toRdd().count()`, so Catalyst cannot prune
   the plan as it would for `df.count()`). Resident memory is read
   between passes, outside the timed window;
5. prints a report and, as the last line, one JSON object.

With `--trace 0` the JSON carries the end-to-end metrics. With
`--trace 1` untraced and traced passes alternate (at least two of each)
and the JSON carries the per-layer metrics of the traced passes, read
from Spark's status store, /proc, a streaming listener and spans around
the engine's public functions (`probes.py`). The job, stage, task,
build-job and micro-batch counts of each query must repeat exactly from
one traced pass to the next; a count that does not marks the run as not
correct. Every run also writes a self-describing record under
`.perfbench/records/`.

The engine is imported from the checkout this file sits in; the run
fails (exit code 2, no result line) when it is not there.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import datagen
import probes
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "redskins_rule_spark"
SETUPS = 3
MIN_PASSES = 3
TAIL_SAMPLES = 10

# End-to-end metrics carried in the JSON line of an untraced run.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}
# Printed and recorded only, because across seeds they spread wider than
# a regression bound could allow: a run has 6-24 latency samples, so its
# median and its highest percentile with ten samples above it (none
# below eleven samples) are each one query's latency; the JVM heap grows
# for as long as a run lasts; and failed_frac is zero whenever the
# workload runs clean. peak_rss_mb is the highest reading taken between
# passes, so a worker's transient peak inside a pass is missed.
END_TO_END_REPORTED = {
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mb": "MB",
    "failed_frac": "1",
}
# Per-layer metrics carried in the JSON line of a traced run.
PER_LAYER = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "workload.build_s": "s",
    "workload.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_time_s": "s",
    "spark.driver_gap_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.input_mb": "MB",
    "pyworker.wait_s": "s",
    "streaming.batches": "count",
    "streaming.no_data_batches": "count",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "operators.self_s": "s",
    "operators.jobs": "count",
    "sources.calls": "count",
    "sources.self_s": "s",
    "trace.overhead_s": "s",
}
# Printed and recorded only: times that are zero on the workloads that
# never enter their layer, and counters no workload here moves.
PER_LAYER_REPORTED = {
    "pyworker.cpu_s": "s",
    "streaming.batch_s": "s",
    "streaming.self_s": "s",
    "pipelines.self_s": "s",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
}
# Counts that must repeat exactly from one traced pass to the next.
REPEATING = ("spark.jobs", "spark.stages", "spark.tasks",
             "workload.build_jobs", "streaming.batches")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: run set-up number N in a child process, in the run
    # directory WORK that the parent prepared
    p.add_argument("--child-setup", type=int, help=argparse.SUPPRESS)
    p.add_argument("--work", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def import_engine():
    """The engine's query registry and session factory, imported from
    this checkout; exit 2 when absent."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        from redskins_rule_spark import workload
        from redskins_rule_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        sys.exit(2)
    return workload, get_spark


def import_oracle():
    """The output checker, which uses the checkout's
    `tools/check_correctness.py`; exit 2 when absent."""
    try:
        import oracle
    except ImportError as e:
        print(f"perfbench: cannot import the output checker: {e}", file=sys.stderr)
        sys.exit(2)
    return oracle


def shuffled(names, seed: int, tag) -> list[str]:
    order = list(names)
    random.Random(f"{seed}/{tag}").shuffle(order)
    return order


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least TAIL_SAMPLES of n samples
    above it (nearest-rank); None when there are too few samples."""
    return math.floor(100 * (n - TAIL_SAMPLES) / n) if n > TAIL_SAMPLES else None


def percentile(values: list[float], p: float) -> float:
    ranked = sorted(values)
    return ranked[max(math.ceil(p / 100 * len(ranked)), 1) - 1]


def prepare(work: str) -> dict[str, str]:
    """Point every file Spark, the workers and the engine write into
    `work`, put this checkout on the workers' path, and return the
    session conf the benchmark adds. Child processes inherit the
    environment set here."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(nproc),
        # no hsperfdata files under /tmp from the launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = tmp
    return session_conf(work)


def session_conf(work: str) -> dict[str, str]:
    """The session conf the benchmark adds to the engine's defaults."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def first_line(e: BaseException) -> str:
    text = str(e).strip()
    return (text.splitlines()[0] if text else type(e).__name__)[:300]


# ------------------------------------------------------------------ set-up

def plan(df):
    """Plan `df` for the timed action: its own physical plan, executed
    later through `toRdd()`, so no operator is pruned."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    return qe


def set_up(names, conf, data_dir, order, problems):
    """One timed set-up, in a process that has not imported the engine:
    the import, a session on a new JVM, and a warm-up pass over every
    query along the timed path. Returns the engine's `workload` module,
    the session and the three times."""
    t0 = time.perf_counter()
    workload, get_spark = import_engine()
    fns = workload.queries()
    t1 = time.perf_counter()
    missing = [n for n in names if n not in fns]
    if missing:
        print(f"perfbench: unknown queries {missing}", file=sys.stderr)
        sys.exit(2)
    t2 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    t3 = time.perf_counter()
    for name in order:
        try:
            plan(fns[name](spark, data_dir)).toRdd().count()
        except Exception as e:  # noqa: BLE001 - a failing query is reported, not fatal
            problems.setdefault(name, f"error: {first_line(e)}")
    t4 = time.perf_counter()
    return workload, spark, {"import_s": t1 - t0, "get_spark_s": t3 - t2,
                             "warmup_s": t4 - t3}


def child_set_up(args, work: str, index: int, problems) -> dict:
    """Run set-up `index` in a child process and wait until it, its JVM
    and its workers have ended; exit 2 when it fails."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--child-setup", str(index), "--work", work]
    try:
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=150)
    except subprocess.TimeoutExpired:
        print(f"perfbench: set-up {index} did not end", file=sys.stderr)
        sys.exit(2)
    if out.returncode != 0:
        print(f"perfbench: set-up {index} failed (exit {out.returncode})", file=sys.stderr)
        sys.exit(2)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    for name, why in result["problems"].items():
        problems.setdefault(name, why)
    return result["setup"]


def child_main(args) -> int:
    """A child's set-up: time it, stop its JVM, report it as one JSON
    line."""
    names = WORKLOADS[args.workload].queries
    problems: dict[str, str] = {}
    try:
        _, _, s = set_up(names, session_conf(args.work), os.path.join(args.work, "data"),
                         shuffled(names, args.seed, f"setup{args.child_setup}"), problems)
    finally:
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            shut_down()
    print(json.dumps({"setup": s, "problems": problems}))
    return 0


def check_outputs(spark, fns, data_dir, order, check, problems) -> None:
    """Untimed: collect each query's result and check it against its
    oracle."""
    for name in order:
        try:
            result = fns[name](spark, data_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - a failing query is reported, not fatal
            problems.setdefault(name, f"error: {first_line(e)}")
            continue
        bad = check(name, result)
        if bad:
            problems.setdefault(name, f"wrong output: {bad}")


# -------------------------------------------------------------- measuring

class Tracer:
    """The traced-pass probes of one session."""

    def __init__(self, spark):
        from pyspark import SparkContext

        self.spark = spark
        self.status = probes.SparkStatus(spark)
        self.spans = probes.Spans(PACKAGE, self.status.next_job_id)
        self.streams = probes.StreamStats()
        self.jvm_pid = SparkContext._gateway.proc.pid

    def __enter__(self) -> Tracer:
        self.spans.install()
        self.spark.streams.addListener(self.streams)
        return self

    def __exit__(self, *exc) -> None:
        self.spans.uninstall()
        self.spark.streams.removeListener(self.streams)


def run_query(spark, fn, data_dir, tracer: Tracer | None) -> dict:
    """Build, plan and execute one query; with a tracer, also the
    figures of each layer it went through."""
    if tracer:
        tracer.spans.reset()
        job0 = tracer.status.next_job_id()
        cpu0 = probes.python_cpu_ticks(tracer.jvm_pid)
        stream0 = tracer.streams.snapshot()
    t0 = time.perf_counter()
    df = fn(spark, data_dir)
    t1 = time.perf_counter()
    if tracer:
        job1 = tracer.status.next_job_id()
    t1b = time.perf_counter()
    qe = plan(df)
    t2 = time.perf_counter()
    qe.toRdd().count()
    t3 = time.perf_counter()
    rec = {"build_s": t1 - t0, "plan_s": t2 - t1b, "exec_s": t3 - t2,
           "latency_s": (t1 - t0) + (t3 - t1b)}
    if tracer:
        job2 = tracer.status.next_job_id()
        tracer.status.settle()
        spark_fig = tracer.status.jobs(job1, job2)
        stream1 = tracer.streams.snapshot()
        rec.update({
            "workload.build_s": rec["build_s"],
            "workload.build_jobs": job1 - job0,
            "spark.plan_s": rec["plan_s"],
            "spark.exec_s": rec["exec_s"],
            **{f"spark.{k}": v for k, v in spark_fig.items()},
            "spark.driver_gap_s": rec["exec_s"] - spark_fig["job_time_s"],
            "pyworker.cpu_s": probes.python_cpu_s(
                cpu0, probes.python_cpu_ticks(tracer.jvm_pid)),
            "pyworker.wait_s": spark_fig["task_run_s"] - spark_fig["task_cpu_s"],
            **{f"streaming.{k}": stream1[k] - stream0[k] for k in stream0},
            **{f"{layer}.self_s": s for layer, s in tracer.spans.self_s.items()},
            "operators.jobs": tracer.spans.jobs["operators"],
            "sources.calls": tracer.spans.calls["sources"],
        })
    return rec


def run_pass(spark, fns, data_dir, order, tracer) -> dict:
    stat0, t0 = probes.cpu_stat(), time.perf_counter()
    queries = []
    for name in order:
        try:
            rec = run_query(spark, fns[name], data_dir, tracer)
        except Exception as e:  # noqa: BLE001 - counted in failed_frac
            rec = {"error": first_line(e)}
        queries.append({"name": name, **rec})
    wall_s = time.perf_counter() - t0
    return {
        "traced": tracer is not None,
        "wall_s": wall_s,
        "rss_mb": probes.resident_bytes() / probes.MB,
        "steal_pct": probes.steal_pct(stat0, probes.cpu_stat()),
        "loadavg": os.getloadavg(),
        "queries": queries,
    }


def measure(spark, fns, data_dir, names, seed, seconds, trace) -> list[dict]:
    """Whole passes until `seconds` have passed. A traced run alternates
    untraced and traced passes, starting untraced."""
    tracer = Tracer(spark) if trace else None
    passes: list[dict] = []
    t0 = time.perf_counter()
    # a traced run needs two traced passes to compare their counts
    least = max(MIN_PASSES, 4) if trace else MIN_PASSES
    while len(passes) < least or time.perf_counter() - t0 < seconds:
        order = shuffled(names, seed, len(passes))
        if tracer and len(passes) % 2 == 1:
            with tracer:
                passes.append(run_pass(spark, fns, data_dir, order, tracer))
        else:
            passes.append(run_pass(spark, fns, data_dir, order, None))
    return passes


# ---------------------------------------------------------------- results

def end_to_end(setups, passes, failed, attempted) -> tuple[dict, dict]:
    """End-to-end metrics over the untraced passes, and the percentile
    and sample count behind `query_tail_s`."""
    plain = [p for p in passes if not p["traced"]]
    by_query: dict[str, list[float]] = {}
    for p in plain:
        for q in p["queries"]:
            if "latency_s" in q:
                by_query.setdefault(q["name"], []).append(q["latency_s"])
    lat = [x for xs in by_query.values() for x in xs]
    pct = tail_percentile(len(lat))
    metrics = {
        "setup_s": statistics.median(sum(s.values()) for s in setups),
        "wall_s": statistics.median(p["wall_s"] for p in plain),
        "query_p50_s": statistics.median(statistics.median(xs) for xs in by_query.values()),
        "peak_rss_mb": max(p["rss_mb"] for p in plain),
        "query_tail_s": None if pct is None else percentile(lat, pct),
        "failed_frac": failed / attempted,
    }
    return metrics, {"percentile": pct, "samples": len(lat)}


def per_layer(setups, passes) -> tuple[dict, list[str]]:
    """Per-layer metrics: each traced pass summed over its queries, then
    the median over traced passes. Also each `query:count` that did not
    repeat between traced passes."""
    traced = [p for p in passes if p["traced"]]
    keys = [k for k in (*PER_LAYER, *PER_LAYER_REPORTED)
            if not k.startswith(("session.", "trace."))]
    sums = [{k: sum(q.get(k, 0) for q in p["queries"]) for k in keys} for p in traced]
    metrics = {k: statistics.median(s[k] for s in sums) for k in keys}
    for k in ("import_s", "get_spark_s", "warmup_s"):
        metrics[f"session.{k}"] = statistics.median(s[k] for s in setups)
    untraced_wall = statistics.median(p["wall_s"] for p in passes if not p["traced"])
    metrics["trace.overhead_s"] = statistics.median(p["wall_s"] for p in traced) - untraced_wall
    seen: dict[tuple[str, str], set] = {}
    for p in traced:
        for q in p["queries"]:
            for k in REPEATING:
                seen.setdefault((q["name"], k), set()).add(q.get(k))
    differ = sorted(f"{name}:{k}" for (name, k), vals in seen.items() if len(vals) > 1)
    return metrics, differ


def describe(spark, seed: int) -> dict:
    """What a reader needs to interpret the run: where and on what."""
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=30, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "commit": commit,
        "engine_sha256": h.hexdigest(),
        "seed": seed,
    }


def shut_down() -> None:
    """Stop the JVM and the Python workers, and wait for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = gateway.proc
    workers = probes.descendants(jvm.pid)
    # Stopping the context first stops the Python workers and the
    # driver's accumulator server before the JVM goes away.
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    # The gateway JVM exits at the end of its stdin.
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if args.child_setup is not None:
        return child_main(args)
    names = WORKLOADS[args.workload].queries

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = prepare(work)
    stat0, load0 = probes.cpu_stat(), os.getloadavg()
    spark = None
    phases = {}
    try:
        t = time.perf_counter()
        data_dir = datagen.write_tables(args.seed, os.path.join(work, "data"))
        phases["inputs_s"] = time.perf_counter() - t
        problems: dict[str, str] = {}
        setups = [child_set_up(args, work, i, problems) for i in range(SETUPS - 1)]
        workload, spark, s = set_up(names, conf, data_dir,
                                    shuffled(names, args.seed, f"setup{SETUPS - 1}"),
                                    problems)
        setups.append(s)
        fns = workload.queries()
        t = time.perf_counter()
        answers = import_oracle().Oracle(data_dir, workload.oracles(), names)
        check_outputs(spark, fns, data_dir, shuffled(names, args.seed, "check"),
                      answers.check, problems)
        phases["check_s"] = time.perf_counter() - t
        t = time.perf_counter()
        passes = measure(spark, fns, data_dir, names, args.seed, args.seconds, args.trace)
        phases["measure_s"] = time.perf_counter() - t
        about = describe(spark, args.seed)
        t = time.perf_counter()
        shut_down()
        spark = None
        phases["shut_down_s"] = time.perf_counter() - t
        about["steal_pct"] = probes.steal_pct(stat0, probes.cpu_stat())
        about["loadavg"] = {"start": load0, "end": os.getloadavg()}
    finally:
        if spark is not None:
            shut_down()
        shutil.rmtree(work, ignore_errors=True)

    executions = [q for p in passes for q in p["queries"]]
    for q in executions:
        if "error" in q:
            problems.setdefault(q["name"], f"error: {q['error']}")
    failed = sum(1 for q in executions if q["name"] in problems)
    e2e, tail = end_to_end(setups, passes, failed, len(executions))
    layers, differ = per_layer(setups, passes) if args.trace else ({}, [])

    record = {
        "workload": args.workload, "trace": args.trace, "seconds": args.seconds,
        **about, "queries": list(names), "setups": setups, "passes": passes,
        "phases": phases, "end_to_end": e2e, "query_tail": tail,
        "failures": problems, "per_layer": layers, "counts_not_repeating": differ,
    }
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    rec_path = os.path.join(base, "records", f"{args.workload}-seed{args.seed}-"
                            f"trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
                            f"-{os.getpid()}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          + " ".join(f"{k}={about[k]}" for k in
                     ("master", "defaultParallelism", "driver_memory", "nproc", "spark",
                      "pyspark", "pyarrow", "commit", "steal_pct", "loadavg")))
    print("  setups=" + " ".join(
        "[" + " ".join(f"{k}={v:.3f}" for k, v in s.items()) + "]" for s in setups))
    print(f"  passes={len(passes)} "
          + " ".join(f"[{'traced' if p['traced'] else 'plain'} {p['wall_s']:.3f}s "
                     f"steal={p['steal_pct']}% load={p['loadavg'][0]:.2f}]" for p in passes))
    for k, unit in {**END_TO_END, **END_TO_END_REPORTED}.items():
        extra = {"query_tail_s": f" (p{tail['percentile']} of {tail['samples']} samples)",
                 "failed_frac": f" ({failed}/{len(executions)} executions)"}.get(k, "")
        if e2e[k] is None:
            print(f"  {k} n/a ({tail['samples']} samples, too few for ten above a percentile)")
        else:
            print(f"  {k} {e2e[k]:.6g} {unit}{extra}")
    print(f"  failing queries: {', '.join(sorted(problems)) or 'none'}")
    for name in sorted(problems):
        print(f"    {name}: {problems[name]}")
    if args.trace:
        print(f"  counts that differ between traced passes: {', '.join(differ) or 'none'}")
        for k, unit in {**PER_LAYER, **PER_LAYER_REPORTED}.items():
            print(f"  {k} {layers[k]:.6g} {unit}")
    print(f"  record: {os.path.relpath(rec_path, ROOT)}")

    shown = (
        {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        if args.trace else
        {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    )
    print(json.dumps({"correct": not problems and not differ,
                      "attempted": len(executions), "failed": failed,
                      "metrics": shown}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
