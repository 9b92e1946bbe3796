#!/usr/bin/env python3
"""Repository benchmark: CSV directory convert, dashboard request loop and
curation operators, end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload {etl_batch,dashboard,curation,all} \
        --seed N --seconds S --trace {0,1} [--smoke]

``BENCHMARK.json`` lists ``dashboard`` and ``curation``; ``etl_batch`` runs
and checks the same way but is not listed (see CHANGES.md).  ``all`` runs
the three workloads in turn.

A run makes its inputs from the seed, sets up the session several times
(the first set-up also starts the JVM; ``setup_s`` is the median of the
later ones), warms up untimed, then runs the workload's operations in a
closed loop for ``--seconds`` and checks every output.  An operation is a
``process_source`` call, a dashboard edit-preview-convert-process cycle, or
a curation pass.  ``op_excl_steal_p50_s`` is the median over operations of
an operation's wall time less the CPU time the hypervisor took from this
machine's CPUs while it ran (``steal`` in /proc/stat): on a shared 4-core
virtual machine that time came in bursts of up to a fifth of the machine,
an operation's wall time grew by 0.6-0.9 s per stolen CPU second, and raw
wall medians of ten runs of identical code spread by up to a third.  The
correction over-states the loss in parallel phases under heavy steal.  The
raw wall median (``op_p50_s``) is printed on stderr beside it.
The last line of stdout is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` operations alternate between
untraced and traced, and the run reports the per-layer metrics of the
traced ones plus the tracing overhead (traced minus untraced) of the
operation time.
A readable report, the environment stamp and the workload's own figures go
to stderr; the spans and the full record are written under
``.perfbench_work/``.  ``--smoke`` runs tiny inputs (for the tests).
Exit code 1 means an output check failed; 2 means the program under test
is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
# set-ups per run: the first starts the JVM, the rest restart the session
# in it, and setup_s is the median of those
SETUP_ROUNDS = 5
DEADLINE_S = 170.0  # a run must end within 180 s

WORKLOADS = ("etl_batch", "dashboard", "curation")
# layers with spans of their own during the timed operations
LAYERS = ("specs", "api", "compiler", "sources", "plans", "orchestrate", "operators")
E2E_UNITS = {"setup_s": "s", "op_excl_steal_p50_s": "s"}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the tests")
    return p.parse_args(argv)


def program_present() -> bool:
    needed = ("csv_etl_spark/__init__.py", "__spark_entry__.py", "scripts/check_oracle.py")
    return all((ROOT / n).is_file() for n in needed)


def launch_env(work: Path) -> None:
    """Environment the Spark JVM and its Python workers inherit: workers
    import ``csv_etl_spark`` through PYTHONPATH; every scratch file stays
    under the run's work directory."""
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # the JVM's perf-data file would otherwise land in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"


def env_stamp() -> dict:
    """Load average, core count, and the Java / Python processes outside
    this run's session — a non-empty list marks a contended run."""
    from perfbench.workloads import stolen_cpu_s

    own_sid = os.getsid(0)
    foreign = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            comm = Path(f"/proc/{p}/comm").read_text().strip()
            if comm.startswith(("java", "python")) and os.getsid(int(p)) != own_sid:
                foreign.append(f"{comm}:{p}")
        except (OSError, ProcessLookupError):
            continue
    return {
        "loadavg": list(os.getloadavg()),
        "cores": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "foreign_jvm_py": foreign,
        "steal_s": stolen_cpu_s(),
    }


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident memory of this process plus the Spark JVM."""

    def hwm_kb(pid: int | str) -> int:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
        return 0

    return (hwm_kb("self") + hwm_kb(jvm_pid)) / 1024.0


def warm_synthetic(spark) -> None:
    """JVM and codegen warm-up on synthetic frames only."""
    from pyspark.sql import functions as F

    spark.range(0, 1000, 1, 8).select(
        F.date_format(
            F.try_to_timestamp(F.lit("2024-01-01 00:00:00"), F.lit("yyyy-MM-dd HH:mm:ss")),
            "yyyy-MM-dd",
        ).alias("d"),
        F.when(F.col("id") % 2 == 0, F.lit("a")).otherwise(F.lit("c")).alias("w"),
        F.concat(F.lit("x:"), F.col("id").cast("string")).alias("c"),
    ).write.format("noop").mode("overwrite").save()


def set_up(wl, spark):
    """One set-up: (re)start the session, create the workload's app or
    store, warm up on synthetic frames.  Returns (spark, total s, get_spark s)."""
    from csv_etl_spark import get_spark

    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}")
    t_spark = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    wl.make_app(spark)
    warm_synthetic(spark)
    return spark, time.perf_counter() - t0, t_spark


def measure(wl, spark, outcome, seconds: float, started: float, tracer=None):
    """Closed loop: the next operation starts when the previous one and
    its checks are done.  Another operation starts while at least half of
    a typical one still fits in ``seconds``.  With a tracer, operations
    alternate between untraced and traced (the program's functions are
    wrapped for the traced ones only), so both see the same warm-up.
    Returns (untraced operations, traced operations)."""
    plain, traced = [], []
    untraced_tracer = wl.tracer
    t0 = time.perf_counter()

    def run_op(into: list) -> None:
        try:
            into.append(wl.op(spark, outcome))
        except Exception:  # an operation that raises counts as failed; the loop goes on
            outcome.check(False, "operation raised: " + traceback.format_exc(limit=3))

    def more() -> bool:
        if not plain or (tracer is not None and not traced):
            return True
        typical = statistics.median(o.seconds for o in plain + traced)
        return time.perf_counter() - t0 + typical / 2 < seconds

    while more():
        if tracer is not None and len(traced) < len(plain):
            wl.tracer = tracer
            wl.trace_layers()
            try:
                run_op(traced)
            finally:
                tracer.restore()
                wl.tracer = untraced_tracer
        else:
            run_op(plain)
        if time.perf_counter() - started > DEADLINE_S * 0.75:
            break  # leave time to stop Spark within the run's limit
    if not plain or (tracer is not None and not traced):
        raise RuntimeError("no operation completed: " + "; ".join(outcome.failures[-3:]))
    return plain, traced


def e2e_metrics(ops, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "op_excl_steal_p50_s": statistics.median(o.seconds - o.steal_s for o in ops),
    }


def layer_metrics(
    tracer, n_ops: int, get_spark_s: float = 0.0, rss: float = 0.0,
    untraced: dict | None = None, traced: dict | None = None,
) -> dict:
    """Every per-layer metric of a traced run as ``{name: (value, unit)}``:
    figures per traced operation of the workload (api.* per request of
    that kind, operators.* per pass), with layers idle in the workload at
    0; the median ``get_spark`` time of the session restarts and the peak
    memory of the run; and the tracing overhead, traced minus untraced, of
    the operation time.  Set-up is not traced (nothing is patched there),
    so it has no overhead figure and no layer of its own."""
    from perfbench.spans import Span
    from perfbench.workloads import CURATION_QUERIES

    def per_op(x: float) -> float:
        return x / n_ops

    def spans(name: str) -> list[Span]:
        return tracer.named(name)

    def self_s(name: str) -> float:
        return sum(tracer.self_time(s) for s in spans(name))

    def total(name: str, attr: str) -> float:
        return sum(getattr(s, attr) for s in spans(name))

    def mean(xs: list[float]) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    m: dict[str, tuple[float, str]] = {}
    loads = spans("specs.load")
    m["specs.loads"] = (per_op(len(loads)), "count")
    m["specs.load_ms"] = (per_op(self_s("specs.load")) * 1e3, "ms")
    for kind in ("preview", "convert", "update", "process"):
        ss = spans(f"api.{kind}")
        m[f"api.{kind}.self_s"] = (mean([tracer.self_time(s) for s in ss]), "s")
        m[f"api.{kind}.jobs"] = (mean([s.jobs for s in ss]), "count")
    cm = spans("compiler.compile_mapping")
    m["compiler.compile_mapping.ms"] = (mean([s.duration for s in cm]) * 1e3, "ms")
    m["compiler.compile_mapping.calls"] = (per_op(len(cm)), "count")
    m["sources.read_spec_csv.s"] = (per_op(self_s("sources.read_spec_csv")), "s")
    m["sources.read_spec_csv.jobs"] = (per_op(total("sources.read_spec_csv", "jobs")), "count")
    m["sources.update_csv_row.s"] = (per_op(self_s("sources.update_csv_row")), "s")
    m["sources.update_csv_row.jobs"] = (per_op(total("sources.update_csv_row", "jobs")), "count")
    m["sources.write_single_csv_file.s"] = (per_op(self_s("sources.write_single_csv_file")), "s")
    m["sources.write_single_csv_file.bytes"] = (
        per_op(sum(s.attrs.get("bytes", 0) for s in spans("sources.write_single_csv_file"))),
        "bytes",
    )
    m["plans.transform.self_s"] = (per_op(self_s("plans.transform")), "s")
    m["plans.validate.s"] = (per_op(self_s("plans.validate")), "s")
    for attr, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_s", "s"),
        ("cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ):
        m[f"plans.transform.{attr}"] = (per_op(total("plans.transform", attr)), unit)
    plan_spans = spans("plans.transform") + spans("plans.validate")
    n_in = sum(s.attrs.get("input", 0) for s in plan_spans)
    m["plans.transform.kept_per_input"] = (
        sum(s.attrs.get("kept", 0) for s in plan_spans) / n_in if n_in else 0.0,
        "ratio",
    )
    m["orchestrate.process_source.self_s"] = (per_op(self_s("orchestrate.process_source")), "s")
    m["orchestrate.process_source.jobs_outside_transform"] = (
        per_op(total("orchestrate.process_source", "jobs")),
        "count",
    )
    for q in CURATION_QUERIES:
        b, p, e = (f"operators.{q}.{x}" for x in ("build", "plan", "exec"))
        m[f"{b}_s"] = (per_op(self_s(b)), "s")
        m[f"{b}_jobs"] = (per_op(total(b, "jobs")), "count")
        m[f"{p}_s"] = (per_op(self_s(p)), "s")
        m[f"{e}_s"] = (per_op(self_s(e)), "s")
        m[f"{e}_jobs"] = (per_op(total(e, "jobs")), "count")
        for attr, key, unit in (("task_s", "task_s", "s"), ("gc_s", "gc_s", "s"),
                                ("shuffle_write_bytes", "shuffle_bytes", "bytes")):
            m[f"operators.{q}.{key}"] = (per_op(sum(total(n, attr) for n in (b, p, e))), unit)
    layer_self: dict[str, float] = {}
    for s in tracer.spans:
        layer_self[s.layer] = layer_self.get(s.layer, 0.0) + tracer.self_time(s)
    for layer in LAYERS:
        m[f"layer.{layer}.self_s"] = (per_op(layer_self.get(layer, 0.0)), "s")
    m["trace.wall_s"] = (per_op(sum(s.duration for s in tracer.spans if s.parent is None)), "s")
    m["trace.unattributed_s"] = (per_op(layer_self.get("bench", 0.0)), "s")
    m["trace.ops"] = (float(n_ops), "count")
    m["session.get_spark_s"] = (get_spark_s, "s")
    m["session.peak_rss_mb"] = (rss, "MB")
    key = "op_excl_steal_p50_s"
    m[f"overhead.{key}"] = (traced[key] - untraced[key] if traced else 0.0, "s")
    return m


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_one(args) -> int:
    started = time.perf_counter()
    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    launch_env(work)
    sys.path[0] = str(ROOT)

    from perfbench.spans import Tracer
    from perfbench.workloads import Curation, Dashboard, EtlBatch, Outcome, stolen_cpu_s

    untraced = Tracer(False)
    cls = {"etl_batch": EtlBatch, "dashboard": Dashboard, "curation": Curation}[args.workload]
    wl = cls(work, args.seed, args.smoke, untraced)
    wl.prepare()
    phases = {"prepare": time.perf_counter() - started}
    stamp_start = env_stamp()

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - started - sum(phases.values())

    spark = None
    setups, get_spark_s = [], []
    for _ in range(SETUP_ROUNDS):
        spark, t, ts = set_up(wl, spark)
        setups.append(t)
        get_spark_s.append(ts)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    phase("setup")

    outcome = Outcome()
    layers: dict[str, tuple[float, str]] = {}
    try:
        wl.warm(spark, outcome)
        phase("warm")
        tracer = Tracer(True) if args.trace else None
        if tracer is not None:
            tracer.bind(spark)
        steal0 = stolen_cpu_s()
        ops, traced_ops = measure(wl, spark, outcome, args.seconds, started, tracer)
        phase("measure")
        steal_share = (stolen_cpu_s() - steal0) / (phases["measure"] * len(os.sched_getaffinity(0)))
        metrics = e2e_metrics(ops, statistics.median(setups[1:]))
        rss = peak_rss_mb(jvm_pid)
        report = wl.report(ops)
        if tracer is not None:
            tracer.harvest(spark)
            traced = e2e_metrics(traced_ops, metrics["setup_s"])
            layers = layer_metrics(
                tracer, len(traced_ops), statistics.median(get_spark_s[1:]), rss, metrics, traced
            )
            tracer.dump(work / "spans.json")
    finally:
        shutdown(spark)
    phase("stop")

    stamp_end = env_stamp()
    failed = len(outcome.failed_ops)
    samples = {"setup_s": len(setups) - 1, "op_excl_steal_p50_s": len(ops)}
    err = sys.stderr
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}", file=err)
    print(f"  env start {json.dumps(stamp_start)}", file=err)
    print(f"  env end   {json.dumps(stamp_end)}", file=err)
    print(f"  steal share while measuring {steal_share:.3f} (CPU time the host took from this VM)", file=err)
    print(f"  phases_s {json.dumps({k: round(v, 2) for k, v in phases.items()})}", file=err)
    print(f"  setup rounds s {[round(x, 4) for x in setups]} (the first starts the JVM;"
          " the median of the rest is reported)", file=err)
    print(f"  operations s {[round(o.seconds, 4) for o in ops]}", file=err)
    print(f"  stolen CPU s per operation {[round(o.steal_s, 2) for o in ops]}", file=err)
    print(f"  op_p50_s {statistics.median(o.seconds for o in ops):.4f} s (raw wall, n={len(ops)})", file=err)
    for k, v in metrics.items():
        print(f"  {k} {v:.4f} {E2E_UNITS[k]} (n={samples[k]})", file=err)
    print(f"  peak_rss_mb {rss:.1f} MB (high-water mark of this process plus its JVM)", file=err)
    for line in report:
        print(f"  {line}", file=err)
    print(f"  failed_frac {failed / outcome.attempted:.4f} ({failed}/{outcome.attempted})", file=err)
    for f in outcome.failures[:20]:
        print(f"  FAILED CHECK: {f}", file=err)
    for k, (v, unit) in sorted(layers.items()):
        print(f"  {k} {v:.6g} {unit}", file=err)

    out = (
        {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        if args.trace
        else {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    )
    record = {
        "args": vars(args),
        "env": {"start": stamp_start, "end": stamp_end, "steal_share": steal_share},
        "phases_s": phases,
        "setup_rounds_s": setups,
        "ops": [[o.kind, o.seconds, o.steal_s] for o in ops],
        "end_to_end": metrics,
        "report": report,
        "failures": outcome.failures,
        "metrics": out,
    }
    (work / "record.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({"correct": failed == 0, "attempted": outcome.attempted, "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Every workload in turn, each in its own process (and JVM); the last
    line sums them up, and the exit code is 1 if any check failed."""
    results = {}
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd + (["--smoke"] if args.smoke else []), stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        results[w] = json.loads(lines[-1]) if p.returncode in (0, 1) and lines else None
    ok = all(r is not None and r["correct"] for r in results.values())
    print(json.dumps({"correct": ok, "workloads": results}))
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print(f"perfbench: the program under test is missing from {ROOT}", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
