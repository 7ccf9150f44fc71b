"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see ``workloads.py``): extract_tmpl and extract_longtail. The
run generates its input from the seed (cached under ``.perfbench/``, keyed
by the generator parameters and source), sets up the Spark session
``SETUPS`` times (each set-up = session start plus one untimed pass over
the input; the first one also launches the JVM), measures whole passes
for ``--seconds``, checks the outputs (row counts, and the gate sample
against the pure-Python oracle), and prints one JSON object as the last
line of stdout. It exits non-zero when a check fails.

--trace 0 reports the end-to-end metrics: docs_per_s, setup_s (median
set-up) and peak_rss_mb (median over passes of the peak RSS of the JVM
plus Python workers). --trace 1 is a separate run that also enables
Spark's event log, records spans around each layer call, runs the layer
isolation jobs and the workload's suite (the ingest path on extract_tmpl,
the analytics queries on extract_longtail, each with its own correctness
gate), then prints self time per span, the overhead against the last
untraced run, and the per-layer metrics. A layer the workload does not
exercise reads 0. Metric names and units come from BENCHMARK.json.

Everything the run writes stays under ``<checkout>/.perfbench/``; the run
works from any current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("extract_tmpl", "extract_longtail")
CORES = min(4, len(os.sched_getaffinity(0)))
SETUPS = 3
DRIVER_MEM = "1g"



def _units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Context:
    """State of one invocation, handed to the workload methods."""

    def __init__(self, args) -> None:
        from tracing import Tracer
        self.workload = None  # the workloads.make() object
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = WORK
        self.tracer = Tracer(bool(args.trace))
        self.scratch = os.path.join(WORK, "runs", f"{os.getpid()}")
        self.spark = None
        self.inp = self.meta = None
        self.sample: list[dict] = []
        self.expected: dict = {}
        self.probes: dict = {}
        self.spark_conf: dict = {}
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def _environment() -> dict:
    """Set before the JVM starts: heap sized for the box, Spark scratch and
    temp files inside the checkout, the package importable by workers."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher's too: temp files here and
        # no hsperfdata file under the system temp directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    return env


def _spark_conf(trace_dir: str | None) -> dict[str, str]:
    conf = {
        # one scan task per stored file, as bench.py reads its shards
        "spark.sql.files.openCostInBytes": "16777216",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed-size heap (-Xms = the -Xmx from SPARK_DRIVER_MEM), resident
        # from launch, so the JVM part of peak_rss_mb does not depend on
        # when G1 grows the heap or first touches its pages
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if trace_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + trace_dir,
                     "spark.eventLog.compress": "false"})
    return conf


def _tail(xs: list[float]) -> str:
    """Median, count and the highest percentile with >= 10 samples beyond
    it (the max when there are too few samples for any)."""
    n = len(xs)
    med = statistics.median(xs)
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100 >= 10:
            return (f"median={med:.4f} n={n} "
                    f"p{q}={statistics.quantiles(xs, n=100)[q - 1]:.4f}")
    return f"median={med:.4f} n={n} max={max(xs):.4f}"


def _session(ctx, conf: dict, setups: list, launches: list) -> None:
    """One set-up: (stop the previous session,) start a session, run the
    untimed warm-up pass. Appends its wall time and the get_spark time."""
    from document_parser_private_spark.session import get_spark

    t0 = time.perf_counter()
    with ctx.tracer.span("setup"):
        if ctx.spark is not None:
            ctx.spark.stop()
        t1 = time.perf_counter()
        with ctx.tracer.span("session.get_spark"):
            ctx.spark = get_spark(app_name="perfbench", cores=CORES,
                                  shuffle_partitions=CORES, extra_conf=conf)
        launches.append(time.perf_counter() - t1)
        with ctx.tracer.span("setup.warmup"):
            ctx.workload.warmup(ctx)
    setups.append(time.perf_counter() - t0)


def _shutdown(ctx) -> None:
    """Stop Spark, end the JVM it launched, and wait for every process
    this run started."""
    import tracing

    if ctx.spark is None:
        return
    kids = tracing.descendants()
    gateway = ctx.spark.sparkContext._gateway
    ctx.spark.stop()
    ctx.spark = None
    gateway.shutdown()
    if getattr(gateway, "proc", None) is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    tracing.reap(kids)


def _measure(ctx) -> tuple[list[dict], int]:
    """Whole passes until --seconds have elapsed, or until the workload
    has no input left for another; a pass whose job fails is counted and
    the run goes on."""
    passes, failed = [], 0
    limit = ctx.workload.max_passes(ctx)
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end and (
            limit is None or len(passes) + failed < limit):
        with ctx.tracer.span("pass"):
            t0 = time.perf_counter()
            try:
                p = ctx.workload.timed_pass(ctx, len(passes) + failed)
            except Exception:  # noqa: BLE001 - recorded and counted
                traceback.print_exc()
                failed += 1
                continue
            p["window"] = (t0, time.perf_counter())
            passes.append(p)
    return passes, failed


def run(args) -> int:
    env = _environment()
    sys.path.insert(0, ROOT)
    import inputs
    import tracing
    import workloads

    ctx = Context(args)
    ctx.workload = workloads.make(args.workload)
    shutil.rmtree(ctx.scratch, ignore_errors=True)
    os.makedirs(ctx.scratch)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    trace_dir = os.path.join(ctx.scratch, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    ctx.inp, ctx.meta = inputs.prepare(args.workload, args.seed, WORK)
    ctx.sample, ctx.expected = workloads.sample_expected(ctx.inp)
    calib = [tracing.calibrate()]

    setups: list[float] = []
    launches: list[float] = []
    conf = _spark_conf(trace_dir)
    try:
        with tracing.RssSampler() as rss:
            for _ in range(SETUPS):
                _session(ctx, conf, setups, launches)
            scan_splits = ctx.spark.read.parquet(inputs.corpus_dir(
                ctx.inp, ctx.meta["gate"])).rdd.getNumPartitions()
            passes, failed_passes = _measure(ctx)
            if not passes:
                print("no pass completed", file=sys.stderr)
                return 1
            for _ in range(failed_passes):
                ctx.check(False, "job failed")
            with ctx.tracer.span("gate"):
                ctx.workload.gate(ctx, passes)
            ctx.spark_conf = dict(ctx.spark.sparkContext.getConf().getAll())
            if args.trace:
                with ctx.tracer.span("probes"):
                    ctx.probes = ctx.workload.probes(ctx)
    finally:
        _shutdown(ctx)
    calib.append(tracing.calibrate())

    pass_s = [p["s"] for p in passes]
    e2e = {
        "docs_per_s": statistics.median(p["docs"] / p["s"] for p in passes),
        "setup_s": statistics.median(setups),
        # median over passes of the peak during the pass: a one-off spike
        # (a GC, a gate job) does not decide it
        "peak_rss_mb": statistics.median(
            rss.peak_kb(*p["window"]) for p in passes) / 1024,
    }
    layers: dict = {}
    if args.trace:
        stages, executions = tracing.read_event_log(trace_dir)
        layers = ctx.workload.layers(ctx, passes, stages, executions)
        layers["session.jvm_launch_s"] = launches[0]
        layers["session.get_spark_s"] = statistics.median(launches)

    props = dict(ctx.meta.get("properties") or {},
                 scan_splits=scan_splits, cores=CORES)
    _report(ctx, args, env, calib, props, passes, setups, e2e, layers)
    _save({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": e2e, "per_layer": layers, "pass_s": pass_s,
        "setup_s": setups, "calibration_mops_per_s": calib, "input": props,
        "env": env, "nproc": os.cpu_count(), "cores": CORES,
        "spark_conf": ctx.spark_conf, "checks": ctx.attempted,
        "failures": ctx.failures,
    })
    shutil.rmtree(ctx.scratch, ignore_errors=True)
    units = _units("per_layer" if args.trace else "end_to_end")
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                    for name, unit in units.items()},
    }))
    return 1 if ctx.failures else 0


def _report(ctx, args, env, calib, props, passes, setups, e2e, layers) -> None:
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cores={CORES} nproc={os.cpu_count()} "
          f"SPARK_DRIVER_MEM={env['SPARK_DRIVER_MEM']} "
          f"SPARK_LOCAL_DIRS={env['SPARK_LOCAL_DIRS']}")
    print(f"calibration_mops_per_s before={calib[0]} after={calib[-1]}")
    conf = ctx.spark_conf
    print("spark_conf " + " ".join(f"{k}={conf.get(k)}" for k in (
        "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
        "spark.sql.execution.arrow.maxRecordsPerBatch")))
    print("input " + json.dumps({"docs": ctx.meta["docs"],
                                 "sample_giants": ctx.meta["sample_giants"],
                                 **props}))
    pass_s = [p["s"] for p in passes]
    print(f"pass_s {_tail(pass_s)}")
    # in order: a steady warming trend on extract_longtail would mean the
    # memos hit across passes
    print("pass_docs_per_s " + " ".join(
        f"c{p['corpus']}:{p['docs'] / p['s']:.1f}" for p in passes))
    print(f"setup_s {_tail(setups)} (first, with JVM launch: {setups[0]:.4f})")
    for name, unit in _units("end_to_end").items():
        print(f"{name} = {e2e[name]:.4f} {unit}")
    print(f"err_rate = {len(ctx.failures) / max(ctx.attempted, 1):.6f} "
          f"({len(ctx.failures)} of {ctx.attempted} checks failed)")
    for what in ctx.failures[:20]:
        print(f"FAILED {what}")
    if not args.trace:
        return
    for name, sec in sorted(ctx.tracer.self_times().items(),
                            key=lambda kv: -kv[1]):
        print(f"self_s {name} {sec:.4f}")
    untraced = _load_untraced(args.workload)
    if untraced:
        for name in ("docs_per_s", "setup_s"):
            print(f"trace_overhead {name}: traced {e2e[name]:.4f} vs untraced "
                  f"{untraced[name]:.4f} ({e2e[name] / untraced[name]:.3f}x)")
    else:
        print("trace_overhead n/a: no untraced run of this workload recorded")
    for name, unit in _units("per_layer").items():
        shown = f"{layers[name]:.4f}" if name in layers else "0 (not exercised)"
        print(f"{name} = {shown} {unit}")
    ctx.tracer.dump(os.path.join(WORK, "results",
                                 f"{args.workload}-s{args.seed}-spans.json"))


def _save(record: dict) -> None:
    d = os.path.join(WORK, "results")
    name = f"{record['workload']}-s{record['seed']}-t{record['trace']}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump(record, f, indent=1)
    if not record["trace"]:
        with open(os.path.join(d, f"{record['workload']}-untraced.json"),
                  "w") as f:
            json.dump(record["end_to_end"], f)


def _load_untraced(workload: str) -> dict | None:
    try:
        with open(os.path.join(WORK, "results", f"{workload}-untraced.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "document_parser_private_spark")):
        print(f"perfbench: no document_parser_private_spark package under "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
