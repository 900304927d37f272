"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload mixed_run --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # every workload in turn

Run it from the repository root. It generates its inputs from ``--seed``
(cached under ``.perfbench-work/corpus``), sets up once from process start
(``setup_s``: a cold start, so its spread is taken across invocations),
then repeats the workload's timed call for ``--seconds`` and checks every
call's output outside the timed section. Standard output carries one line
per metric and, last, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; a failed check makes the exit code 1. The full
result (context, samples, quartiles and, with ``--trace 1``, the spans) is
written under ``.perfbench-work/results``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics of the whole layer ledger (ledger.py), measured with the
Spark UI on, and the tracing overhead on the named workload's call.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

MIN_PIPELINE_OPS = 3
MIN_REGISTRY_PASSES = 3
# Untimed calls of the other workload in a traced run: its per-layer numbers
# have no bound, so a shorter warm-up leaves time for the timed runs.
TRACE_WARM = 2
PIPELINE_DOCS = 3000
# A fixed heap size (-Xms = -Xmx) keeps the JVM's peak RSS comparable between
# runs and small beside other tenants of the host; the corpora above need
# well under it.
DRIVER_MEM = "2g"

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")


def _isolate(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the program."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # build-once tables: empty for this invocation, so builds are real
        "CIES_NEARDUP_CACHE_DIR": os.path.join(run_dir, "neardup"),
        "CIES_SHINGLE_CACHE_DIR": os.path.join(run_dir, "shingle"),
        # fixture and derived caches are keyed by corpus and may persist
        "CIES_FIXTURE_CACHE_DIR": os.path.join(WORK, "fixture-cache"),
    })


def master() -> str:
    """Two task threads: on a 4-vCPU host that leaves cores to the driver,
    JIT and GC threads sharing the JVM. At local[4] they stretch the
    critical path: run() walls of five seeds spread 0.23 (IQR / median),
    against 0.06-0.16 at local[2]."""
    return f"local[{min(2, len(os.sched_getaffinity(0)))}]"


def start_session(run_dir: str, ui: bool):
    """(get_spark wall, session); stops the active session first, so a
    repeat set-up builds a fresh SparkContext in the same JVM."""
    from pyspark.sql import SparkSession

    from cies_ocr_java_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=master(), extra_conf={
        "spark.ui.enabled": str(ui).lower(),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xss8m -Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    })
    return time.perf_counter() - t0, spark


def stop_session() -> None:
    """Stop the active session, if any, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkContext._gateway is None:
        return
    proc = SparkContext._gateway.proc
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def cpu_jiffies() -> list[int]:
    """The host's aggregate CPU counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(since: list[int]) -> float:
    """Share of the host's CPU time since ``since`` that the hypervisor gave
    to other guests: timings are only comparable at similar steal."""
    d = [b - a for a, b in zip(since, cpu_jiffies())]
    return d[7] / max(sum(d), 1)


def host_ref_s() -> float:
    """Median wall of a fixed pure-Python loop: how fast this host runs
    right now. Neighbours' load moves it, and every timing with it."""
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def summary(values: list[float]) -> dict:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2],
            "n": len(values), "samples": values}


def context(args, manifest: dict, run_dir: str, extra: dict) -> dict:
    head = os.path.join(ROOT, ".git", "HEAD")
    commit = None
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        commit = ref
        path = os.path.join(ROOT, ".git", ref[5:])
        if ref.startswith("ref: ") and os.path.isfile(path):
            with open(path) as f:
                commit = f.read().strip()
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "command": [sys.executable, *sys.argv],
        "git_commit": commit,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb / 1024,
        "master": master(),
        "driver_memory": DRIVER_MEM,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "corpus": manifest,
        "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        "output_root": run_dir,
        **extra,
    }


def make_workload(name: str, seed: int, run_dir: str):
    import corpus
    from workloads import MixedRun, RegistryDedup

    croot = os.path.join(WORK, "corpus")
    if name == "registry_dedup":
        cdir, manifest = corpus.registry_corpus()
        return RegistryDedup(run_dir, cdir, manifest)
    cdir, manifest = corpus.pipeline_corpus(croot, PIPELINE_DOCS, seed)
    return MixedRun(run_dir, cdir, manifest)


def measure(wl, seconds: float, ops: list, extra: dict) -> list[dict]:
    """Timed operations for about ``seconds``, appended to ``ops``: another
    unit starts only if it should end by then, after at least
    MIN_PIPELINE_OPS run() calls or MIN_REGISTRY_PASSES registry passes.
    Returns the samples of each run() call, or the one sample of all the
    registry passes (per-name medians)."""
    from workloads import more

    units = []
    t0 = time.perf_counter()
    if wl.name == "registry_dedup":
        passes = []
        while more(t0, len(passes), MIN_REGISTRY_PASSES, seconds):
            passes.append(wl.run_pass())
            ops += passes[-1]
        wl.check(ops)
        extra["query_walls"] = wl.query_walls(passes)
        return [wl.samples(passes)]
    while more(t0, len(units), MIN_PIPELINE_OPS, seconds):
        ops.append(wl.op())
        units.append(ops[-1].samples)
    return units


def set_up(wl, run_dir: str, t_fixture: float):
    """(session, get_spark seconds, set-up seconds, warm-up ops). Set-up
    runs from process start to the first timed call, less the fixture work."""
    start_s, spark = start_session(run_dir, ui=False)
    wl.open(spark)
    ops = wl.warm()
    return spark, start_s, time.perf_counter() - PROCESS_START - t_fixture, ops


def untraced(args, wl, run_dir: str, t_fixture: float) -> tuple[dict, dict, list]:
    spark, _, setup, ops = set_up(wl, run_dir, t_fixture)
    extra = {}
    units = measure(wl, args.seconds, ops, extra)
    rss = vm_hwm_mb(spark)
    failed = sum(1 for o in ops if o.error)
    series = {"setup_s": [setup], "peak_rss_mb": [rss],
              "ops_ok_frac": [1 - failed / len(ops)]}
    for key in ("run_wall_s", "docs_per_s", "input_mb_per_s", "output_bytes_per_input_byte"):
        series[key] = [u[key] for u in units if key in u] or [0.0]
    return series, {"errors": [o.error for o in ops if o.error], **extra}, ops


def traced(args, wl, run_dir: str, t_fixture: float) -> tuple[dict, dict, list]:
    """The whole layer ledger, whichever workload is named: the pipeline
    layers over the seed's pipeline corpus and the registry layers over its
    registry corpus, so every per-layer metric is measured in every traced
    run. The named workload's call, timed with tracing off once before and
    three times after the traced section, is the base of the tracing
    overhead and, for mixed_run, of the reconciliation of the pipeline layer
    self times."""
    import ledger
    from spec import WORKLOADS

    wls = {name: wl if name == wl.name else make_workload(name, args.seed, run_dir)
           for name in WORKLOADS}
    pipe, reg = wls["mixed_run"], wls["registry_dedup"]

    def untraced_call() -> list:
        return wl.run_pass() if wl is reg else [wl.op()]

    _, start_s, _, ops = set_up(wl, run_dir, t_fixture)
    # one call before and three after: the median is a call as warm as the
    # traced ones, and warm-up still under way biases neither side
    base = []

    def untraced_base() -> None:
        calls = untraced_call()
        ops.extend(calls)
        base.append(sum(o.wall for o in calls))

    untraced_base()
    _, spark = start_session(run_dir, ui=True)
    tracer = ledger.Tracer(f"{wl.name}-s{args.seed}-{uuid.uuid4().hex[:8]}")
    with tracer.span("ledger"):
        for w in wls.values():
            w.open(spark)
        other = reg if wl is pipe else pipe
        with tracer.span(f"warm.{other.name}"):
            ops += other.warm(TRACE_WARM)
        store = ledger.StageStore(spark)
        res = {pipe.name: ledger.trace_pipeline(pipe, spark, run_dir, args.seconds,
                                                tracer, store),
               reg.name: ledger.trace_registry(reg, spark, args.seconds / 2, tracer)}
    _, spark = start_session(run_dir, ui=False)
    for w in wls.values():
        w.open(spark)
    for _ in range(3):
        untraced_base()
    reg.check(ops)
    traced_walls = res[wl.name]["call_walls"]
    metrics = {**res[pipe.name]["metrics"], **res[reg.name]["metrics"],
               "session.start_s": start_s,
               "trace.overhead_frac": statistics.median(traced_walls) / statistics.median(base) - 1}
    series = {k: [v] for k, v in metrics.items()}
    extra = {"errors": [o.error for o in ops if o.error], "untraced_walls": base,
             "traced_walls": traced_walls, "spans": tracer.spans}
    if wl is pipe:
        extra["reconcile"] = ledger.reconcile(res[pipe.name]["layer_diffs"], base)
    return series, extra, ops


def run_one(args) -> int:
    from spec import END_TO_END, PER_LAYER

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    sys.path.insert(0, ROOT)
    jiffies = cpu_jiffies()
    t0 = time.perf_counter()
    wl = make_workload(args.workload, args.seed, run_dir)  # fixture work
    t_fixture = time.perf_counter() - t0
    try:
        fn = traced if args.trace else untraced
        series, extra, ops = fn(args, wl, run_dir, t_fixture)
    finally:
        stop_session()
        shutil.rmtree(run_dir, ignore_errors=True)
    spec = PER_LAYER if args.trace else END_TO_END
    failed = sum(1 for o in ops if o.error)
    metrics = {n: {"value": statistics.median(series[n]), "unit": spec[n][0]}
               for n in spec}
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    artifact = os.path.join(
        WORK, "results",
        f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(artifact, "w") as f:
        json.dump({"context": context(args, wl.manifest, run_dir,
                                      {"fixture_s": t_fixture, "artifact": artifact,
                                       "host_steal_frac": steal_frac(jiffies),
                                       "host_ref_s": host_ref_s()}),
                   "result": result,
                   "summary": {n: summary(series[n]) for n in spec},
                   **extra}, f, indent=1)
    for n, m in metrics.items():
        print(f"{n} {m['value']!r} {m['unit']}")
    print(json.dumps(result), flush=True)
    print(f"perfbench: result written to {artifact}", file=sys.stderr)
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Every workload in its own process, one after another."""
    from spec import WORKLOADS

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        code = code or proc.returncode
        lines = proc.stdout.strip().splitlines()
        if not lines:
            merged["correct"] = False
            continue
        res = json.loads(lines[-1])
        for k in ("attempted", "failed"):
            merged[k] += res[k]
        merged["correct"] &= res["correct"]
        for n, m in res["metrics"].items():
            merged["metrics"][f"{name}.{n}"] = m
            print(f"{name}.{n} {m['value']!r} {m['unit']}")
    merged["attempted"] = max(merged["attempted"], 1)
    print(json.dumps(merged), flush=True)
    return code


def main() -> int:
    from spec import RUN_SECONDS, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("cies_ocr_java_spark", "tools"):
        if not os.path.isdir(os.path.join(ROOT, need)):
            print(f"perfbench: {need}/ not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
