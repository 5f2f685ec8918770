"""Benchmark of the sql_to_dbsp_compiler_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ivm_steps --seed 1 --seconds 10 --trace 0

Each run starts one Spark driver on ``local[nproc]`` (one client, closed
loop), makes its inputs from ``--seed`` under ``.perfbench/`` in the
checkout, sets the workload up, times passes until ``--seconds`` have
passed (at least one pass), checks the outputs against an oracle and
prints one JSON object as the last line of standard output:

- ``--trace 0``: the end-to-end metrics (spans off);
- ``--trace 1``: the per-layer metrics. Untraced and traced passes
  alternate, so the tracing overhead is measured in the same run; the
  spans and per-op Spark folds are written to ``.perfbench/out/``.
  ``batch_sql`` and ``ivm_steps`` also rerun one pass on a one-core
  session, which shows the driver-bound layers.

The exit code is 0 only when every operation and every oracle check
passed. See ``metrics.py`` for what each metric means.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sql_to_dbsp_compiler_spark"
DRIVER_MEM = "2g"


def _workloads():
    from workloads import BATCH_LLM, BATCH_SQL, Batch, DeltaStateLoop, IvmSteps

    return {
        "batch_sql": (lambda b: Batch(b, BATCH_SQL, sf=0.01), {"sf": 0.01}),
        "batch_llm": (lambda b: Batch(b, BATCH_LLM, sf=0.01), {"sf": 0.01}),
        "ivm_steps": (
            lambda b: IvmSteps(b, sf=0.01, k=3, small=250, large=2500, checkpoint_every=2),
            {"sf": 0.01, "k": 3, "checkpoint_every": 2},
        ),
        "delta_state_loop": (
            lambda b: DeltaStateLoop(b, sf=0.01, k=1, docs_per_round=50, vecs_per_round=100),
            {"sf": 0.01, "k": 1},
        ),
    }


ONE_CORE_BASELINE = ("batch_sql", "ivm_steps")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str, cores: int) -> None:
    """Confine Spark and Python scratch space to the run's work dir;
    must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # a fixed-size heap keeps peak RSS from following GC heap resizing
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}" pyspark-shell'
        ),
    )


def _source_digest() -> dict:
    """Identify the code under test: the git commit when the checkout is
    a repository, and a digest of the package sources either way."""
    h = hashlib.sha1()
    for root, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    commit = None
    try:
        res = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        if res.returncode == 0:
            commit = res.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return {"git_commit": commit, "source_sha1": h.hexdigest()}


def _process_tree(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and all its
    descendants: the Python driver, the JVM and Python workers."""
    total_kb = 0
    for pid in _process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _shutdown() -> None:
    """Stop the Spark session, then the JVM, and wait for every
    descendant process to end."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    descendants = [p for p in _process_tree(os.getpid()) if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in descendants if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in descendants:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _start_session(bench_phases: dict | None):
    from sql_to_dbsp_compiler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    if bench_phases is not None:
        bench_phases.setdefault("session", []).append(time.perf_counter() - t0)
    return spark


def _measure(workload, seconds: float, traced, untraced) -> list[dict]:
    """Timed passes until ``seconds`` have passed. With a tracer, one
    untraced pass warms the code paths up and is dropped, then traced
    and untraced passes alternate until at least one of each ran."""
    if traced is not None:
        workload.prepare(untraced)
        workload.run_pass(untraced)
    passes = []
    t_start = time.perf_counter()
    while True:
        tracer = untraced
        if traced is not None and len(passes) % 2 == 0:
            tracer = traced
        workload.prepare(tracer)
        first_span = len(tracer.spans) if tracer.enabled else 0
        t0 = time.perf_counter()
        ops = workload.run_pass(tracer)
        wall = time.perf_counter() - t0
        passes.append({
            "traced": tracer.enabled, "wall": wall, "ops": ops,
            "spans": (first_span, len(tracer.spans)) if tracer.enabled else None,
        })
        done = time.perf_counter() - t_start >= seconds
        if traced is not None and len(passes) < 2:
            done = False
        if done:
            return passes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    registry = _workloads()
    if args.workload not in registry:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(registry)}", file=sys.stderr)
        return 2

    import metrics
    from spans import NullTracer, Tracer
    from workloads import Bench

    cores = _nproc()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work, cores)
    make, params = registry[args.workload]
    try:
        bench = Bench(spark=None, work=work, seed=args.seed)
        spark = bench.spark = _start_session(bench.setup_phases)
        workload = make(bench)
        workload.setup()
        traced = Tracer(spark) if args.trace else None
        passes = _measure(workload, args.seconds, traced, NullTracer())
        gate = workload.gate()
        rss = peak_rss_mb()
        baseline = None
        if args.trace and args.workload in ONE_CORE_BASELINE:
            spark.stop()
            baseline = _one_core_baseline(make, work, args.seed)
        report = metrics.report(
            args.workload, passes, gate, bench.setup_phases, workload, traced, rss,
            cores, baseline,
        )
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)

    import duckdb
    import pyspark

    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "driver_memory": DRIVER_MEM,
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "python": platform.python_version(), **params, **_source_digest(),
    }
    detail = {"meta": meta, **report["detail"]}
    if traced is not None:
        detail["spans"] = traced.to_json()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for line in report["lines"]:
        print(line)
    print(f"meta: {json.dumps(meta)}")
    print(f"detail: .perfbench/out/{name}")
    print(json.dumps(report["result"]))
    return 0 if report["result"]["correct"] else 1


def _one_core_baseline(make, work: str, seed: int) -> dict:
    """One untraced pass of the workload on a fresh ``local[1]`` session
    in the same JVM."""
    from spans import NullTracer
    from workloads import Bench

    os.environ["SPARK_GRAFT_CPUS"] = "1"
    bench = Bench(spark=None, work=os.path.join(work, "one-core"), seed=seed)
    bench.spark = _start_session(bench.setup_phases)
    workload = make(bench)
    workload.setup()
    tracer = NullTracer()
    workload.prepare(tracer)
    t0 = time.perf_counter()
    ops = workload.run_pass(tracer)
    return {"run_s": time.perf_counter() - t0, "ops": [(o.name, o.seconds) for o in ops]}


if __name__ == "__main__":
    sys.exit(main())
