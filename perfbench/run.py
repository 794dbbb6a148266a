"""Benchmark of worlddatapipeline_spark: one closed-loop, single-client
workload per run, on ``local[nproc]``.

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  A run makes its inputs from the seed in a
child process, then in this process imports the program, starts Spark and
makes one cold pass over the workload's ops (``setup_s``), then runs whole
warm passes until ``--seconds`` have passed and the workload's minimum
sample count is reached.  Outputs are checked against reference results
outside the timing.  The last line of stdout is the result JSON: end-to-end
metrics with ``--trace 0``; with ``--trace 1`` an untraced loop, then a
traced loop whose spans give the per-layer metrics.  The line before it is
a report with every figure, the environment and the tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Smallest number of warm ops a run collects, per workload.  The tail
# latency is the highest whole percentile that leaves at least ten of them
# beyond it.
MIN_OPS = {"relational_mix": 30, "llm_python_mix": 24, "catalog_jobs": 22}
WORKLOADS = list(MIN_OPS)


def unit(metric: str) -> str:
    """Unit of a reported metric, from its name."""
    for suffix, u in (("ops_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                      ("_share", "ratio"), ("space_amp", "ratio")):
        if metric.endswith(suffix):
            return u
    return "B" if "bytes" in metric else "count"


def tail_percentile(workload: str) -> int:
    n = MIN_OPS[workload]
    return (100 * (n - 10)) // n


def percentile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-th percentile: a mean of all order
    statistics weighted by a beta density centred on rank p(n+1)/100.  Op
    latencies cluster at one level per query or job step, and a single
    order statistic jumps between levels from run to run; the weighted mean
    moves smoothly.  A failed op (infinite latency) makes it infinite."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if not np.isfinite(x).all():
        return math.inf
    if n == 1:
        return float(x[0])
    a, b = p / 100 * (n + 1), (1 - p / 100) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, np.linspace(0, 1, len(cdf)), cdf))
    return float(weights @ x)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def pin_environment(run_dir: str, nproc: int) -> None:
    """Environment the program and its Python workers inherit.  Unset,
    SPARK_GRAFT_CPUS makes get_spark build local[32]; without the root on
    PYTHONPATH, workers started outside the root cannot import the program."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    os.environ.pop("OMP_NUM_THREADS", None)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def run_pass(wl, ops, tracer, lat: list, log: list) -> int:
    """Run one pass of ops; append each op's latency (inf when it failed).
    Returns the number of failed ops."""
    failed = 0
    for name, op in ops:
        if tracer is not None:
            tracer.op_id += 1
        t = time.perf_counter()
        try:
            if tracer is None:
                op(None)
            else:
                with tracer.span("op"):
                    op(tracer)
            lat.append(time.perf_counter() - t)
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            lat.append(math.inf)
            failed += 1
        log.append(name)
        wl.after_op(name, tracer)
    return failed


def warm_loop(wl, rng, seconds: float, min_ops: int, tracer) -> dict:
    lat: list[float] = []
    log: list[str] = []
    failed = 0
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or len(lat) < min_ops:
        failed += run_pass(wl, wl.pass_ops(rng), tracer, lat, log)
    elapsed = time.perf_counter() - start
    return {"lat": lat, "failed": failed, "elapsed": elapsed, "ops": log}


def loop_metrics(loop: dict, workload: str) -> dict[str, float]:
    lat = loop["lat"]
    return {
        "ops_per_s": len(lat) / loop["elapsed"],
        "latency_p50_s": percentile(lat, 50),
        "latency_tail_s": percentile(lat, tail_percentile(workload)),
    }


def layer_metrics(tracer, loop: dict, setup_span: dict, get_spark_ms: float,
                  nproc: int) -> dict[str, float]:
    """Per-layer figures of the traced loop, each divided by its op count,
    plus the set-up layers from the cold pass."""
    tracer.resolve()
    spans = [s for s in tracer.spans if s is not setup_span]
    n = len(loop["lat"])
    self_ms = tracer.self_ms()
    sql: dict[str, float] = {}
    build = {"jobs": 0.0, "exec_ms": 0.0}
    merge_sql: dict[str, float] = {}
    stream = {"batches": 0, "batch_ms": 0, "input_rows": 0}
    listing_rows = 0.0
    for s in spans:
        for k, v in s["sql"].items():
            sql[k] = sql.get(k, 0.0) + v
        if s["name"] == "queries.build":
            build["jobs"] += s["sql"].get("jobs", 0)
            build["exec_ms"] += s["sql"].get("exec_ms", 0)
        if s["name"] == "catalog.merge":
            for k, v in s["sql"].items():
                merge_sql[k] = merge_sql.get(k, 0.0) + v
        if s["name"] == "sources.listing_parse":
            listing_rows += s["sql"].get("spark.scan_rows", 0)
        for k, v in s.get("stream", {}).items():
            stream[k] += v
    op_ms = sum(loop["lat"]) * 1e3
    out = {
        "session.get_spark_ms": get_spark_ms,
        "session.load_tables_ms": self_ms.get("session.load_tables", 0.0) / n,
        "queries.build_ms": self_ms.get("queries.build", 0.0) / n,
        "queries.build_jobs": build["jobs"] / n,
        "queries.build_exec_ms": build["exec_ms"] / n,
        "spark.plan_ms": self_ms.get("spark.plan", 0.0) / n,
        "spark.exec_ms": self_ms.get("spark.exec", 0.0) / n,
        "spark.jobs": sql.get("jobs", 0.0) / n,
        "spark.tasks": sql.get("tasks", 0.0) / n,
    }
    for k in ("spark.scan_rows", "spark.scan_bytes", "spark.shuffle_write_bytes",
              "spark.shuffle_records", "spark.shuffle_fetch_wait_ms", "spark.spill_bytes",
              "operators.python_run_ms", "operators.python_bytes_in",
              "operators.python_bytes_out"):
        out[k] = sql.get(k, 0.0) / n
    for k in ("operators.python_start_ms", "operators.python_init_ms"):
        out[k] = setup_span["sql"].get(k, 0.0)
    out["sources.listing_parse_ms"] = self_ms.get("sources.listing_parse", 0.0) / n
    out["sources.listing_rows"] = listing_rows / n
    for k in ("scan", "bake_plan", "sequence", "render_plan", "reconcile"):
        out[f"plans.{k}_ms"] = self_ms.get(f"plans.{k}", 0.0) / n
    out["catalog.merge_ms"] = self_ms.get("catalog.merge", 0.0) / n
    out["catalog.read_ms"] = self_ms.get("catalog.read", 0.0) / n
    out["catalog.bytes_written"] = merge_sql.get("write.bytes", 0.0) / n
    out["catalog.files_written"] = merge_sql.get("write.files", 0.0) / n
    out["streaming.batches"] = stream["batches"] / n
    out["streaming.batch_ms"] = stream["batch_ms"] / n
    out["streaming.input_rows"] = stream["input_rows"] / n
    out["queries.build_share"] = self_ms.get("queries.build", 0.0) / op_ms
    out["operators.python_share"] = sql.get("operators.python_run_ms", 0.0) / (op_ms * nproc)
    return out


def stop_spark(spark) -> None:
    """Stop Spark and the JVM it runs in, then wait until every process the
    run started (the JVM, the Python worker daemon and its workers) has
    ended, killing any that outlive a grace period."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
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
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in alive) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def measure(args, run_dir: str, nproc: int) -> tuple[dict, dict]:
    """Set up, run the warm loop(s) and check outputs.  Returns the result
    (what the last stdout line carries) and the report."""
    import numpy as np

    t0 = time.perf_counter()
    from worlddatapipeline_spark.session import get_spark

    import workloads
    from spans import Tracer

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")})
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_ms = (time.perf_counter() - t0) * 1e3
    try:
        wl = workloads.make(args.workload, spark, run_dir)
        rng = np.random.default_rng(args.seed)
        tracer = Tracer(spark, args.workload) if args.trace else None
        cold_lat: list[float] = []
        cold_log: list[str] = []
        with tracer.span("setup") if tracer else contextlib.nullcontext() as setup_span:
            failed = run_pass(wl, wl.cold_ops(rng), None, cold_lat, cold_log)
        e2e = {"setup_s": time.perf_counter() - t0}

        min_ops = MIN_OPS[args.workload]
        loop = warm_loop(wl, rng, args.seconds, min_ops, None)
        e2e.update(loop_metrics(loop, args.workload))
        failed += loop["failed"]
        attempted = len(cold_lat) + len(loop["lat"])
        by_op: dict[str, list[float]] = {}
        for name, t in zip(loop["ops"], loop["lat"]):
            by_op.setdefault(name, []).append(t)
        report = {
            "loop_samples": len(loop["lat"]), "loop_s": loop["elapsed"],
            "cold_op_s": dict(zip(cold_log, cold_lat)),
            "op_p50_s": {k: percentile(v, 50) for k, v in by_op.items()},
            "tail_percentile": tail_percentile(args.workload), "min_samples": min_ops,
        }

        layers = None
        if tracer is not None:
            traced = warm_loop(wl, rng, args.seconds, min_ops, tracer)
            failed += traced["failed"]
            attempted += len(traced["lat"])
            layers = layer_metrics(tracer, traced, setup_span, get_spark_ms, nproc)
            layers.update({f"trace.overhead_{k}": v - e2e[k]
                           for k, v in loop_metrics(traced, args.workload).items()})
            # each layer's self time as a share of traced op latency; "op" is
            # the benchmark's own glue between the layer calls
            op_ms = sum(traced["lat"]) * 1e3
            report["traced_loop_samples"] = len(traced["lat"])
            report["layer_share"] = {k: v / op_ms for k, v in tracer.self_ms().items()
                                     if k not in ("setup", "session.load_tables")}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            with open(os.path.join(ROOT, ".perfbench_out",
                                   f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump(tracer.spans, fh)

        wrong, checked = wl.check()
        report.update({"fail_ratio": failed / attempted, "wrong_results": wrong,
                       "checked": checked})
        on_disk, live = wl.disk_bytes()
        if live:
            report["catalog_space_amp"] = on_disk / live
        if layers is not None:
            layers["catalog.bytes_on_disk"] = float(on_disk)
            layers["catalog.space_amp"] = on_disk / live if live else 0.0

        from pyspark import SparkContext

        e2e["peak_rss_mb"] = peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
        report["end_to_end"] = e2e
        return {"correct": wrong == 0 and failed == 0, "attempted": attempted,
                "failed": failed, "metrics": layers if tracer else e2e}, report
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("worlddatapipeline_spark/session.py", "tools/datagen.py",
                           "tools/check_oracle.py") if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        os.makedirs(run_dir)
        pin_environment(run_dir, nproc)
        subprocess.run([sys.executable, os.path.join(HERE, "prepare.py"), args.workload,
                        str(args.seed), run_dir], check=True, stdout=subprocess.DEVNULL,
                       timeout=170)
        result, report = measure(args, run_dir, nproc)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    import pyspark

    report.update({"workload": args.workload, "seed": args.seed, "nproc": nproc,
                   "spark": pyspark.__version__, "python": sys.version.split()[0]})
    # a failed op's infinite latency is printed as 1e9 s, which JSON can carry
    result["metrics"] = {k: {"value": min(v, 1e9), "unit": unit(k)}
                         for k, v in result["metrics"].items()}
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
