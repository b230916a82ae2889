"""Whole-pipeline benchmark of the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload eo_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --runs 3

One run generates its inputs from ``--seed``, starts the engine's session,
imports the query registry and makes one untimed warm-up pass (together:
``setup_s``), then repeats checked passes of the workload until
``--seconds`` have passed.  The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  ``--workload all`` runs every workload ``--runs`` times
untraced and once traced, in child processes, and prints a table of every
metric.  ``--scale`` multiplies the input row counts (default 1).

See perfbench/README.md for the workloads, the metrics and the settings.
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
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import trace, workloads  # noqa: E402
from perfbench.gen import generate  # noqa: E402

WORK = ROOT / ".perfbench_work"
DRIVER_MEM = "1g"
LAYERS = ["operators", "kernels", "textvec", "multimodal", "sources"]
# a run keeps starting passes until --seconds have passed and it has made
# at least this many, so that run_s is a median of three or more
MIN_PASSES = 3

END_TO_END = {"setup_s": "s", "run_s": "s", "peak_rss_mb": "MB"}
# reported by --workload all and in each run's result file; not in the JSON
# line, whose end-to-end metrics must be non-zero on every workload
EXTRA = {
    "failed_ops": "ratio", "commit_p50_s": "s", "lookup_p50_s": "s",
    "stored_bytes_per_input_byte": "ratio",
}


def settings(work: Path, cores: int) -> dict[str, str]:
    """Process environment every run pins before the JVM starts."""
    return {
        # Python workers of Arrow/pandas UDFs import the package
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
    }


def spark_conf(work: Path, traced: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                # zstd logs need the zstandard module to parse
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _listing(tmp: Path) -> set[str]:
    return set(os.listdir(tmp)) if tmp.is_dir() else set()


def _clean(tmp: Path, keep: set[str]) -> None:
    """Delete the scratch entries the engine created after ``keep`` was
    listed (fresh tables, stream checkpoints, derived artifacts)."""
    for name in _listing(tmp) - keep:
        path = tmp / name
        if path.is_dir() and not path.is_symlink():
            shutil.rmtree(path, ignore_errors=True)
        else:
            path.unlink(missing_ok=True)


def _stop(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait until it and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    started = [p for p in trace.descendants() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
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
    deadline = time.monotonic() + 60
    while any(trace.alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def _median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_kb"):
        return "KB"
    if name.endswith(("_frac", "_ratio", "failed_ops", "_per_input_byte")):
        return "ratio"
    return "count"


def run_one(name: str, seed: int, seconds: float, traced: bool, factor: float) -> dict:
    if not (ROOT / "odc_product_docker_images_spark").is_dir() or not (
        ROOT / "tools" / "check_parity.py"
    ).is_file():
        raise SystemExit("engine package or tools/check_parity.py not found beside perfbench/")
    cores = len(os.sched_getaffinity(0))
    work = WORK / f"{name}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return _measure(name, seed, seconds, traced, factor, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(
    name: str, seed: int, seconds: float, traced: bool, factor: float, work: Path, cores: int
) -> dict:
    os.environ.update(settings(work, cores))
    sys.path.insert(0, str(ROOT / "tools"))
    wl = workloads.make(name, factor)
    t = time.perf_counter()
    inputs = generate(work / "inputs", seed, wl.scale)
    gen_s = time.perf_counter() - t
    tmp = ROOT / ".tmp"
    before = _listing(tmp)
    tracer = trace.Tracer(uuid.uuid4().hex[:8], enabled=False)
    passes, pass_steps = [], []
    spark = None
    try:
        t = time.perf_counter()
        from odc_product_docker_images_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf=spark_conf(work, traced))
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        from odc_product_docker_images_spark import registry

        queries, oracles = registry.queries(), registry.oracle_sql()
        registry_s = time.perf_counter() - t
        ctx = workloads.Ctx(
            spark, seed, str(work / "inputs"), work, tracer, queries, oracles,
            digest_file=WORK / "digests" / f"{name}-{seed}-x{factor:g}.json",
        )
        t = time.perf_counter()
        wl.prepare(ctx)
        oracle_s = time.perf_counter() - t
        warm = wl.run_pass(ctx)
        setup_s = session_s + registry_s + warm.seconds
        attempted, failed = len(warm.steps), warm.failed
        after_warm = _listing(tmp)
        wl.reset_counters()
        ctx.sample_rss = True
        tracer.enabled = traced
        t_start, cpu_start = time.perf_counter(), trace.cpu_jiffies()
        while len(passes) < MIN_PASSES or time.perf_counter() - t_start < seconds:
            _clean(tmp, after_warm)  # outside the timed pass
            try:
                res = wl.run_pass(ctx)
            except Exception as e:  # noqa: BLE001 - a pass that cannot finish ends the run as failed
                traceback.print_exc(file=sys.stderr)
                ctx.fail("pass", f"{type(e).__name__}: {e}")
                attempted, failed = attempted + 1, failed + 1
                break
            passes.append(res.seconds)
            pass_steps.append(res.steps)
            attempted += len(res.steps)
            failed += res.failed
            print(f"# pass {len(passes)}: {res.seconds:.3f}s", file=sys.stderr)
        cpu_end = trace.cpu_jiffies()
        wl.finish(ctx)
    finally:
        if spark is not None:
            _stop(spark)
        _clean(tmp, before)

    e2e = {"setup_s": setup_s, "run_s": _median(passes), "peak_rss_mb": ctx.peak_rss_mb}
    wl_metrics = wl.metrics(len(passes))
    extra = {"failed_ops": failed / max(attempted, 1)}
    extra.update({k: wl_metrics[k] for k in EXTRA if k in wl_metrics})
    detail = {
        "workload": name, "seed": seed, "scale": factor, "traced": traced, "inputs": inputs,
        "gen_s": gen_s, "oracle_s": oracle_s, "session_s": session_s,
        "registry_s": registry_s, "warmup_s": warm.seconds,
        "warmup_steps": warm.steps, "pass_s": passes, "pass_steps": pass_steps,
        "failures": ctx.failures, "end_to_end": {**e2e, **extra},
        "steal_frac": (cpu_end[0] - cpu_start[0]) / max(cpu_end[1] - cpu_start[1], 1),
    }
    metrics = e2e
    if traced:
        stages, exec_starts = trace.read_event_log(work / "eventlog")
        metrics = {"session.start_s": session_s, "registry.import_s": registry_s}
        metrics.update(trace.layer_metrics(tracer, stages, exec_starts, LAYERS, cores, len(passes)))
        metrics.update({k: wl_metrics.get(k, 0.0) for k in workloads.INGEST_METRICS})
        metrics.update({k: extra.get(k, 0.0) for k in EXTRA})
        # run_s with spans and the event log on; less the untraced runs'
        # run_s median, it is the tracing overhead
        metrics["trace.run_s"] = e2e["run_s"]
        metrics["trace.spans"] = float(len(tracer.spans))
        (WORK / "traces").mkdir(parents=True, exist_ok=True)
        tracer.write(WORK / "traces" / f"{name}-{seed}.spans.jsonl")
        detail["per_layer"] = metrics
    out = WORK / "results" / f"{name}-{seed}-x{factor:g}-trace{int(traced)}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(detail, indent=1))
    units = END_TO_END if not traced else {k: _unit(k) for k in metrics}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def summary(runs: int, seconds: float, factor: float) -> int:
    """Run every workload ``runs`` times untraced and once traced; print
    each end-to-end metric's median, quartiles and sample count, and the
    tracing overhead (the traced run's ``run_s`` minus the untraced median)."""
    print(f"{'workload':<14} {'metric':<28} {'unit':<6} {'median':>10} {'q1':>10} {'q3':>10} {'n':>3}")
    for name in workloads.WORKLOADS:
        plain, traced = [], None
        for i in range(runs + 1):
            tr = int(i == runs)
            cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
                   "--seed", str(i + 1), "--seconds", str(seconds), "--trace", str(tr),
                   "--scale", str(factor)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=False)
            if proc.returncode != 0:
                print(f"{name} seed {i + 1}: exit code {proc.returncode}", file=sys.stderr)
                return 1
            detail = json.loads(
                (WORK / "results" / f"{name}-{i + 1}-x{factor:g}-trace{tr}.json").read_text()
            )
            if tr:
                traced = detail
            else:
                plain.append(detail)
        rows = [(m, [d["end_to_end"][m] for d in plain]) for m in plain[0]["end_to_end"]]
        rows.append((
            "trace_overhead_s",
            [traced["end_to_end"]["run_s"] - _median([d["end_to_end"]["run_s"] for d in plain])],
        ))
        for metric, vals in rows:
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
            unit = END_TO_END.get(metric) or EXTRA.get(metric) or "s"
            print(f"{name:<14} {metric:<28} {unit:<6} {_median(vals):>10.4f} {q[0]:>10.4f} {q[2]:>10.4f} {len(vals):>3}")
        print(f"# {name}: per-layer metrics of the traced run in "
              f".perfbench_work/results/{name}-{runs + 1}-x{factor:g}-trace1.json", file=sys.stderr)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--workload", required=True, choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--runs", type=int, default=3, help="untraced runs per workload (--workload all)")
    ap.add_argument("--scale", type=float, default=1.0, help="multiplier of the input row counts")
    args = ap.parse_args()
    if args.workload == "all":
        return summary(args.runs, args.seconds, args.scale)
    print(json.dumps(run_one(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
