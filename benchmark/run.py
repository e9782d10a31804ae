"""Benchmark entry point.

    python3 benchmark/run.py --workload cdc_sync --seed 1 --seconds 16 --trace 0

Run from the repository root.  One run starts a ``local[N]`` Spark session
(N = min(4, nproc)), generates the workload's inputs from ``--seed`` in a
fresh work directory under ``.bench_work/``, seeds the state, warms every
op kind untimed, then runs ops in a closed loop with one client until
``--seconds`` of op time have been measured.  Every op is checked against
the benchmark's own replay of the generated events, outside the timed
intervals, and the whole state is compared once at the end.

With ``--trace 0`` the last stdout line carries the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` it carries the per-layer metrics,
measured on alternating traced blocks of ops, and the spans are written
to ``.bench_out/``.  Lines before it give the environment stamp, the tail
latencies and the fail ratio.
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

import envinfo
import spans
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cdc_local_data_pipeline_docker_spark"
CPUS = min(4, os.cpu_count() or 1)


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark and Python write inside the work directory,
    and size the session to this machine through the package's own
    deployment settings."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # HotSpot writes its hsperfdata file under /tmp whatever java.io.tmpdir
    # says; turn it off in spark-submit's launcher JVM and in Spark's JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_NO_MASTER", None)


def _start_spark(work: str):
    from cdc_local_data_pipeline_docker_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="spark-graft-benchmark",
        extra_conf={
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.hadoop.hadoop.tmp.dir": os.path.join(tmp, "hadoop"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()


def _run_op(wl, k: int) -> dict:
    t0 = time.perf_counter()
    try:
        rec = wl.op(k)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        rec = {"ok": False, "sync_s": time.perf_counter() - t0, "read_s": 0.0, "events": 0}
    rec["k"] = k
    return rec


def _ops_per_s(ops: list[dict]) -> float:
    return len(ops) / sum(r["sync_s"] + r["read_s"] for r in ops) if ops else 0.0


def _end_to_end(timed: list[dict], setup_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "ops_per_s": _ops_per_s(timed),
        "events_per_s": sum(r["events"] for r in timed) / sum(r["sync_s"] for r in timed),
        "sync_p50_s": statistics.median([r["sync_s"] for r in timed]),
        "read_p50_s": statistics.median([r["read_s"] for r in timed]),
    }


def _tails(timed: list[dict]) -> dict:
    out = {}
    for phase in ("sync", "read"):
        t = stats.tail([r[f"{phase}_s"] for r in timed])
        out[f"{phase}_tail_s"] = (
            {"value": t["value"], "unit": "s", "percentile": t["pct"], "samples": t["n"]}
            if t else {"value": None, "unit": "s", "percentile": None,
                       "samples": len(timed),
                       "note": "no percentile has 10 samples beyond it"}
        )
    return out


def run(args, work: str) -> int:
    t_start = time.perf_counter()
    _environment(work)
    sys.path.insert(0, ROOT)
    spark = _start_spark(work)
    try:
        parts = {"session_s": time.perf_counter() - t_start}
        counters = spans.SparkCounters(spark)
        tracer = spans.Tracer(counters, enabled=False)
        wl = workloads.WORKLOADS[args.workload](
            spark, os.path.join(work, "state"), args.seed, tracer, counters
        )
        t0 = time.perf_counter()
        wl.setup()
        parts["seed_s"] = time.perf_counter() - t0
        if args.trace:
            wl.instrument()
        t0 = time.perf_counter()
        warm = [_run_op(wl, k) for k in range(wl.warmup_ops)]
        parts["warmup_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_start
        calibration = [envinfo.calibration_s(spark)]

        timed: list[dict] = []
        measured = 0.0
        k = wl.warmup_ops
        deadline = time.perf_counter() + 3 * args.seconds
        # a traced run needs at least one traced and one untraced block
        min_ops = 2 * wl.block if args.trace else 1
        while (measured < args.seconds or k - wl.warmup_ops < min_ops) and (
            time.perf_counter() < deadline
        ):
            tracer.enabled = bool(args.trace) and ((k - wl.warmup_ops) // wl.block) % 2 == 0
            tracer.op_id = k
            with tracer.span("op"):
                rec = _run_op(wl, k)
            rec["traced"] = tracer.enabled
            timed.append(rec)
            measured += rec["sync_s"] + rec["read_s"]
            k += 1
        tracer.enabled = False
        rss_mb = envinfo.peak_rss_mb(spark)
        calibration.append(envinfo.calibration_s(spark))
        t0 = time.perf_counter()
        state_ok = wl.final_check()
        parts["final_check_s"] = time.perf_counter() - t0

        ops = warm + timed
        failed = sum(1 for r in ops if not r["ok"]) + (0 if state_ok else 1)
        info = {
            "workload": args.workload,
            "env": envinfo.stamp(spark, args.seed),
            "env.calibration_s": calibration,
            "phases_s": parts,
            "warmup_ops": len(warm),
            "timed_ops": len(timed),
            "fail_ratio": {"value": failed / len(ops), "unit": "ratio"},
            "final_state_equal": state_ok,
        }
        if args.trace:
            units = _units("per_layer")
            metrics = {
                **{name: 0.0 for name in units},
                **wl.read_layers(),
                **wl.layers(),
                "env.calibration_s": calibration[0],
                "env.calibration_end_s": calibration[1],
                "trace.traced_ops_per_s": _ops_per_s([r for r in timed if r["traced"]]),
                "trace.untraced_ops_per_s": _ops_per_s([r for r in timed if not r["traced"]]),
            }
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            span_file = os.path.join(
                ROOT, ".bench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"
            )
            tracer.dump(span_file)
            info["spans"] = os.path.relpath(span_file, ROOT)
            info["self_time_s"] = tracer.self_times()
        else:
            metrics = _end_to_end(timed, setup_s, rss_mb)
            units = _units("end_to_end")
            info.update(_tails(timed))
        if metrics.keys() != units.keys():
            raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json")
        print(json.dumps(info, default=str))
        print("ops", [(r["k"], round(r["sync_s"], 3), round(r["read_s"], 3))
                      for r in ops], file=sys.stderr)
        for name, value in metrics.items():
            print(f"{args.workload:12s} {name:45s} {value:14.6f} {units[name]}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
        }))
        return 0
    finally:
        _stop_spark(spark)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"package {PACKAGE!r} not found under {ROOT}; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
