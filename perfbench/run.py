#!/usr/bin/env python3
"""sensorpipe benchmark: one seeded workload on local[nproc] from a
single process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The run readies the workload's inputs
(generated from the seed, or committed; untimed), starts the Spark
session and runs the workload's discarded warm iterations (together
the set-up time), then runs
closed-loop iterations with one client for ``--seconds`` (longer if the
workload's minimum op count is not reached yet), checks the outputs
against an independent computation, and prints as its last stdout line

    {"correct": ..., "attempted": ops, "failed": ops, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the Spark UI is on, half the iterations run with spans
around the package's layers, and the metrics are per layer (the full
breakdown, spans included, goes to ``perfbench/_work/results``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PKG = "multi_sensor_data_pipeline_for_robotics__spark"
MAX_MEASURE_S = 60.0  # hard stop, so a much slower program still ends within 180 s
# figures the run prints as comments but BENCHMARK.json does not list
UNLISTED_UNITS = {"wall_s": "s", "op_s.p50": "s", "peak_rss_mb": "MB"}


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _session_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


def _log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    import gen
    import stats
    import spans as tracing
    from workloads import WORKLOADS, Ops

    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        # Spark's local dirs and every temp file stay inside the checkout
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # every JVM Spark launches: temp files here, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    # the package's default driver heap, whatever the caller's shell sets
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    tempfile.tempdir = tmp

    wl = WORKLOADS[args.workload](WORK, args.seed)
    shutil.rmtree(wl.outdir, ignore_errors=True)
    t0 = time.perf_counter()
    fingerprint = gen.fingerprint(wl.prepare())
    gen_s = time.perf_counter() - t0

    from multi_sensor_data_pipeline_for_robotics__spark import get_session

    conf = _session_conf(bool(args.trace))
    null = tracing.NullTracer()
    spark = get_session(app_name=f"perfbench-{wl.name}", extra_conf=conf)
    t0 = time.perf_counter()
    for _ in range(wl.warm_iterations):  # discarded
        wl.reset(spark)
        wl.iterate(spark, Ops(null))
    warm_s = time.perf_counter() - t0
    setup_s = stats.process_age_s() - gen_s  # input generation excluded

    _log("measuring")
    tracer = tracing.Tracer(spark) if args.trace else null
    ops = Ops(null)
    plain, traced, persisted, cpus = [], [], [], []
    t_start = time.perf_counter()
    ticks = stats.cpu_ticks()
    k = 0

    def more() -> bool:
        elapsed = time.perf_counter() - t_start
        if elapsed > MAX_MEASURE_S:
            return False
        enough = len(ops.samples) >= wl.min_ops and (
            not args.trace or min(len(plain), len(traced)) >= 2)
        return elapsed < args.seconds or not enough

    while more():
        # plain, traced, traced, plain, ...: a warm-up trend cancels out
        # of the traced-minus-plain overhead
        on = bool(args.trace) and k % 4 in (1, 2)
        wl.reset(spark)
        ops.tracer = tracer if on else null
        c0, t0 = stats.tree_cpu_s(), time.perf_counter()
        with tracer.iteration() if on else contextlib.nullcontext():
            wl.iterate(spark, ops)
        (traced if on else plain).append(time.perf_counter() - t0)
        if not on:
            cpus.append(stats.tree_cpu_s() - c0)
        persisted.append(spark.sparkContext._jsc.getPersistentRDDs().size())
        k += 1
    measured_s = time.perf_counter() - t_start
    steal = stats.steal_share(ticks, stats.cpu_ticks())
    ops.tracer = null
    t_check = time.perf_counter()
    _log("checking outputs")

    try:
        expected, wrong = wl.check(spark, ops)
    except Exception as e:  # noqa: BLE001 — a check that cannot run fails the run
        expected, wrong = {}, {"*": f"check raised {type(e).__name__}: {e}"[:500]}
    check_s = time.perf_counter() - t_check
    attempted = len(ops.samples)
    failed_by_op = {"*": attempted} if "*" in wrong else ops.count_failed(expected, wrong)
    failed = sum(failed_by_op.values())

    latencies = [s for _, s in ops.samples]
    p_tail = stats.tail_percentile(len(latencies))
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    e2e = {
        "setup_s": setup_s,
        # CPU seconds of the whole process tree per timed iteration. A
        # mean, not a median: JIT compilation shifts CPU between
        # consecutive iterations, and their total is what stays put
        "cpu_s": sum(cpus) / len(cpus),
        # recorded, not listed in BENCHMARK.json: on a shared host the
        # hypervisor's CPU steal moves wall-clock times 25-35% between runs
        "wall_s": stats.median(plain),
        "op_s.p50": stats.median(latencies),
        # recorded, not listed: at the package's default heap G1's heap
        # growth moves it 20-30% between runs
        "peak_rss_mb": stats.vm_hwm_mb() + stats.vm_hwm_mb(jvm_pid),
    }
    # recorded with its percentile, not a listed metric: a run that fits
    # the time budget has too few ops to leave ten beyond a percentile
    tail = {"p": p_tail, "op_s": stats.percentile(latencies, p_tail) if p_tail else None}
    layers = {}
    if args.trace:
        _log("reducing the trace")
        layers = tracing.reduce_trace(tracer, nproc)
        layers["session.start_s"] = setup_s - warm_s
        layers["session.warmup_s"] = warm_s
        layers["trace.overhead_s"] = stats.median(traced) - stats.median(plain)
        layers["cache.persisted_rdds"] = stats.median(persisted)
        layers.update(wl.layer_counts)
    env = {**stats.environment(spark, nproc), "cpu_steal_share": steal}
    report = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "inputs": wl.info, "data_fingerprint": fingerprint,
        "input_gen_s": gen_s, "warm_s": warm_s, "environment": env,
        "iterations": len(plain) + len(traced), "walls_s": plain, "cpus_s": cpus, "traced_walls_s": traced,
        "measured_s": measured_s, "check_s": check_s, "ops": attempted, "failed": failed,
        "fail_ratio": failed / max(attempted, 1),
        "tail": tail, "e2e": e2e, "layers": layers,
        "wrong": wrong, "failed_by_op": failed_by_op, "errors": ops.errors[:20],
        "mismatch_sample": {k: [repr(o)[:200] for o in ops.outputs.get(k, [])[:2]]
                            + [repr(expected.get(k))[:200]] for k in failed_by_op},
    }
    _log("stopping Spark")
    spark.stop()
    _stop_jvm()
    _log("stopped")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = os.path.join(WORK, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    if args.trace:
        with open(stem + "-spans.jsonl", "w") as f:
            for s in tracer.spans:
                f.write(json.dumps({"layer": s.layer, "name": s.name, "kind": s.kind,
                                    "thread": s.thread, "start": s.start, "end": s.end,
                                    "parent": s.parent.name if s.parent else None}) + "\n")
    return report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, PKG, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: the program ({PKG}/, __spark_entry__.py) is not next to "
              f"the benchmark in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    import stats

    e2e_units, layer_units = _metric_units()
    rep = run(args)
    units = layer_units if args.trace else e2e_units
    values = rep["layers"] if args.trace else rep["e2e"]
    print(f"# {rep['workload']} seed={rep['seed']} trace={rep['trace']} "
          f"ops={rep['ops']} failed={rep['failed']} fail_ratio={rep['fail_ratio']:.4f} "
          f"iterations={rep['iterations']}")
    tail = rep["tail"]
    print(f"# op_s.tail = {tail['op_s']:.6g} s at p{tail['p']}" if tail["p"] else
          f"# op_s.tail: {rep['ops']} ops leave fewer than {stats.BEYOND} beyond any percentile")
    print("# environment " + json.dumps(rep["environment"], default=str))
    print(f"# data_fingerprint {rep['data_fingerprint']}")
    units_all = {**UNLISTED_UNITS, **e2e_units, **layer_units}
    for k, v in sorted({**rep["e2e"], **rep["layers"]}.items()):
        print(f"# {k} = {v:.6g} {units_all.get(k, '')}")
    if rep["failed"] or rep["wrong"]:
        print("# problems " + json.dumps({k: rep[k] for k in (
            "wrong", "failed_by_op", "errors", "mismatch_sample")}))
    result = {
        "correct": not rep["wrong"] and rep["failed"] == 0,
        "attempted": rep["ops"],
        "failed": rep["failed"],
        # a layer the workload never enters reports 0
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
