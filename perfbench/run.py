"""Benchmark of the dedup engine: one workload per invocation.

    python3 perfbench/run.py --workload fresh_light --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one table
    python3 perfbench/run.py --scaling               # fresh_light at 1 core vs all

Run from the repository root. One driver process at local[nproc]: set-up
(session start, fixtures made from --seed, input snapshot, a warm-up
call) is timed as `setup_s`; then timed calls run back to back (one
client, closed loop) until --seconds of call time have passed, and every
call's output is checked against a reference computed outside the
timings. With --trace 1 a single call runs instead, with per-layer
tracing (perfbench/spans.py), and the per-layer metrics are reported.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (names and units from BENCHMARK.json). Everything the run
writes stays under .perfbench_work/ in the repository root.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
MB = 1e6


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _pin_environment(work: str) -> None:
    """One BLAS/OMP thread per Python worker, scratch and temp dirs inside
    the work dir, and a 1 GB driver heap (the inputs are a few MB). Must
    run before numpy or the JVM start."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    unit = lambda ms: {m["name"]: m["unit"] for m in ms}  # noqa: E731
    return unit(spec["end_to_end"]), unit(spec["per_layer"])


def run_workload(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_environment(work)
    e2e_units, layer_units = _metric_specs()
    try:
        import procstats
        import workloads
        from bench_scaling import host_canary
        from dedup.session import build_session
    except ImportError as exc:
        _log(f"cannot import the engine from {ROOT}: {exc}")
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work"), ignore_errors=True)
        return 2

    host = host_canary() if args.trace else {}
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a fixed-size heap: the JVM's share of peak_pss_mb then does not
        # depend on when G1 chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    if args.workload not in workloads.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
        return 2
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    t_setup = time.perf_counter()
    wl.make_inputs()
    try:
        spark = build_session(
            app_name=f"perfbench-{args.workload}", master=f"local[{args.cores}]",
            extra_conf=conf,
        )
        wl.setup(spark)
        setup_s = time.perf_counter() - t_setup
        _log(f"{args.workload}: setup {setup_s:.2f} s")
        wl.compute_reference()  # after set-up, with nothing else running
        if args.trace:
            # the traced call takes the timed calls' place right after
            # set-up, so trace.e2e_s compares with untraced runs' e2e_s
            metrics, tracer, errors = _traced_call(spark, wl, 0)
            metrics.update({f"host.{k}": v for k, v in host.items()})
            attempted, failed = 1, int(bool(errors))
        else:
            metrics, attempted, failed, errors = _timed_calls(spark, wl, args.seconds)
            metrics["setup_s"] = setup_s
    finally:
        _stop_spark()
    units = e2e_units
    if args.trace:
        from spans import read_event_log

        (log,) = os.listdir(os.path.join(work, "eventlog"))
        groups, jobs = read_event_log(os.path.join(work, "eventlog", log))
        metrics.update(_spark_layers(groups))
        if tracer is not None:
            problems = _attribute(tracer, jobs, metrics)
            failed = max(failed, int(bool(problems)))
            errors += problems
        units = layer_units
    for e in errors:
        _log(e)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": float(metrics.get(m, 0.0)), "unit": u} for m, u in units.items()},
    }
    for m, v in out["metrics"].items():
        _log(f"{args.workload} {m} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)
    return 0


def _stop_spark() -> None:
    """Stop the session, the JVM and the Python workers it started, and
    wait until each has ended. spark.stop() alone leaves the JVM running
    until it sees this process's end."""
    import procstats
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    started = procstats.tree_pids(os.getpid())[1:]
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    # under spark-submit the JVM is this process's parent and has no `proc`
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    procstats.wait_ended(started)


def _timed_calls(spark, wl, seconds: float):
    """Untraced calls back to back until `seconds` of call time have
    passed. Returns the end-to-end metrics but setup_s, the calls
    attempted, the calls failed and the errors."""
    import procstats

    calls, shuffles, errors, failed = [], [], [], set()
    spent, i = 0.0, 0
    with procstats.MemorySampler() as mem:
        while spent < seconds:
            wl.prepare(i)
            sh0 = procstats.shuffle_write_bytes(spark)
            t0 = time.perf_counter()
            try:
                wl.call(i)
                problems = None
            except Exception:  # a failed call is counted, not fatal
                problems = [traceback.format_exc()]
            dt = time.perf_counter() - t0
            spent += dt
            if problems is None:
                calls.append(dt)
                shuffles.append(procstats.shuffle_write_bytes(spark) - sh0)
                problems = wl.check(i)
                _log(f"call {i}: {dt:.3f} s")
            if problems:
                failed.add(i)
                errors += [f"call {i}: {e}" for e in problems]
            wl.cleanup(i)
            i += 1
    metrics = {
        "e2e_s": statistics.median(calls) if calls else 0.0,
        "shuffle_write_mb": statistics.median(shuffles) / MB if shuffles else 0.0,
        "peak_pss_mb": mem.peak_bytes / MB,
    }
    return metrics, i, len(failed), errors


def _traced_call(spark, wl, i: int):
    """One call with the tracer installed. Returns the per-layer metrics
    that do not come from the event log, the tracer (None if the call
    failed) and any errors."""
    import procstats
    import workloads
    from spans import GROUP, Tracer

    sc = spark.sparkContext
    tracer = Tracer(spark)
    out, errors = {"host.nproc": os.cpu_count()}, []
    tracer.install()
    try:
        wl.prepare(i)
        tracer.begin()
        t0 = time.perf_counter()
        wl.call(i)
        wall = time.perf_counter() - t0
        tracer.end()
        out["trace.e2e_s"] = wall
        fused, substr = tracer.acc_values("fused"), tracer.acc_values("substr")
        rdds = procstats.persisted_rdds(spark)
        errors += [f"traced call: {e}" for e in wl.check(i)]
        sc.setLocalProperty(GROUP, "posthoc")
        out.update(wl.layer_facts(tracer, i))
        wl.cleanup(i)
        (s3,) = tracer.called("stage3_candidates")
        writes = [c for c in tracer.calls if c.name in ("write", "replace") and c.depth == 0]
        out.update(
            {
                "pipeline.persisted_rdds_after": rdds,
                "stage3.plan_s": s3.t1 - s3.t0,
                "catalog.write_s": sum(c.t1 - c.t0 for c in writes),
                "catalog.commits": len(tracer.called("write")),
                "udfs.worker_s": fused[0] + substr[0],
                "udfs.kernel_s": fused[1] + substr[1],
                "udfs.arrow_s": fused[0] + substr[0] - fused[1] - substr[1],
                "udfs.docs": fused[2],
                "udfs.distinct_ratio": fused[3] / fused[2] if fused[2] else 0.0,
                "udfs.substr_pairs": substr[2],
            }
        )
        if wl.name == "fresh_light":
            # the query layers, timed once per query
            sc.setLocalProperty(GROUP, "query")
            qm = workloads.QueryMix(spark, wl.sf_dir, workloads.query_references(wl.sf_dir))
            rdds0 = procstats.persisted_rdds(spark)
            ms, query_errors = qm.run_pass()
            out.update(ms)
            out["entry.persisted_rdds_after"] = procstats.persisted_rdds(spark) - rdds0
            errors += [f"query pass: {e}" for e in query_errors]
    except Exception:  # counted in `failed`; the metrics gathered so far still print
        errors.append(f"traced call: {traceback.format_exc()}")
    finally:
        tracer.uninstall()
        sc.setLocalProperty(GROUP, None)
    return out, (tracer if tracer.t1 is not None else None), errors


def _attribute(tracer, jobs: list[tuple], out: dict) -> list[str]:
    """Per-layer busy time and `pipeline.unattributed_s` from the spans
    and the event log's job intervals. They must add up to the traced
    call's wall time, which is measured apart from the spans."""
    from spans import PIPELINE_LAYERS

    busy, unattributed = tracer.attribute(jobs)
    for layer in PIPELINE_LAYERS:
        out[f"{layer}.busy_s"] = busy.get(layer, 0.0)
    out["pipeline.unattributed_s"] = unattributed
    wall = out["trace.e2e_s"]
    gap = wall - sum(busy.values()) - unattributed
    # event-log times are whole milliseconds
    if abs(gap) > 0.01 + 0.001 * wall:
        return [f"traced call: layer busy times plus unattributed miss the wall time by {gap:.4f} s"]
    return []


def _spark_layers(groups: dict) -> dict:
    """Per-layer and whole-call Spark counters from the event log groups
    of the traced call (group None = set-up, posthoc = counts
    taken after the call, query = the query pass)."""
    from spans import merge_groups

    traced = lambda g: g not in ("posthoc", "query")  # noqa: E731
    total = merge_groups(groups, traced)
    out = {
        "pipeline.spark_jobs": total["jobs"],
        "spark.tasks": total["tasks"],
        "spark.failed_tasks": total["failed_tasks"],
        "spark.shuffle_read_mb": total["shuffle_read_bytes"] / MB,
        "spark.spill_mb": total["spill_bytes"] / MB,
        "spark.gc_s": total["gc_s"],
        "spark.scheduler_delay_s": total["scheduler_delay_s"],
        "cc.spark_jobs": merge_groups(groups, lambda g: g == "cc")["jobs"],
    }
    for layer in ("stage3", "stage4"):
        acc = merge_groups(groups, lambda g, layer=layer: g == layer)
        out[f"{layer}.shuffle_write_mb"] = acc["shuffle_write_bytes"] / MB
        out[f"{layer}.skew"] = acc["skew"]
    return out


def run_many(argv_tail: list[list[str]]) -> list[dict]:
    """Run workloads as child processes; return each one's result line."""
    results = []
    for extra in argv_tail:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), *extra],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        results.append(json.loads(lines[-1]) if proc.returncode == 0 and lines else None)
    return results


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--scaling", action="store_true",
                    help="fresh_light untraced at 1 core and at --cores; print the efficiency")
    args = ap.parse_args(argv)
    common = ["--seed", str(args.seed), "--seconds", str(args.seconds)]

    if args.scaling:
        legs = run_many([["--workload", "fresh_light", *common, "--cores", str(c)]
                         for c in (1, args.cores)])
        if None in legs:
            return 1
        e1, en = (leg["metrics"]["e2e_s"]["value"] for leg in legs)
        print(json.dumps({f"pipeline.scaling_eff_1to{args.cores}": (e1 / en) / args.cores,
                          "e2e_s_1": e1, f"e2e_s_{args.cores}": en}))
        return 0
    if args.workload == "all":
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [w["name"] for w in json.load(f)["workloads"]]
        trace = ["--trace", str(args.trace), "--cores", str(args.cores)]
        ok = True
        for name, res in zip(names, run_many([["--workload", n, *common, *trace] for n in names])):
            if res is None:
                print(f"{name}: FAILED TO RUN")
                ok = False
                continue
            ok &= res["correct"]
            print(f"{name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
            for m, v in res["metrics"].items():
                print(f"  {m:36s} {v['value']:>14.6g} {v['unit']}")
        return 0 if ok else 1
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
