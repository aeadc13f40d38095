"""Benchmark of the ETL engine's three user-facing workloads.

    python3 perfbench/run.py --workload contact_ingest --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. The benchmark generates its
inputs from ``--seed``, boots a ``local[<cores>]`` Spark session through
the engine's own factory, prepares and warms the workload, then runs one
client in a closed loop for ``--seconds`` seconds (then to the end of the
op cycle in flight) and checks every output.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics. The line before it is the full report (every
metric with its unit, the tail percentile, the host-health probe, the
check results). A traced run also writes its spans and report under
``perfbench/out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tail(latencies: list[float]) -> dict:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(latencies)
    if n <= 10:
        return {"value": None, "unit": "s", "percentile": None, "samples": n}
    pct = int(100 * (n - 10) / n)
    xs = sorted(latencies)
    return {"value": xs[min(n - 1, int(n * pct / 100))], "unit": "s", "percentile": pct, "samples": n}


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    and every Python worker it started have exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    import procstat

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    others = [p for p in procstat.tree_pids() if p != os.getpid()]
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in others:
        while True:
            try:
                os.kill(pid, 0)
            except OSError:
                break
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        _fail(f"{spec_path} not found: run from the root of a checkout")
    if not os.path.isdir(os.path.join(ROOT, "etl_migrate_api_spark")):
        _fail("the engine package etl_migrate_api_spark is not in this checkout")
    if not os.path.isfile(os.path.join(ROOT, "bench.py")):
        _fail("bench.py, whose host-health probe every emission carries, is not in this checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, ROOT]

    import procstat
    from bench import EnvProbe
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    work = os.path.join(HERE, ".tmp", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    # keep every file the run, Spark and its JVM write inside the checkout
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = os.path.join(work, var.lower())
        os.makedirs(os.environ[var])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM the run starts (Spark's launcher and the driver) keeps its
    # temp files in the checkout and writes no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    try:
        with EnvProbe() as probe, procstat.MemorySampler() as mem:
            report = run(args, spec, work)
        report["env"] = probe.summary()
        report["metrics"]["peak_rss_mb"] = {"value": mem.peak / 2**20, "unit": "MB"}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        have = report["metrics"].get(m["name"])
        if have is None or have["value"] is None:
            _fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": have["value"], "unit": m["unit"]}
    print(
        json.dumps(
            {"correct": report["failed"] == 0, "attempted": report["attempted"],
             "failed": report["failed"], "metrics": metrics}
        )
    )


def run(args, spec: dict, work: str) -> dict:
    import numpy as np

    import procstat
    from tracing import Tracer, install, read_event_log
    from workloads import WORKLOADS, Layers, common_trace_targets, install_counting

    ncpu = len(os.sched_getaffinity(0))  # what nproc reports
    tracer = Tracer(active=bool(args.trace))
    wl = WORKLOADS[args.workload](np.random.default_rng(args.seed), work, tracer)

    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    from etl_migrate_api_spark.session import get_spark

    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    ev_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(ev_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{ev_dir}",
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{ncpu}]",
                      shuffle_partitions=ncpu, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    boot_s = time.perf_counter() - t
    if args.trace:
        tracer.sc = spark.sparkContext
        install(tracer, wl.trace_targets() + common_trace_targets())
        install_counting(tracer)
        wl.install_extra(tracer)
    try:
        t = time.perf_counter()
        wl.prepare(spark)
        prep_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START - gen_s - wl.offline_s

        results, traced, errors = [], [], 0
        # ops of each kind so far: tracing alternates per kind, and the seed's
        # parity picks whether the first op of a kind runs traced or not
        seen: dict[str, int] = {}
        cpu0, offline0 = procstat.program_cpu_s(), wl.offline_cpu
        t0 = time.perf_counter()
        i = 0
        # run whole op cycles: stop at the first cycle boundary after --seconds;
        # a traced run times two cycles, so each op kind runs traced and untraced
        cycle = len(wl.CYCLE) * (2 if args.trace else 1)
        while time.perf_counter() - t0 < args.seconds or i % cycle:
            kind = wl.next_kind()
            tracer.enabled = bool(args.trace) and (seen.get(kind, 0) + args.seed) % 2 == 0
            seen[kind] = seen.get(kind, 0) + 1
            traced.append(tracer.enabled)
            tracer.op_id = i
            try:
                r = wl.op()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                errors += 1
                r = None
            finally:
                tracer.enabled = False
            results.append(r)
            i += 1
        wall = time.perf_counter() - t0
        cpu = procstat.program_cpu_s() - cpu0 - (wl.offline_cpu - offline0)
        fin = wl.finish()
    finally:
        _stop_spark(spark)
    attempted = len(results)
    failed = attempted if fin["all_ops_failed"] else sum(r is None or not r.ok for r in results)
    prim = [r.latency for r in results if r is not None and r.kind == wl.primary]
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_s_p50": {"value": statistics.median(prim) if prim else None, "unit": "s"},
        "op_s_tail": tail(prim),
        "cpu_s_per_op": {"value": cpu / max(attempted, 1), "unit": "s"},
        "failed_frac": {"value": failed / max(attempted, 1), "unit": "frac"},
    }
    done_rows = sum(r.rows for r in results if r is not None and r.kind == wl.primary)
    if wl.primary == "query":
        metrics["queries_per_s"] = {"value": len(prim) / wall, "unit": "1/s"}
        writes = [r.latency for r in results if r is not None and r.kind == "write"]
        metrics["write_s_p50"] = {"value": statistics.median(writes) if writes else None, "unit": "s"}
        metrics["recall_at_10"] = {"value": fin["recall_at_10"], "unit": "frac"}
    else:
        metrics["rows_per_s"] = {"value": done_rows / wall, "unit": "1/s"}
    if "space_amp" in fin:
        metrics["space_amp"] = {"value": fin["space_amp"], "unit": "ratio"}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "attempted": attempted, "failed": failed, "errors": errors, "metrics": metrics,
        "timed_wall_s": wall,
        "phases_s": {"generate": gen_s, "boot": boot_s, "prepare": prep_s, "warm": warm_s},
        "checks": fin["checks"],
        "latencies": {"primary": prim},
    }
    if args.trace:
        groups = read_event_log(ev_dir)
        n_traced = sum(traced)
        lay = Layers(tracer, groups, n_traced)
        # a layer the workload bypasses reads 0
        per = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
        per.update(lay.spark_fields())
        per.update(wl.layer_metrics(lay, n_traced))
        per["operators._swap_retry.retries"] = tracer.counters.get("swap_retry.retries", 0) / max(n_traced, 1)
        per["sinks.versioned.commit_s"] = lay.per_op("sinks.versioned.commit")
        n_queries = sum(1 for r, tr in zip(results, traced) if tr and r is not None and r.kind == "query")
        per["sinks.versioned.segments_read_per_query"] = (
            tracer.counters.get("versioned.segments", 0) / n_queries if n_queries else 0.0
        )
        per["session.boot_s"] = boot_s
        per["session.warm_s"] = warm_s
        on = [r.latency for r, tr in zip(results, traced) if tr and r is not None and r.kind == wl.primary]
        off = [r.latency for r, tr in zip(results, traced) if not tr and r is not None and r.kind == wl.primary]
        overhead = statistics.median(on) - statistics.median(off) if on and off else 0.0
        per["trace.overhead_s"] = overhead
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = sorted(set(per) - set(units))
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        for k, v in per.items():
            metrics[k] = {"value": v, "unit": units[k]}
        report["trace"] = {"traced_ops": n_traced, "overhead_s": overhead, "groups": groups}
        tag = f"{args.workload}-seed{args.seed}"
        tracer.dump(
            os.path.join(HERE, "out", f"{tag}.spans.json"),
            {"workload": args.workload, "seed": args.seed, "overhead_s": overhead,
             "traced_latencies": on, "untraced_latencies": off},
        )
    return report


if __name__ == "__main__":
    main()
