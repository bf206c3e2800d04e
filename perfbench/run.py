"""Benchmark of the etl_geotab_spark engine: one workload per run.

    python3 perfbench/run.py --workload etl_fleet --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are made from ``--seed``
(``perfbench/datagen.py`` tables, seed-derived fleet groups) and every
output is checked against DuckDB; reference answers are computed before
the set-up clock starts. The load is a closed loop with one client
thread on a ``local[2]`` session; it runs whole passes while the next
one, taking as long as the last, still fits in ``--seconds``.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``,
every time among them scaled to a nominal host: by the share of CPU
time the host stole from this VM and by a reference loop timed while
the engine is idle (``perfbench/hostspeed.py``). The unscaled figures
are in the ``#`` summary line printed before the result.
``--trace 1`` alternates untraced and traced passes and prints the
per-layer metrics: means per traced operation, read from spans around
the benchmark's own calls into each engine module, from Spark's status
stores and from ``/proc``. The spans are written to
``perfbench/.traces/<workload>-seed<seed>.jsonl``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. All scratch files
(Spark local dirs, JVM temp dir, warehouse, streaming checkpoints,
generated tables, sink acks) live under ``perfbench/.work/`` and are
removed when the run ends, and every process the run started is stopped.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import hostspeed  # noqa: E402
import spans as spanlib  # noqa: E402
import stats  # noqa: E402
from workloads import OpResult, make  # noqa: E402

# the metrics a traced operation reports from its spans
SPAN_METRICS = {
    "queries.build": "queries.build_s",
    "queries.exec": "queries.exec_s",
    "sources.fetch": "sources.fetch_s",
    "io.sink": "io.sink_s",
}


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def isolate(work: str, jvm_options: str) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and the engine at
    ``work``, pass ``jvm_options`` to the JVM and let Python workers
    import the engine from the checkout."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "checkpoints")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} {jvm_options}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def load_normalize():
    """``normalize`` from tools/check_oracle.py, the oracle comparator's
    canonical order-insensitive row form."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    module = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved  # the tool prepends its own repo path
    return module.normalize


def start_session(session: dict, dirs: dict[str, str]):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = session["driver_memory"]
    from etl_geotab_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=session["master"],
        shuffle_partitions=session["shuffle_partitions"],
        extra_conf={
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.local.dir": dirs["local"],
            "spark.sql.streaming.checkpointLocation": dirs["checkpoints"],
            "spark.driver.defaultJavaOptions": session["heap_options"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _pids_alive(pids: list[int]) -> list[int]:
    return [p for p in pids if os.path.exists(f"/proc/{p}")]


def stop_all(spark, tree) -> None:
    """Stop the session and its JVM, then every other process that was a
    descendant before the JVM stopped, and wait for each to exit. The
    list is taken first: once the JVM is gone, the processes it started
    (the PySpark worker daemon and its forks, data-source planner
    workers) are re-parented and no longer found under this process."""
    from pyspark import SparkContext

    rest = [p for p in tree.pids() if p != tree.root]
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - teardown goes on regardless
            traceback.print_exc()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            traceback.print_exc()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in _pids_alive(rest):
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while _pids_alive(rest) and time.monotonic() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)  # reap any direct child
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if not _pids_alive(rest):
            return


def run(args, config: dict, declared: dict) -> dict:
    from layers import ProcTree, Probe

    spec = config["workloads"][args.workload]
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tree = ProcTree()
    spark = None
    try:
        dirs = isolate(work, config["session"]["jvm_options"])
        sys.path.insert(0, ROOT)
        import etl_geotab_spark  # noqa: F401 - resolve the engine from this checkout

        wl = make(args.workload, spec, args.seed, work, load_normalize(), tree.cpu_s)
        wl.prepare()  # inputs and reference answers, before the clock

        # ---- set-up: session start plus one operation per distinct plan
        null = spanlib.Tracer(enabled=False)
        setup_refs = [hostspeed.reference_s()]
        ticks0 = hostspeed.cpu_ticks()
        t0 = time.perf_counter()
        spark = start_session(config["session"], dirs)
        start_s = time.perf_counter() - t0
        warm_pause, warm_failures = 0.0, []
        for member in wl.members:
            res = wl.execute(spark, member, null, None)
            warm_pause += res.pause_s
            if not res.ok:
                warm_failures.append(f"{member}: {res.detail}")
        setup_s = time.perf_counter() - t0 - warm_pause
        setup_stolen = hostspeed.stolen_share(ticks0, hostspeed.cpu_ticks())
        setup_refs.append(hostspeed.reference_s())

        # ---- measured loop
        tracer = spanlib.Tracer(enabled=False)
        probe = Probe(spark, tree) if args.trace else None
        ops: list[tuple[str, bool, OpResult]] = []
        pause_s = pause_cpu = 0.0
        op_refs: list[float] = []
        op_stolen: list[float] = []
        tree.reset_peak_rss()
        cpu0, py0 = tree.cpu_s(), tree.python_worker_cpu_s()
        loop0 = pass0 = time.perf_counter()
        for k, order in enumerate(wl.passes()):
            traced = bool(args.trace) and k % 2 == 1
            tracer.enabled = traced
            for member in order:
                tracer.op_id = len(ops)
                r0, rc0 = time.perf_counter(), tree.cpu_s()
                op_refs.append(hostspeed.reference_s())
                pause_s += time.perf_counter() - r0
                pause_cpu += tree.cpu_s() - rc0
                ticks = hostspeed.cpu_ticks()
                op0 = time.perf_counter()
                try:
                    res = wl.execute(spark, member, tracer, probe if traced else None)
                except Exception:  # noqa: BLE001 - a failed operation, counted
                    res = OpResult(time.perf_counter() - op0, False, traceback.format_exc())
                op_stolen.append(hostspeed.stolen_share(ticks, hostspeed.cpu_ticks()))
                ops.append((member, traced, res))
                pause_s += res.pause_s
                pause_cpu += res.pause_cpu_s
                if not res.ok:
                    print(f"# FAILED {member}: {res.detail}", file=sys.stderr)
            now = time.perf_counter()
            last_pass, pass0 = now - pass0, now
            # the first pass also holds each member's full oracle match, so
            # the last pass, not the mean, predicts the next one
            if (not args.trace or k >= 1) and now - loop0 + last_pass > args.seconds:
                break  # a traced run needs a traced pass; the next would not fit
        loop_s = time.perf_counter() - loop0 - pause_s
        cpu_s = tree.cpu_s() - cpu0 - pause_cpu
        py_cpu_s = tree.python_worker_cpu_s() - py0
        peak_rss_mb = tree.peak_rss_mb()
        op_refs.append(hostspeed.reference_s())  # after the last operation
        if probe:
            probe.close()
    finally:
        stop_all(spark, tree)
        for _ in range(5):  # a file written while the JVM stopped can race the first pass
            shutil.rmtree(work, ignore_errors=True)
            if not os.path.exists(work):
                break
            time.sleep(0.5)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass

    # an operation's reference: the mean of those taken just before and
    # just after it
    around = [(a + b) / 2 for a, b in zip(op_refs, op_refs[1:])]
    failed = sum(not r.ok for _, _, r in ops)
    timed = [
        (r.latency_s, ref, stolen, r.ok)
        for (_, t, r), ref, stolen in zip(ops, around, op_stolen) if not t
    ]
    untraced = [lat for lat, _, _, ok in timed if ok]
    traced_ops = [(m, r) for m, t, r in ops if t]
    p = spec["tail_percentile"]
    n = len(untraced)
    nominal = hostspeed.NOMINAL_S  # nominal speed and no steal leave times unscaled
    raw = end_to_end([(lat, nominal, 0.0, ok) for lat, _, _, ok in timed],
                     (setup_s, nominal, 0.0), p, peak_rss_mb)
    scaled = end_to_end(timed, (setup_s, statistics.median(setup_refs), setup_stolen),
                        p, peak_rss_mb)
    summary = {
        "workload": args.workload, "seed": args.seed, "ops": len(ops), "failed": failed,
        "error_rate": round(failed / len(ops), 4) if ops else None,
        "samples": n, "tail": f"p{p}",
        "tail_rank": stats.rank(n, p) if n else None,
        "beyond_tail": stats.beyond(n, p) if n else None,
        "tail_supported": stats.supported(n, p) if n else False,
        "start_s": round(start_s, 3), "warmup_s": round(setup_s - start_s, 3),
        "warmup_ops": len(wl.members), "warmup_failures": warm_failures,
        "loop_s": round(loop_s, 3),
        "host_ref_ms": {
            "nominal": nominal * 1e3,
            "setup": [round(r * 1e3, 3) for r in setup_refs],
            "ops_median": round(statistics.median(op_refs) * 1e3, 3),
            "ops": [round(r * 1e3, 3) for r in op_refs],
        },
        "stolen": {
            "setup": round(setup_stolen, 4),
            "ops": [round(x, 4) for x in op_stolen],
        },
        "raw": {k: round(v, 4) for k, v in raw.items()},
        "cpu_s_per_op": round(cpu_s / len(ops), 4),
        "python_worker_cpu_s_per_op": round(py_cpu_s / len(ops), 4),
        "latencies_s": [round(r.latency_s, 3) for _, t, r in ops if not t],
        "member_p50_s": {
            m: round(statistics.median(lat), 4)
            for m in wl.members
            if (lat := [r.latency_s for mm, t, r in ops if mm == m and r.ok and not t])
        },
    }
    if args.trace:
        metrics = layer_metrics(tracer, traced_ops, untraced, start_s, setup_s,
                                cpu_s / len(ops))
        summary["self_s"] = {
            k: round(v / max(1, len(traced_ops)), 4)
            for k, v in spanlib.self_times(tracer.spans).items()
        }
        os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
        tracer.dump(os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = scaled
    units = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}
    print("# " + json.dumps(summary))
    return {
        "correct": failed == 0 and not warm_failures,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def end_to_end(ops, setup, p, peak_rss_mb) -> dict[str, float]:
    """The end-to-end metrics, every time scaled to the nominal host
    (``hostspeed.scale``). ``ops`` holds (latency, reference, stolen
    share, ok) per untraced operation, ``setup`` (seconds, reference,
    stolen share). Throughput is the successful operations per second of
    scaled operation time; peak memory is not scaled."""
    scaled = [(hostspeed.scale(lat, ref, stolen), ok) for lat, ref, stolen, ok in ops]
    lat = sorted(x for x, ok in scaled if ok)
    busy = sum(x for x, _ in scaled)
    return {
        "setup_s": hostspeed.scale(*setup),
        "latency_p50_s": statistics.median(lat) if lat else 0.0,
        "latency_tail_s": stats.percentile(lat, p) if lat else 0.0,
        "throughput_ops_s": len(lat) / busy if busy else 0.0,
        "peak_rss_mb": peak_rss_mb,
    }


def layer_metrics(tracer, traced_ops, untraced, start_s, setup_s, cpu_s_per_op) -> dict[str, float]:
    """Means per traced operation; counters a workload never touches
    (the connector on the query mixes, say) read 0. ``cpu_s_per_op`` is
    the process tree's CPU time per operation over the whole loop."""
    n = max(1, len(traced_ops))
    out: dict[str, float] = {}
    for _, r in traced_ops:
        for k, v in r.layers.items():
            out[k] = out.get(k, 0.0) + v
    span_totals = spanlib.totals(tracer.spans)
    for name, metric in SPAN_METRICS.items():
        out[metric] = span_totals.get(name, 0.0)
    out = {k: v / n for k, v in out.items()}
    traced_lat = [r.latency_s for _, r in traced_ops if r.ok]
    out["session.start_s"] = start_s
    out["session.warmup_s"] = setup_s - start_s
    out["process.cpu_s_per_op"] = cpu_s_per_op
    out["trace.overhead_s"] = (
        statistics.median(traced_lat) - statistics.median(untraced)
        if traced_lat and untraced else 0.0
    )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_geotab_spark", "__init__.py")):
        print(f"engine package etl_geotab_spark not found under {ROOT}", file=sys.stderr)
        return 2
    config = load_json(os.path.join(HERE, "workloads.json"))
    declared = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    if args.workload not in config["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # stop on SIGTERM through the ``finally`` that ends every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args, config, declared)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
