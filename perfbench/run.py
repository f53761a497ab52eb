"""Benchmark entry point.

    python3 perfbench/run.py --workload upsert_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Generates the
workload's inputs from ``--seed``, sets up a Spark session sized from the
machine (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``; no Spark conf is
overridden), warms up on a tiny input, measures for about ``--seconds``,
checks every answer against an independent oracle, and prints the metrics
one per line followed by a JSON summary as the last line.

``--trace 1`` switches the Spark UI on (``SPARK_GRAFT_UI``), records spans
and per-layer metrics instead of the end-to-end ones, and writes the trace
to ``.perfbench/traces/``. The traced ``upsert_serve`` run also measures a
single-core baseline in a child process.

Everything the run writes lives under ``.perfbench/`` in the checkout;
its temporary directory is removed at the end.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "fs2_kafka_streams_spark"
STATE = os.path.join(ROOT, ".perfbench")
END_TO_END = {"setup_s": "s", "events_per_cpu_s": "1/s", "op_cpu_ms": "ms"}
TRACED_LIMIT_S = 165


def machine_env(cpus: int | None, trace: bool, tmp: str) -> None:
    """Size the session through the package's environment variables and
    keep every temporary file of Spark, the JVM and Python under ``tmp``."""
    if cpus is None:
        cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    mem_gb = max(1, min(4, total_kb // (4 * 1024 * 1024)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # no hsperfdata file: the JVM would write it to /tmp regardless
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def descendants() -> list[int]:
    from tracing import tree_pids

    return tree_pids(os.getpid())[1:]


def shutdown(spark) -> None:
    """Stop the session, the JVM and every Python worker, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants() and time.time() < deadline + 10:
        time.sleep(0.2)


def baseline_1core(args, timeout: float) -> float:
    """Wall-clock events_per_s of an untraced stream phase of the same
    seed on one core, in a child process (its own JVM); the child's whole
    process group is killed if it overruns ``timeout``."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", "0", "--cpus", "1", "--stream-only"]
    child = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                             text=True, start_new_session=True)
    try:
        out, err = child.communicate(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.communicate()
        raise
    if child.returncode != 0:
        raise RuntimeError(f"1-core baseline exited {child.returncode}: {err[-2000:]}")
    return next(float(line.split()[2]) for line in out.splitlines()
                if line.startswith("events_per_s = "))


def emit(summary: dict, lines: list[str]) -> None:
    for line in lines:
        print(line)
    print(json.dumps(summary), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="core count for SPARK_GRAFT_CPUS (default: this process's affinity)")
    ap.add_argument("--stream-only", action="store_true",
                    help="upsert_serve: run only the streaming phase")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    tmp = os.path.join(STATE, "tmp", uuid.uuid4().hex[:12])
    os.makedirs(tmp)
    machine_env(args.cpus, trace, tmp)

    from layers import LAYERS, UNITS
    from tracing import ProgressCollector, Tracer, tree_cpu_s, tree_hwm_kb

    from fs2_kafka_streams_spark.session import get_spark

    tracer = Tracer(trace)
    progress = ProgressCollector()
    wl = WORKLOADS[args.workload](tracer, progress, tmp, args.seed)
    wl.stream_only = args.stream_only
    spark = None
    try:
        with ThreadPoolExecutor(1) as ex:  # inputs are made while the JVM starts
            prepared = ex.submit(wl.prepare)
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}")
            session_s = time.perf_counter() - t0
            prepared.result()
        spark.streams.addListener(progress)
        wl.spark = spark
        tracer.enabled = False
        wl.warmup()
        tracer.enabled = trace
        # set-up cost in CPU seconds of the whole process tree since it
        # started, for the reason the other gated metrics are CPU times
        cpu0, wall0 = tree_cpu_s(os.getpid()), time.perf_counter()
        setup_s, setup_wall_s = cpu0, wall0 - T_PROCESS
        wl.measure(args.seconds)
        measured = {"measure.wall_s": (time.perf_counter() - wall0, "s"),
                    "measure.cpu_s": (tree_cpu_s(os.getpid()) - cpu0, "s")}
        peak_rss_mb = tree_hwm_kb(os.getpid()) / 1024
        e2e = wl.result()
        wl.info.update(measured)
        wl.info["peak_rss_mb"] = (peak_rss_mb, "MB")
        wl.info["setup_wall_s"] = (setup_wall_s, "s")
        layer_vals = wl.layers() if trace else {}
        e2e["setup_s"] = setup_s
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    lines = [f"# workload {args.workload} seed {args.seed} cpus {os.environ['SPARK_GRAFT_CPUS']}"
             f" driver_mem {os.environ['SPARK_GRAFT_DRIVER_MEM']}"]
    lines += [f"input.{k} = {v}" for k, v in wl.props.items()]
    results_path = os.path.join(STATE, "results", f"{args.workload}.json")
    if trace:
        layer_vals["session.start_s"] = session_s
        if args.workload == "upsert_serve":
            # a run must end within TRACED_LIMIT_S; the baseline gets what is left
            left = TRACED_LIMIT_S - (time.perf_counter() - T_PROCESS)
            try:
                layer_vals["baseline_1core.events_per_s"] = baseline_1core(args, left)
            except subprocess.TimeoutExpired:  # a missing figure, not a wrong answer
                lines.append(f"# baseline_1core not measured: over {TRACED_LIMIT_S} s")
            except (RuntimeError, ValueError, StopIteration) as exc:
                wl.check("1-core baseline", False, f"{type(exc).__name__}: {exc}")
        layer_vals["trace.events_per_cpu_s"] = e2e["events_per_cpu_s"]
        layer_vals["trace.op_cpu_ms"] = e2e["op_cpu_ms"]
        try:
            with open(results_path) as fh:
                untraced = json.load(fh)["events_per_cpu_s"]
            layer_vals["trace.overhead_share"] = (
                untraced - e2e["events_per_cpu_s"]) / untraced
        except (OSError, KeyError, ValueError):
            layer_vals["trace.overhead_share"] = 0.0
        metrics = {}
        for name, unit, moves, most, little in LAYERS:
            value = float(layer_vals.get(name, 0.0))
            metrics[name] = {"value": value, "unit": unit}
            lines.append(f"{name} = {value:.6g} {unit}  [moves {moves}; most work {most}; little {little}]")
        lines += [f"traced.{k} = {v:.6g} {END_TO_END[k]}" for k, v in e2e.items()]
        tracer.write(
            os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}-{tracer.run_id}.json"),
            {"workload": args.workload, "seed": args.seed, "input": wl.props,
             "progress": progress.progress,
             "layers": {n: {"value": float(layer_vals.get(n, 0.0)), "unit": UNITS[n],
                            "moves": m, "most_work": a, "little_work": b}
                        for n, _, m, a, b in LAYERS}})
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        lines += [f"{k} = {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
        if args.cpus is None and not args.stream_only:
            os.makedirs(os.path.dirname(results_path), exist_ok=True)
            with open(results_path, "w") as fh:
                json.dump({k: v["value"] for k, v in metrics.items()}, fh)
    lines += [f"{k} = {v:.6g} {u}" for k, (v, u) in wl.info.items()]
    share = wl.failed / max(wl.attempted, 1)
    lines.append(f"failed_ops_share = {share:.6g} ratio ({wl.failed} of {wl.attempted})")
    lines += [f"FAILED {f}" for f in wl.failures]
    emit({"correct": wl.failed == 0, "attempted": wl.attempted, "failed": wl.failed,
          "metrics": metrics}, lines)
    return 0


if __name__ == "__main__":
    sys.exit(main())
