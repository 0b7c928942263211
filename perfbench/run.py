"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the seed in a
temporary directory under ``.perfbench-tmp/`` (removed at exit), starts Spark
on ``local[N]`` (N = min(4, nproc)), runs one untimed warm-up step, then
timed steps until ``--seconds`` have passed, then checks every step's output.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). The line before it holds the run's diagnostics:
step count, CPU steal share and a program-independent host probe. A traced
run also writes its spans (with self times) to
``.perfbench-spans/<workload>-seed<n>.jsonl``.

With ``--trace 1`` the steps alternate untraced and traced, starting and
ending untraced (at least three steps); per-layer numbers come from the
traced steps, and the traced/untraced items-per-second ratio gives the
tracing overhead. The event log is on for the whole traced run, so its cost
is in both halves.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"
DEADLINE_S = 150  # leaves time for stop_processes within 180 s
E2E_UNITS = {"items_per_s": "1/s", "step_s_p50": "s", "peak_rss_mb": "MB", "setup_s": "s"}


class Stopped(BaseException):
    """Not an Exception: a failed step is caught and counted, a run past its
    deadline or told to stop must not be; it unwinds through the clean-up."""


def _on_signal(signum, _frame):
    raise Stopped(f"stopped by signal {signum} (deadline {DEADLINE_S} s)")


def stop_processes() -> None:
    """End every process this run started and wait for each. ``spark.stop()``
    leaves the py4j gateway JVM running until it reads EOF on its stdin,
    which otherwise comes only as this process exits, so the JVM (and any
    Python worker still below it) would outlive the benchmark."""
    from perfbench import procfs

    proc = None
    if "pyspark" in sys.modules:  # the session was started
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            # close the py4j connections first: a Python object collected
            # while the JVM ends would otherwise log a reset connection
            gateway.shutdown()
            proc = gateway.proc
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    left = procfs.stop_tree(os.getpid())
    if left:
        print(f"processes still running after clean-up: {left}", file=sys.stderr)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def make_run_dir() -> str:
    base = os.path.join(os.getcwd(), ".perfbench-tmp")
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)
    for sub in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(root, sub))
    # every temp file of this process, the JVM and the Python workers lands
    # in the run's own directory: nothing from an earlier process is reused
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no hsperfdata file in /tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["NIMBUS_ROUND_TIMING"] = "0"
    tempfile.tempdir = None
    return root


def start_session(root: str, cores: int, trace: bool):
    from nimbus_crawler_spark.session import build_session

    conf = {
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(root, "eventlog")
        conf["spark.eventLog.compress"] = "false"  # plain JSON lines, read at exit
    spark = build_session(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args, root: str) -> dict:
    from perfbench import eventlog, procfs
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cores = min(4, len(os.sched_getaffinity(0)))  # local[N], N <= nproc
    trace = bool(args.trace)
    sampler = procfs.RssSampler(os.getpid()).start()
    probe_before = procfs.host_probe()
    jiffies0 = procfs.cpu_jiffies()
    spark = None
    try:
        spark = start_session(root, cores, trace)
        session_s = time.perf_counter() - T_START
        tracer = Tracer(enabled=False)
        wl = WORKLOADS[args.workload](spark, os.path.join(root, "work"), args.seed, tracer, cores)
        wl.setup()
        if trace:
            wl.install_spans()
        setup_s = time.perf_counter() - T_START

        steps: list[dict] = []
        t_first = time.perf_counter()
        min_steps = 3 if trace else 1
        while True:
            i = len(steps)
            traced = trace and i % 2 == 1
            tracer.enabled = traced
            tracer.step = i
            os.environ["NIMBUS_ROUND_TIMING"] = "1" if traced else "0"
            wl.stage(i)
            cpu0 = procfs.tree_cpu_seconds(os.getpid()) if trace else 0.0
            t0 = time.perf_counter()
            try:
                with tracer.span("step"):
                    items = wl.step(i)
                raised = False
            except Exception:  # a failed step is counted, and the run goes on
                traceback.print_exc()
                items, raised = 0, True
            wall = time.perf_counter() - t0
            cpu = procfs.tree_cpu_seconds(os.getpid()) - cpu0 if trace else 0.0
            steps.append({"i": i, "wall": wall, "items": items, "raised": raised,
                          "traced": traced, "cpu_util": cpu / (wall * cores)})
            if time.perf_counter() - t_first >= args.seconds and len(steps) >= min_steps and not traced:
                break
        tracer.enabled = False
        os.environ["NIMBUS_ROUND_TIMING"] = "0"
        jiffies1 = procfs.cpu_jiffies()
        probe_after = procfs.host_probe()

        oks = wl.check(len(steps))
        for st, ok in zip(steps, oks):
            st["ok"] = ok and not st["raised"]
        layer = None
        if trace:
            layer = wl.layers(steps)
            spans_dir = os.path.join(os.getcwd(), ".perfbench-spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
            spark.stop()  # flushes and closes the event log
            spark = None
            layer.update(wl.job_layers(steps, eventlog.read_event_dir(os.path.join(root, "eventlog"))))
    finally:
        if spark is not None:
            spark.stop()
        peak = sampler.stop()

    failed = sum(not st["ok"] for st in steps)
    walls = [st["wall"] for st in steps]
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "steps": len(steps),
        "step_walls_s": [round(w, 4) for w in walls],
        "setup": {k: round(v, 4) for k, v in {"session_s": session_s, **wl.phase_s}.items()},
        "steal_share": procfs.steal_share(jiffies0, jiffies1),
        "probe_before_s": probe_before,
        "probe_after_s": probe_after,
    }
    if layer is None:
        metrics = {
            "items_per_s": sum(st["items"] for st in steps if st["ok"]) / sum(walls),
            "step_s_p50": statistics.median(walls),
            "peak_rss_mb": peak / 2**20,
            "setup_s": setup_s,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    else:
        metrics = layer_metrics(wl, steps, layer, diag)
    print(json.dumps(diag))
    return {"correct": failed == 0, "attempted": len(steps), "failed": failed, "metrics": metrics}


def layer_metrics(wl, steps, layer: dict, diag) -> dict:
    from perfbench.spans import self_times
    from perfbench.workloads import LAYER_METRICS

    def ips(traced: bool) -> float:
        sel = [st for st in steps if st["traced"] == traced]
        return sum(st["items"] for st in sel) / sum(st["wall"] for st in sel)

    values = dict.fromkeys(LAYER_METRICS, 0.0)
    values.update(layer)
    setup = diag["setup"]
    values.update({
        **{f"setup.{k}": v for k, v in setup.items()},
        "step.cpu_util": statistics.median(st["cpu_util"] for st in steps if st["traced"]),
        "host.steal_share": diag["steal_share"],
        "host.probe_before_s": diag["probe_before_s"],
        "host.probe_after_s": diag["probe_after_s"],
        "trace.items_per_s": ips(True),
        "trace.overhead_share": 1.0 - ips(True) / ips(False) if ips(False) > 0 else 0.0,
    })
    selfs = self_times(wl.tracer.spans)
    roots = wl.tracer.by_name("step")
    values["trace.layer_cover_share"] = statistics.median(
        1.0 - selfs[s.id] / s.duration for s in roots
    ) if roots else 0.0
    unknown = set(values) - set(LAYER_METRICS)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from LAYER_METRICS: {sorted(unknown)}")
    return {k: {"value": float(values[k]), "unit": LAYER_METRICS[k]} for k in LAYER_METRICS}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nimbus_crawler_spark", "__init__.py")):
        print(f"nimbus_crawler_spark not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _on_signal)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.alarm(DEADLINE_S)
    from perfbench import procfs

    procfs.become_subreaper()
    root = make_run_dir()
    try:
        result = run(args, root)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        stop_processes()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
