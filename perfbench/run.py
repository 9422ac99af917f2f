"""Benchmark entry point.

    python3 perfbench/run.py --workload query_cached --seed 1 --seconds 18 --trace 0

Run from the root of a checkout.  Builds its inputs from ``--seed``, drives
one workload through the engine's public functions for ``--seconds``
seconds from one client thread in a closed loop, checks every answer
against the independent oracle in ``oracle.py`` and prints, as the last
line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones from a traced run (see ``tracing.py``), whose spans are
also written to ``.perfbench_traces/<workload>-seed<n>.jsonl``.  All scratch files
live under ``.perfbench_work/run-<pid>/`` in the checkout and are removed at
exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORK = os.path.join(WORK_ROOT, f"run-{os.getpid()}")  # runs may overlap
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")  # spans of traced runs, kept
CORES = 2
HEAP = "2g"  # JVM heap of the local Spark application

sys.path.insert(0, HERE)


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def _descendants(pid: int) -> list[int]:
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> tuple[float, dict]:
    """Sum of the resident high-water marks of this process, the JVM it
    launched and the JVM's Python workers, plus the per-process values."""
    me = os.getpid()
    per = {}
    for p in [me, *_descendants(me)]:
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
        except OSError:
            name = "?"
        per[f"{name}:{p}"] = _hwm_mb(p)
    return sum(per.values()), per


def start_spark():
    # every file the run writes stays in the checkout: Python and JVM temp
    # files, Spark's local dirs (the environment variable wins over the conf)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(
        WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    from lucene_solr_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": (
                # the heap starts at its maximum so that resident memory does
                # not depend on when the collector decides to grow it
                f"-Xms{HEAP} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for all of them."""
    procs = _descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 -- the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    _reap(procs)


def _reap(procs: list[int]) -> None:
    """Wait up to 20 s for the given processes to end, then kill the rest."""
    deadline = time.time() + 20
    alive = procs
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and _state(p) != "Z"]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "Z"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    try:
        import lucene_solr_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not found next to perfbench/: {e}", file=sys.stderr)
        return 2

    steal0 = cpu_steal()
    t0 = time.perf_counter()
    spark = None
    try:
        spark = start_spark()
        session_s = time.perf_counter() - t0
        res = workloads.WORKLOADS[args.workload](
            spark, WORK, args.seed, args.seconds, bool(args.trace), session_s
        )
        res.metrics_peak_rss, per_proc = peak_rss_mb()
        res.notes.append("rss high-water MB: " + " ".join(
            f"{k}={v:.0f}" for k, v in per_proc.items()))
    finally:
        t1 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        else:  # the session did not come up: end whatever it launched
            procs = _descendants(os.getpid())
            for p in procs:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGTERM)
            _reap(procs)
        shutil.rmtree(WORK, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_ROOT)  # only when no other run is using it
    steal1 = cpu_steal()
    res.phases.update(session=session_s, stop=time.perf_counter() - t1,
                      total=time.perf_counter() - t0,
                      steal_pct=100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1))

    if res.tracer is not None:
        os.makedirs(TRACE_DIR, exist_ok=True)
        res.tracer.dump(os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.jsonl"))
    for line in res.report_lines():
        print(line, file=sys.stderr)
    print(json.dumps(res.result_json(bool(args.trace))))
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main())
