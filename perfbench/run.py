"""The repo benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The benchmark generates its inputs from
``--seed``, starts one ``local[4]`` Spark session, warms the workload up,
sets it up several times (``setup_s`` is the median), primes it on the
last set-up's inputs, then runs it as a closed loop with a single client
for ``--seconds`` (and at least the workload's ``min_ops`` operations)
and checks every output. Everything it writes goes under ``.perfbench_run/`` in the
checkout and is removed at exit.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run records spans around calls into the package and
Spark's event log, and the line carries the per-layer metrics instead.
``tracing.overhead_s`` is the tracer's own bookkeeping plus the event-log
parse; the cost of writing the event log shows only as the difference
between a traced and an untraced run. Metric names, units and directions
are listed in ``BENCHMARK.json`` and ``perfbench/metrics.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

# the package and the benchmark's own modules must import in Spark's
# Python workers too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
)

import ctcityscraper_spark  # noqa: E402,F401  (fail fast outside a checkout)

from perfbench import eventlog  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, report  # noqa: E402
from perfbench.workloads import CORES, WORKLOADS, quantile, run_workload  # noqa: E402

DRIVER_MEMORY = "3g"

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def process_tree(pid: int) -> set[int]:
    """``pid`` and all its live descendants."""
    kids, out, todo = _children(), set(), [pid]
    while todo:
        p = todo.pop()
        if p not in out:
            out.add(p)
            todo += kids.get(p, [])
    return out


class RssSampler:
    """Peak resident memory of this process plus the driver JVM and its
    descendants (Spark's Python daemon and workers), sampled from /proc."""

    def __init__(self, jvm_pid: int, every_s: float = 0.25):
        self.jvm_pid, self.every_s = jvm_pid, every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        pids = process_tree(self.jvm_pid) | {os.getpid()}
        self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(self.every_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_spark(spark, jvm_pid: int, timeout_s: float = 60.0) -> None:
    """Stop the session and the driver JVM, then wait until the JVM and
    every process it started (the Python daemon and workers) have ended."""
    from pyspark import SparkContext

    tree = process_tree(jvm_pid) if jvm_pid else set()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout_s)
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = [p for p in tree if Path(f"/proc/{p}").exists()]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        os.kill(p, signal.SIGKILL)


def start_spark(run_dir: Path, trace: bool):
    from ctcityscraper_spark.session import get_spark

    tmp = run_dir / "tmp"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            # Spark 4 compresses event logs with zstd and rolls them into a
            # directory of parts by default; write one plain file instead
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": (run_dir / "events").as_uri(),
        }
    return get_spark(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
    )


def end_to_end(res: dict) -> dict:
    lat = [o.seconds for o in res["ops"]]
    return {
        "setup_s": quantile(res["setup_s"], 0.5),
        "op_p50_ms": 1e3 * quantile(lat, 0.5),
        # work completed per second the client spent waiting on the package
        "items_per_s": sum(o.items for o in res["ops"]) / sum(lat),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    run_dir = ROOT / ".perfbench_run" / f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
    for sub in ("tmp", "local", "events", "work"):
        (run_dir / sub).mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = tempfile.tempdir = str(run_dir / "tmp")
    spark = tracer = jvm_pid = None
    try:
        t = time.perf_counter()
        spark = start_spark(run_dir, trace)
        start_s = time.perf_counter() - t
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with RssSampler(jvm_pid) as rss:
            if trace:
                from perfbench.trace import Tracer

                tracer = Tracer(spark)
            wl = WORKLOADS[args.workload](spark, args.seed, run_dir / "work", tracer)
            res = run_workload(wl, args.seconds)
        if tracer is not None:
            tracer.restore()
        t = time.perf_counter()
        stop_spark(spark, jvm_pid)
        spark, stop_s = None, time.perf_counter() - t

        ops = res["ops"]
        for f in wl.failures:
            print(f"FAILED: {f}", file=sys.stderr)
        if trace:
            t = time.perf_counter()
            log = eventlog.parse(eventlog.read_events(run_dir / "events"))
            metrics = {
                "session.start_s": start_s,
                "session.warmup_s": res["warmup_s"],
                "session.peak_rss_mb": rss.peak_kb / 1024,
            }
            metrics |= wl.layers(log, res["window"], ops)
            window = eventlog.summarize(log, *res["window"]["wall_ms"])
            metrics |= {
                name: window[name.removeprefix("spark.")]
                for name, *_ in PER_LAYER
                if name.startswith("spark.")
            }
            metrics["tracing.overhead_s"] = tracer.overhead_s + time.perf_counter() - t
            out = report(metrics, PER_LAYER)
        else:
            out = report(end_to_end(res), END_TO_END)
        print(
            f"{args.workload}: {len(ops)} ops {[round(o.seconds, 2) for o in ops]}, "
            f"setup {[round(x, 2) for x in res['setup_s']]}, "
            f"warm-up {res['warmup_s']:.2f}s, checks {res['checks_s']:.2f}s, "
            f"start {start_s:.2f}s, stop {stop_s:.2f}s",
            file=sys.stderr,
        )
        result = {"correct": not wl.failures, "attempted": res["attempted"], "failed": res["failed"]}
        print(json.dumps(result | {"metrics": out}))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark, jvm_pid)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):  # left in place while other runs use it
                (ROOT / ".perfbench_run").rmdir()


if __name__ == "__main__":
    sys.exit(main())
