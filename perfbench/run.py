"""Benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout (the directory holding
``openmsistream_spark/``). Generates the workload's seeded inputs, sets
up (several times; the median is ``setup_s``), then runs closed-loop
rounds of the workload on the clock for about ``--seconds``,
checks every round's output against an independent reference, and prints
one metric per line followed by a JSON summary as the last line of
stdout. Exits 1 when an output check fails, 2 when the package or the
workload cannot be found.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics instead (see ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-up repetitions per run; setup_s is their median
SETUP_REPS = 3


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 8 << 30


def configure_env(work: str) -> None:
    """Environment for the session and Spark's Python workers: workers
    must import the package from this checkout, the session must size
    itself from this machine, and nothing may be written outside the
    checkout."""
    cpus = str(os.cpu_count() or 1)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # a quarter of the machine, 1-8 GiB: the library's 16g default
    # exceeds the RAM of small machines
    gib = max(1, min(8, _mem_total_bytes() // (4 << 30)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{gib}g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def start_spark(work: str, master: str | None = None, event_log: str | None = None):
    from openmsistream_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


class RssSampler:
    """Peak resident memory of the JVM and every process under it (the
    Python workers), sampled from /proc every 0.5 s."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                tasks = os.listdir(f"/proc/{p}/task")
            except OSError:  # exited meanwhile
                continue
            for task in tasks:
                try:
                    with open(f"/proc/{p}/task/{task}/children") as fh:
                        todo.extend(int(c) for c in fh.read().split())
                except OSError:
                    pass
        return out

    @staticmethod
    def _rss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            return 0

    def sample(self) -> None:
        self.peak = max(self.peak, sum(self._rss(p) for p in self._tree(self.pid)))

    def _run(self):
        while not self._stop.wait(0.5):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def late_mean(ops: list[float]) -> float:
    """Mean of the last third of a round's ops (at least one op)."""
    k = max(1, len(ops) // 3)
    return statistics.fmean(ops[-k:])


def measure_rounds(round_fn, seconds: float, first: int = 1):
    """Run ``round_fn(first)``, ``round_fn(first + 1)``, ... for about
    ``seconds``: at least one round, and another only while it would end
    no later than half a round past the deadline. Returns per-round
    (wall, ops, error, n_ops) tuples."""
    rounds = []
    t0 = time.perf_counter()
    while not rounds or (
        time.perf_counter() - t0 + rounds[-1][0] / 2 < seconds
    ):
        rounds.append(round_fn(first + len(rounds)))
    return rounds


def set_up(spark, cls, seed: int, work: str, reps: int = SETUP_REPS,
           warm_rounds: int | None = None):
    """Generate the inputs and pre-filled state ``reps`` times, keeping
    the last, then warm the path up by running round 0 of the kept
    instance ``warm_rounds`` times (default: the workload's). The
    warm-up is full size: after a smaller one, the first timed round
    still ran about 20 % slower than the next while the JIT settled.
    Returns the workload, the median generation seconds and the warm-up
    seconds. Round 0's output is checked with the timed rounds'."""
    times = []
    for k in range(reps):
        t0 = time.perf_counter()
        w = cls(spark, seed, os.path.join(work, f"setup{k}"))
        w.setup()
        times.append(time.perf_counter() - t0)
        if k + 1 < reps:
            shutil.rmtree(w.work, ignore_errors=True)
    t0 = time.perf_counter()
    for _ in range(w.warm_rounds if warm_rounds is None else warm_rounds):
        _, _, err, _ = w.round(0)
        if err:
            print(f"perfbench: {cls.name}: warm-up round failed: {err}", file=sys.stderr)
    warm_s = time.perf_counter() - t0
    print(f"perfbench: {cls.name}: set-up reps "
          + ", ".join(f"{x:.2f}" for x in times) + f" s, warm-up round {warm_s:.2f} s",
          file=sys.stderr)
    return w, statistics.median(times), warm_s


def shutdown() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    from openmsistream_spark.session import stop_spark

    stop_spark()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    tree = RssSampler._tree(proc.pid)[1:] if proc is not None else []
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    # the Python worker daemon exits once the JVM has; wait for it and
    # its workers too
    deadline = time.monotonic() + 30
    while any(map(_alive, tree)) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """Whether ``pid`` is running (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "openmsistream_spark", "__init__.py")):
        print(f"perfbench: no openmsistream_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    try:
        if args.trace:
            from perfbench.traced import traced_run

            result = traced_run(cls, args, work)
        else:
            result = untraced_run(cls, args, work)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def untraced_run(cls, args, work: str) -> dict:
    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    w, gen_s, warm_s = set_up(spark, cls, args.seed, work)
    # no RSS sampling here: walking /proc competes for the GIL with the
    # driver-side foreachBatch code being timed
    rounds = measure_rounds(w.round, args.seconds)
    print(f"perfbench: {w.name}: session {session_s:.2f} s, rounds "
          + ", ".join(f"{r[0]:.2f}" for r in rounds) + " s", file=sys.stderr)
    problems = check_rounds(w, range(len(rounds) + 1))
    ops = [o for _, round_ops, _, _ in rounds for o in round_ops]
    metrics = {
        "setup_s": (session_s + gen_s + warm_s, "s"),
        "run_s": (statistics.median(wall for wall, *_ in rounds), "s"),
        # a round whose stream failed early may have no ops; it already
        # makes the run incorrect, and 0 keeps the JSON valid
        "op_p50_s": (statistics.median(ops) if ops else 0.0, "s"),
        "op_late_s": (
            statistics.median(late_mean(o) for _, o, _, _ in rounds if o) if ops else 0.0,
            "s",
        ),
    }
    print(f"perfbench: {w.name}: inputs sha256 {w.digest}; planted {w.planted}; "
          f"{len(rounds)} rounds, {len(ops)} ops", file=sys.stderr)
    return result(w, rounds, problems, metrics)


def check_rounds(w, round_ids) -> list[str]:
    """Check the outputs of ``round_ids``; return the problems."""
    return [f"round {r}: {p}" for r in round_ids for p in w.check(r)]


def result(w, rounds, problems, metrics: dict) -> dict:
    """The summary line: a run is correct when every checked output is
    and no measured round failed. ``metrics``: name -> (value, unit)."""
    for p in problems[:20]:
        print(f"perfbench: {w.name}: {p}", file=sys.stderr)
    failed = 0
    for _, _, err, n in rounds:
        if err:
            failed += n
            print(f"perfbench: {w.name}: round failed: {err}", file=sys.stderr)
    return {
        "correct": not problems and failed == 0,
        "attempted": max(1, sum(n for *_, n in rounds)),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
