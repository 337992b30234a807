"""Benchmark of record for kgx_spark.

    python3 perfbench/run.py --workload web_kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One process, one client, one job
at a time (closed loop) on ``local[nproc]``:

1. generate the workload's inputs from the seed (untimed, not in setup);
2. start a SparkSession and finish one trivial job (``setup_s``);
3. one untimed warm-up run, then timed runs until ``--seconds`` have
   passed; every run's output is checked against the planted truth;
4. print a table of every metric with its sample count, then, as the last
   line, one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` also runs one
traced iteration after the timed ones and reports the per-layer metrics
(see spans.py) plus the tracing overhead.

Everything the run writes stays under ``.bench_work/`` in the checkout and
is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# session sizing (see README.md): driver heap well below physical RAM,
# local[nproc] in this one process
DRIVER_MEM = "2g"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    """RSS of ``pid`` and all its descendants (driver JVM, Python workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssPeak:
    """Background sampler of the process tree's peak RSS."""

    # one sample walks /proc (a few ms); this keeps the sampler near 2% of a core
    INTERVAL_S = 0.25

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def __enter__(self) -> "RssPeak":
        self.peak = tree_rss_bytes(os.getpid())
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def stop_tree(spark) -> None:
    """Stop Spark, then make sure the JVM and every worker it forked ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    left = descendants(os.getpid())
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=30)
        except Exception:  # already gone or stuck: fall through to signals
            pass
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in left if os.path.exists(f"/proc/{p}")]
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while alive and time.monotonic() < deadline:
            for p in alive:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        if not alive:
            return


def start_session(work: str, trace: bool):
    """SparkSession on local[nproc], scratch dirs inside the checkout."""
    from kgx_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/events", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kgx_spark")):
        print(f"no kgx_spark package next to {HERE}: run from a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    from workloads import WORKLOADS, disk_bytes

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # keep the JVM's and Python's scratch files inside the checkout
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    spark = None
    try:
        t_gen = time.monotonic()
        in_dir = f"{work}/in"
        truth = gen.GENERATORS[args.workload](gen.load_params()[args.workload], args.seed, in_dir)
        gen_s = time.monotonic() - t_gen
        input_bytes = sum(disk_bytes(f"{in_dir}/{p}") for p in wl.inputs)

        spark = start_session(work, bool(args.trace))
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
            tracer.switch("session")
        spark.range(1).count()
        setup_s = time.monotonic() - T_START - gen_s
        if tracer:
            tracer.switch(None)
            tracer.busy["session"] = setup_s
            tracer.rows["session"] = 1

        samples: dict[str, list[float]] = {k: [] for k in ("wall_s", "rss", "out", "p", "r", "n")}
        attempted = failed = 0
        notes: list[str] = []

        def iteration(i: int, timed: bool, traced: bool = False) -> float:
            nonlocal attempted, failed
            out_dir = f"{work}/out-{i}"
            gc.collect()
            spark.catalog.clearCache()
            attempted += 1
            ok = False
            with RssPeak() as rss:
                t0 = time.monotonic()
                try:
                    if traced:
                        wl.traced(spark, in_dir, out_dir, tracer)
                    else:
                        wl.run(spark, in_dir, out_dir)
                    res = wl.check(truth, out_dir)
                    ok = res.ok
                    if not ok:
                        notes.append(f"run {i}: {res.why}")
                except Exception:
                    notes.append(f"run {i} raised:\n{traceback.format_exc()}")
                wall = time.monotonic() - t0
            if ok and timed:
                samples["wall_s"].append(wall)
                samples["rss"].append(rss.peak / 1e6)
                samples["out"].append(disk_bytes(out_dir) / 1e6)
                samples["p"].append(res.precision)
                samples["r"].append(res.recall)
                samples["n"].append(res.n_out)
            failed += not ok
            shutil.rmtree(out_dir, ignore_errors=True)
            return wall

        warmup_s = iteration(0, timed=False)  # JIT, Python workers, caches
        t_loop = time.monotonic()
        i = 1
        while i == 1 or time.monotonic() - t_loop < args.seconds:
            iteration(i, timed=True)
            i += 1

        if args.trace:
            from spans import layer_metrics, parse_event_log, per_layer_spec

            base = statistics.median(samples["wall_s"]) if samples["wall_s"] else 0.0
            traced_wall = iteration(i, timed=False, traced=True)
            tracer.extra["trace.overhead_s"] = traced_wall - base
            stop_tree(spark)  # finishes the event log
            spark = None
            (log,) = [f for f in os.listdir(f"{work}/events") if not f.startswith(".")]
            totals = parse_event_log(os.path.join(work, "events", log))
            values = layer_metrics(tracer, totals, traced_wall, cores, input_bytes)
            metrics = {name: (values[name], unit, 1) for name, unit, _ in per_layer_spec()}
        else:
            n = len(samples["wall_s"])
            med = {k: statistics.median(v) if v else 0.0 for k, v in samples.items()}
            metrics = {
                "setup_s": (setup_s, "s", 1),
                "wall_s": (med["wall_s"], "s", n),
                "triples_per_s": (med["n"] / med["wall_s"] if n else 0.0, "1/s", n),
                "peak_rss_mb": (med["rss"], "MB", n),
                "out_mb": (med["out"], "MB", n),
                "ok_rate": ((attempted - failed) / attempted, "ratio", attempted),
                "spo_precision": (min(samples["p"], default=0.0), "ratio", n),
                "spo_recall": (min(samples["r"], default=0.0), "ratio", n),
            }
        for note in notes:
            print(note, file=sys.stderr)
        print(f"# {args.workload} seed={args.seed} local[{cores}] inputs={input_bytes / 1e6:.2f}MB "
              f"gen_s={gen_s:.2f} warmup_s={warmup_s:.2f} error_rate={failed / attempted:.4f} ({failed}/{attempted})")
        for k, (v, unit, n) in metrics.items():
            print(f"# {k:<34} {v:>14.6g} {unit:<6} n={n}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit} for k, (v, unit, _) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_tree(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
