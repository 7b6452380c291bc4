"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload raster_tiler --seed 1 --seconds 20 --trace 0

Closed loop, one client: one workload run at a time in one process, on a
``local[4]`` Spark session.  Every timed run starts from inputs already
materialized to parquet, and every run's committed output is checked.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` spends half of
``--seconds`` on untraced runs, starts a new JVM and session with an
uncompressed Spark event log, repeats the untimed reference run there,
spends the other half on traced runs, and prints the per-layer metrics
folded from that log.  Everything the run writes stays under
``.perfbench_work/`` in the directory it is started from, and is removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEMORY = "2g"
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
WORKLOAD_NAMES = ("raster_tiler", "corpus_refresh", "spatial_joins")

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "out_rows_per_s": "1/s",
    "sink_bytes_per_row": "B",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
}
SPAN_UNITS = {"wall_s": "s", "jobs": "count", "exec_cpu_s": "s", "idle_core_s": "core_s",
              "python_s": "s", "shuffle_mb": "MB"}
WORKLOAD_UNITS = {"gc_s": "s", "spill_mb": "MB", "fetch_wait_s": "s",
                  "peak_exec_mem_mb": "MB", "task_skew": "ratio", "tracing_overhead_s": "s"}
RATIO_UNITS = {"incr.write_amp": "ratio", "tiler.read_amp": "ratio",
               "corpus.read_amp": "ratio", "joins.knn_miss_rows": "count"}
SETUP_UNITS = {"setup.session.wall_s": "s", "setup.inputs.wall_s": "s"}


def pin_env(work: str) -> None:
    """Keep every file the run writes under ``work`` and pin the
    environment ``session.get_spark`` expects: one BLAS thread per task."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    for var in BLAS_VARS:
        os.environ[var] = "1"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def per_layer_names() -> dict:
    """Every per-layer metric name with its unit."""
    from eventlog import SPAN_COUNTERS
    from workloads import WORKLOADS, level_spans

    out = {}
    for wl in WORKLOADS.values():
        for span in wl.spans:
            out.update({f"{span}.{c}": SPAN_UNITS[c] for c in SPAN_COUNTERS})
        for span in level_spans(wl):
            out.update({f"{span}.wall_s": "s", f"{span}.jobs": "count"})
    out.update(WORKLOAD_UNITS)
    out.update(RATIO_UNITS)
    out.update(SETUP_UNITS)
    return out


class RssSampler:
    """Peak summed RSS of the JVM and the Python workers under it, sampled
    from /proc while armed.  Other descendants are left out: the JVM forks
    short-lived helpers (``chmod`` for local-file permissions) whose copy of
    the JVM's pages would otherwise count the heap twice."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self.armed = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    name = fh.read()
                if pid != self.pid and not name.startswith("python"):
                    continue
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.armed.is_set():
                self.peak = max(self.peak, self._tree_rss())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _warm_worker(col):
    """Start every Python worker and import, in each, the package modules
    the workloads call, so no timed run pays those imports."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s):
        import freemap_tiler_spark.pipeline  # noqa: F401
        from freemap_tiler_spark.operators import dedup, knn, similarity  # noqa: F401
        from freemap_tiler_spark.streaming import incremental  # noqa: F401

        return s

    return _warm(col)


class Session:
    """The benchmark's Spark session; restartable, and stops its JVM."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self, event_log: str | None = None):
        from pyspark.sql import functions as F

        from freemap_tiler_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + event_log,
            })
        self.spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                               shuffle_partitions=CORES, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(CORES, numPartitions=CORES).select(
            _warm_worker("id").alias("x")).agg(F.sum("x")).collect()
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def setup(session: Session, wl) -> tuple[float, float]:
    """(session seconds, input seconds): start the session and warm its
    workers, then write the seeded inputs."""
    t0 = time.time()
    spark = session.start()
    t1 = time.time()
    wl.setup_inputs(spark)
    return t1 - t0, time.time() - t1


def measure(spark, wl, work: str, seconds: float, sampler: RssSampler | None,
            tag: str) -> list[dict]:
    """Closed loop: run, check, repeat until ``seconds`` have passed."""
    from workloads import Tracer

    runs = []
    t_start = time.time()
    last = 0.0
    while not runs or time.time() - t_start + last <= seconds:
        t_iter = time.time()
        run_dir = os.path.join(work, "runs", f"{tag}{len(runs)}")
        rec = {"dir": run_dir, "ok": False}
        try:
            tracer = Tracer(spark)
            if sampler:
                sampler.armed.set()
            t0 = time.time()
            out = wl.run(spark, tracer, run_dir)
            rec["run_s"] = time.time() - t0
            if sampler:
                sampler.armed.clear()
            res = wl.check(spark, run_dir, out)
            rec.update(ok=res.ok, units=res.units, bytes_per_row=res.bytes_per_row,
                       failed=res.failed, out=out, tracer=tracer, layers=res.layers)
            if not res.ok:
                print(f"check failed: {res.failed}", file=sys.stderr)
        except Exception:
            traceback.print_exc()
        finally:
            if sampler:
                sampler.armed.clear()
        runs.append(rec)
        last = time.time() - t_iter
        log(f"{tag}{len(runs) - 1}: run_s {rec.get('run_s')} ok {rec['ok']}")
    return runs


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _median(vals):
    return statistics.median(vals) if vals else 0.0


def end_to_end(runs: list, setup_s: float, peak_rss: int) -> dict:
    good = [r for r in runs if r["ok"]]
    return {
        "setup_s": setup_s,
        "run_s": _median([r["run_s"] for r in good]),
        "out_rows_per_s": _median([r["units"] / r["run_s"] for r in good]),
        "sink_bytes_per_row": _median([r["bytes_per_row"] for r in good]),
        "peak_rss_mb": peak_rss / float(1 << 20),
        "ok_frac": len(good) / len(runs),
    }


def per_layer(wl, runs: list, untraced: list, log_dir: str, sess_s: float,
              inputs_s: float) -> dict:
    from eventlog import Fold, fold_spans, read_events

    fold = Fold(read_events(log_dir))
    rows = []
    for r in runs:
        if not r["ok"]:
            continue
        tracer = r["tracer"]
        vals = wl.layers(fold, tracer, r["dir"], r["out"], CORES)
        vals.update(r["layers"])
        vals.update(fold_spans(fold, tracer.spans, CORES))
        jobs = set()
        for sp in tracer.spans:
            jobs |= fold.span_jobs(sp)
        vals.update(fold.workload(jobs, CORES))
        rows.append(vals)
    names = per_layer_names()
    out = dict.fromkeys(names, 0.0)
    for name in names:
        got = [row[name] for row in rows if name in row]
        if got:
            out[name] = statistics.median(got)
    traced_s = _median([r["run_s"] for r in runs if r["ok"]])
    plain_s = _median([r["run_s"] for r in untraced if r["ok"]])
    out["tracing_overhead_s"] = traced_s - plain_s
    out["setup.session.wall_s"] = sess_s
    out["setup.inputs.wall_s"] = inputs_s
    return {k: {"value": v, "unit": names[k]} for k, v in out.items()}


def bench(args, work: str) -> dict:
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](os.path.join(work, "inputs"), args.seed)
    session = Session(work)
    try:
        sess_s, inputs_s = setup(session, wl)
        log(f"setup: session {sess_s:.2f} s, inputs {inputs_s:.2f} s")
        spark = session.spark
        wl.reference(spark, os.path.join(work, "reference"))
        log("reference done")
        if not args.trace:
            with RssSampler(session.jvm_pid()) as sampler:
                runs = measure(spark, wl, work, args.seconds, sampler, "r")
            metrics = end_to_end(runs, sess_s + inputs_s, sampler.peak)
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
            all_runs = runs
        else:
            untraced = measure(spark, wl, work, args.seconds / 2, None, "u")
            # a new JVM and a repeat of the reference, so the traced runs
            # start as warm as the untraced ones and the overhead is the
            # event log's alone
            session.shutdown()
            log_dir = os.path.join(work, "eventlog")
            spark = session.start(event_log=log_dir)
            wl.reference(spark, os.path.join(work, "reference-traced"))
            runs = measure(spark, wl, work, args.seconds / 2, None, "t")
            session.stop()
            metrics = per_layer(wl, runs, untraced, log_dir, sess_s, inputs_s)
            all_runs = untraced + runs
    finally:
        session.shutdown()
        log("shut down")
    failed = sum(1 for r in all_runs if not r["ok"])
    return {"correct": failed == 0, "attempted": len(all_runs), "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_env(work)
    log("start")
    try:
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
