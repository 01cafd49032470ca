"""Benchmark of the incremental loader and the query catalog.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see NOTES.md):

- ``ingest_backlog``: one ``pipeline.run_incremental`` per op over a
  generated ~100k-line, 50-file catch-up backlog, into a fresh lake;
- ``ingest_trickle``: set-up preloads that backlog; each op adds one
  ~500-line file and loads it into the growing lake;
- ``query_mix``: seed-shuffled rounds of catalog queries over the
  cached sf0.1 tables, each run to the noop sink.

All three are closed loops: one client, one driver process, Spark in
``local[nproc]``. A run measures at least ``--seconds`` of op time and
at least a few ops (NOTES.md). With ``--trace 0`` the last stdout line
carries the end-to-end metrics, with ``--trace 1`` the per-layer ones;
the lines before it give the details (environment, tail percentile and
its n, failures, set-up phases). Every op's output is checked; a failed
op is counted and never timed.

Inputs come from ``$SPARK_GRAFT_SF_DIR`` (default: the repository's
sf0.1 testdata, TESTDATA.md). Everything the run writes goes under
``.perfbench_tmp/`` (removed at exit) and the span dump under
``.perfbench_out/``, both in the working directory.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORKLOADS = ("ingest_backlog", "ingest_trickle", "query_mix")
# A run stops measuring after this many seconds from process start, so
# that it always ends well inside its 180 s limit.
HARD_STOP_S = 110.0

END_TO_END = {
    "setup_s": "s",
    "op_s.p50": "s",
    "op_s.tail": "s",
    "rows_per_s": "rows/s",
    "ok_ratio": "ratio",
}
PER_LAYER = {
    "ndjson.discover_s": "s",
    "ndjson.files_listed": "count",
    "json_repair.busy_s": "s",
    "json_repair.infer_s": "s",
    "json_repair.repair_yield": "ratio",
    "json_repair.quarantined": "count",
    "events_transform.busy_s": "s",
    "lake.write_s": "s",
    "lake.files_written": "count",
    "lake.bytes_written": "bytes",
    "lake.bytes_per_input_byte": "ratio",
    "identity.cc_s": "s",
    "identity.update_s": "s",
    "identity.members": "count",
    "identity.map_bytes_rewritten": "bytes",
    "pipeline.jobs_per_op": "count",
    "pipeline.self_s": "s",
    "session.start_s": "s",
    "session.cache_tables_s": "s",
    "plans.olap.busy_s": "s",
    "plans.events.busy_s": "s",
    "plans.corpus.busy_s": "s",
    "plans.lakehouse.busy_s": "s",
    "plans.first_over_steady": "ratio",
    "plans.jobs_per_call": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.core_busy_ratio": "ratio",
    "trace.overhead": "ratio",
    "trace.coverage": "ratio",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(tmp: Path) -> dict[str, str]:
    """Set what the engine reads at start-up, before pyspark loads.

    Spark gets one core per CPU this process may use (the package's
    own default oversubscribes small hosts), scratch space and Python's
    temp dir go to a per-run directory, and Python workers find the
    package through ``PYTHONPATH``.
    """
    for d in ("spark-local", "tmp", "warehouse"):
        (tmp / d).mkdir(parents=True, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": str(tmp / "spark-local"),
        "TMPDIR": str(tmp / "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    }
    os.environ.update(pinned)
    tempfile.tempdir = None  # re-read TMPDIR
    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)
    return pinned


def _tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssPoller:
    """Peak resident memory of this process tree (driver, JVM and
    Python workers), polled from ``/proc``."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in _tree_pids(me)))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssPoller:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args: argparse.Namespace, tmp: Path) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tmp = tmp
        # the sf0.1 tables where TESTDATA.md puts them, as bench.py reads them
        self.sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = None
        self.gen_s = 0.0
        self.check_s = 0.0
        self.setup_s: float | None = None
        self.phases: dict[str, float] = {}
        self.failures: list[str] = []
        # Keys the generator wrote that never reached the lake.
        self.missing_keys: set[str] = set()

    def fail(self, what: str, why: str) -> None:
        """Record a failed op or check; the reason goes to stderr."""
        self.failures.append(what)
        print(f"[perfbench] {what} FAILED: {why}", file=sys.stderr, flush=True)

    def out_of_time(self) -> bool:
        return time.perf_counter() - T0 > HARD_STOP_S

    @contextmanager
    def generating(self):
        t0 = time.perf_counter()
        yield
        self.gen_s += time.perf_counter() - t0

    def generator(self):
        import gen

        return gen.Generator(self.seed, gen.load_events(Path(self.sf_dir) / "events.parquet"))

    @contextmanager
    def setup_phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t0

    def start_spark(self) -> None:
        from spans import Tracer

        from kissmetrics_to_database_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp / 'tmp'}",
            "spark.sql.warehouse.dir": str(self.tmp / "warehouse"),
        }
        with self.setup_phase("session.start_s"):
            self.spark = get_spark("perfbench", extra_conf=conf)
        self.tracer = Tracer(self.spark)

    def setup_done(self) -> None:
        """The first timed op starts now. Input generation and output
        checks made before it are not set-up."""
        self.setup_s = time.perf_counter() - T0 - self.gen_s - self.check_s

    def stop(self) -> None:
        """Stop Spark and its JVM, then wait for every child to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while len(_tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.2)


def run_workload(ctx: Run) -> dict:
    if ctx.workload == "query_mix":
        import querymix

        return querymix.run(ctx)
    import ingest

    return ingest.backlog(ctx) if ctx.workload == "ingest_backlog" else ingest.trickle(ctx)


def result(ctx: Run, res: dict, peak_rss: int, pinned: dict[str, str]) -> tuple[dict, dict]:
    """``(detail, last line)`` for one finished run."""
    from stats import median, tail

    attempted, failed = res["attempted"], res["failed"]
    detail = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "trace": int(ctx.trace),
        "env": dict(pinned, cores=ctx.cores, python=platform.python_version(),
                    spark=ctx.spark.version, master=ctx.spark.sparkContext.master,
                    machine=platform.machine()),
        "bench.gen_s": ctx.gen_s,
        "wall_s": time.perf_counter() - T0,
        "setup_phases_s": ctx.phases,
        "failed_ratio": failed / attempted if attempted else None,
        "failures": ctx.failures,
        "lake_missing_keys": sorted(ctx.missing_keys),
        "op_s": res["op_s"],
        # Reported, not gated: the JVM's adaptive heap sizing moves the
        # peak by 20-50% between runs of the same input.
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
    }
    if ctx.trace:
        layer = {**{k: 0.0 for k in PER_LAYER}, **res["layer"]}
        layer["session.start_s"] = ctx.phases["session.start_s"]
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"unregistered per-layer metrics: {sorted(unknown)}")
        metrics = {k: {"value": float(layer[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        values = {"setup_s": ctx.setup_s,
                  "ok_ratio": 1.0 - failed / attempted if attempted else 0.0}
        if res["op_s"]:
            t, pct, n = tail(res["op_s"])
            values.update({"op_s.p50": median(res["op_s"]), "op_s.tail": t,
                           "rows_per_s": res["rows_per_s"]})
            detail["op_s.tail"] = {"percentile": pct, "n": n}
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in END_TO_END.items() if values.get(k) is not None}
    last = {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}
    return detail, last


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    tmp = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"
    pinned = pin_environment(tmp)
    # Keep the real stdout for the result; anything else the engine
    # prints goes to stderr.
    out_fd = os.dup(1)
    os.dup2(2, 1)
    ctx = Run(args, tmp)
    try:
        with RssPoller() as rss:
            res = run_workload(ctx)
        detail, last = result(ctx, res, rss.peak, pinned)
        if ctx.trace:
            ctx.tracer.write(ROOT / ".perfbench_out" / f"spans-{ctx.workload}-{ctx.seed}.json")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:  # another run's directory is still in it
            pass
    text = f"{json.dumps(detail)}\n{json.dumps(last)}\n"
    os.write(out_fd, text.encode())
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
