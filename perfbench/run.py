"""Benchmark of the curation engine: one command, three workloads.

Usage, from the repository root::

    python3 perfbench/run.py --workload curate_contract --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics (setup_s, wall_s, docs_per_s;
out_bytes, peak_rss_mb and failed_frac in the table only), ``--trace 1`` runs the traced pass and prints the per-layer
metrics instead.  Either way the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it are a
human-readable table and the run record.  METRICS.md lists every metric.

Load: one process, one client, closed loop on ``local[nproc]``: the next
operation starts only after the previous one returns.  The job inputs come
from ``--seed`` (inputs.py) and are cached under ``.perfbench_cache/``; the
registry reads the fixed sf0.1 tables in ``perfbench/sf0.1/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CACHE = ROOT / ".perfbench_cache"
WORKLOADS = ("curate_contract", "crawl_flow", "registry_leaves")
PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> None:
    """Settings every Spark process must inherit, applied before the JVM
    starts: the engine on the Python workers' path, the core count, and
    scratch space inside the checkout."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = str(tmp)
    sys.path.insert(0, str(ROOT))


def run_record() -> dict:
    import pyarrow
    import pyspark

    sha = None
    head = ROOT / ".git" / "HEAD"
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = ROOT / ".git" / ref[5:]
            ref = ref_file.read_text().strip() if ref_file.exists() else None
        sha = ref
    return {
        "git_sha": sha,
        "nproc": nproc(),
        "loadavg": os.getloadavg(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


# ---------------------------------------------------------------------------
# memory


def process_tree(root_pid: int) -> dict[int, int]:
    """{pid: resident bytes} of ``root_pid`` and all its descendants (/proc)."""
    parent, rss = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * PAGE
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


class RssSampler:
    """Peak resident memory of this process tree (driver Python, driver JVM,
    Python workers) between start() and stop()."""

    def __init__(self, interval: float = 0.1):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(process_tree(pid).values()))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


# ---------------------------------------------------------------------------
# processes


def become_subreaper() -> None:
    """Adopt the descendants whose parent exits first (Python workers of a
    JVM that has stopped), so stop_processes() can wait for each of them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark context and its JVM, then wait until every process
    this one started has ended: first for them to exit on their own, then
    after SIGTERM, then after SIGKILL."""
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    if SparkContext is not None:
        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception:  # noqa: BLE001 - go on stopping
                traceback.print_exc()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM still exits on EOF
                pass
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
            SparkContext._gateway = SparkContext._jvm = None
    me = os.getpid()
    start = time.monotonic()
    sent: set[int] = set()
    while True:
        _reap()
        left = [p for p in process_tree(me) if p != me]
        waited = time.monotonic() - start
        if not left:
            return
        if waited > grace_s + 60:
            log(f"processes still running after SIGKILL: {left}")
            return
        sig = (
            signal.SIGKILL
            if waited > grace_s + 5
            else signal.SIGTERM
            if waited > grace_s
            else None
        )
        for pid in left:
            if sig is not None and (sig == signal.SIGKILL or pid not in sent):
                sent.add(pid)
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# session


def start_session(workload: str, extra_conf: dict | None = None):
    from radio_data_curation_ssl_spark.session import get_spark

    cpus = nproc()
    spark = get_spark(
        f"perfbench-{workload}",
        master=f"local[{cpus}]",
        # the registry runs at bench.py's setting; the jobs at the
        # session default a plain `python jobs/run_curation.py` gets
        shuffle_partitions=max(cpus, 16) if workload == "registry_leaves" else None,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the whole heap from the start: no collections while it grows
            "spark.driver.extraJavaOptions": "-Xms2g",
            **(extra_conf or {}),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def log(msg: str) -> None:
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def timed_session_start(workload: str, extra_conf: dict | None = None):
    """The one cold start a job launch pays: start the session (and its
    JVM) and run one tiny Arrow/Python job, which spawns the Python
    workers.  Returns (session, seconds)."""
    t0 = time.perf_counter()
    spark = start_session(workload, extra_conf)
    n = nproc()
    spark.range(0, 64 * n, numPartitions=n).mapInPandas(
        lambda it: it, "id long"
    ).count()
    return spark, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# untraced run


def percentile_beyond(samples: list[float], min_beyond: int = 10):
    """Highest of p50/p75/p90/p95/p99 that has >= min_beyond samples above
    it, as (label, value), or None."""
    if len(samples) < 2:
        return None
    cut = statistics.quantiles(samples, n=100, method="inclusive")
    best = None
    for p in (50, 75, 90, 95, 99):
        if len(samples) * (100 - p) / 100 >= min_beyond:
            best = (f"p{p}", cut[p - 1])
    return best


def make_workload(name: str, seed: int, plant_wrong: bool):
    import inputs
    import workloads as W

    entry, meta = inputs.prepare(CACHE, name, seed)
    if name == "registry_leaves":
        from radio_data_curation_ssl_spark.queries import REGISTRY

        first = next(n for n in REGISTRY if n in W.TIMED_LEAVES)
        rec = W.Recorded(name, "sf0.1", entry, f"{first}.digest" if plant_wrong else None)
        return W.RegistryLeaves(entry, meta, rec)
    rec = W.Recorded(name, str(seed), entry, "digest" if plant_wrong else None)
    cls = W.CurateContract if name == "curate_contract" else W.CrawlFlow
    return cls(entry, meta, rec, CACHE / "work" / f"{name}-{os.getpid()}")


def untraced(args) -> tuple[dict, int, int, list[str], list[tuple]]:
    """Setup, then operations until --seconds have passed.  Returns
    (metrics, attempted, failed, problems, extra table rows)."""
    wl = make_workload(args.workload, args.seed, args.plant_wrong_digest)
    log("inputs ready")
    spark, start_s = timed_session_start(args.workload)
    log(f"session set up ({start_s:.2f} s)")
    problems: list[str] = []
    attempted = failed = 0
    registry = args.workload == "registry_leaves"
    walls: list[float] = []
    out_bytes: list[int] = []
    leaf_walls: dict[str, list[float]] = {}
    try:
        # the warm-up: one untimed job call on the same input, or the timed
        # leaves' first forcings; it pays the one-time costs (JIT and
        # expression compilation, Python-worker imports, model builds), and
        # its outputs are checked as one operation
        t0 = time.perf_counter()
        p = wl.warm(spark)
        setup_s = start_s + time.perf_counter() - t0
        attempted, failed, problems = 1, int(bool(p)), p
        log(f"warmed up (setup_s {setup_s:.2f})")
        sampler = RssSampler()
        sampler.start()
        t_begin = time.perf_counter()
        try:
            while True:
                if registry:
                    sweep = 0.0
                    for name in wl.names:
                        attempted += 1
                        try:
                            w, rows, digest = wl.force(spark, name)
                            p = wl.check(name, rows, digest)
                        except Exception as e:  # noqa: BLE001 - count, go on
                            traceback.print_exc()
                            w, p = 0.0, [f"{name}: {type(e).__name__}: {e}"]
                        sweep += w
                        leaf_walls.setdefault(name, []).append(w)
                        failed += bool(p)
                        problems += p
                    walls.append(sweep)
                else:
                    attempted += 1
                    try:
                        w, b, p = wl.run()
                        walls.append(w)
                        out_bytes.append(b)
                    except Exception as e:  # noqa: BLE001 - count, go on
                        traceback.print_exc()
                        p = [f"{type(e).__name__}: {e}"]
                    failed += bool(p)
                    problems += p
                if time.perf_counter() - t_begin >= args.seconds:
                    break
        finally:
            peak = sampler.stop()
            log(f"timed runs done: {[round(w, 3) for w in walls]}")
            for name, v in leaf_walls.items():
                log(f"  {name}: {[round(w, 3) for w in v]}")
    finally:
        spark.stop()
        if not registry:
            shutil.rmtree(wl.work, ignore_errors=True)
    if not walls:
        raise RuntimeError("no operation completed")
    if not failed:
        wl.recorded.save_if_new(wl.observed_values())
    # the registry's wall is the sum over the leaves of each leaf's median
    wall = (
        sum(statistics.median(v) for v in leaf_walls.values())
        if registry
        else statistics.median(walls)
    )
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (wl.docs / wall, "docs/s"),
    }
    extra = [
        ("peak_rss_mb", peak / 2**20, "MiB"),
        ("runs", len(walls), "count"),
        ("out_bytes", statistics.median(out_bytes) if out_bytes else 0, "bytes"),
        ("failed_frac", failed / max(attempted, 1), "ratio"),
    ]
    pct = percentile_beyond(walls)
    if pct:
        extra.append((f"wall_{pct[0]}", pct[1], "s"))
    return metrics, attempted, failed, problems, extra


# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--plant-wrong-digest",
        action="store_true",
        help="record one output digest wrong on purpose: the run must "
        "report that operation as failed",
    )
    args = ap.parse_args(argv)
    if not (ROOT / "radio_data_curation_ssl_spark").is_dir() or not (
        ROOT / "jobs" / "run_curation.py"
    ).is_file():
        print(
            f"perfbench: the engine sources are not in {ROOT} "
            "(radio_data_curation_ssl_spark/, jobs/run_curation.py)",
            file=sys.stderr,
        )
        return 2
    become_subreaper()
    try:
        pin_environment()
        import inputs

        inputs.check_canary()
        record = run_record()
        if args.trace:
            import tracing

            metrics, attempted, failed, problems, extra = tracing.traced(args, CACHE)
        else:
            metrics, attempted, failed, problems, extra = untraced(args)
    finally:
        t0 = time.perf_counter()
        stop_processes()
        log(f"all processes stopped ({time.perf_counter() - t0:.2f} s)")
    for p in problems[:20]:
        print(f"# check failed: {p}", file=sys.stderr)
    print(f"# run record: {json.dumps(record)}")
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace}")
    for name, (value, unit) in metrics.items():
        print(f"{name:>44} {value:>16.6g} {unit}")
    for name, value, unit in extra:
        print(f"{name:>44} {value:>16.6g} {unit}")
    print(f"{'attempted / failed':>44} {attempted:>10} / {failed}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
