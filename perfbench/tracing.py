"""Traced pass: per-layer spans and Spark counters, taken from outside the
engine.

The traced session runs the workload's operation untraced (the jobs twice:
cold, then warm; the timed registry leaves warmed up, then once each),
then once more with every layer's public
function wrapped in place (``Patch``; no engine file changes).  A wrapper
records a span ``(name, start, end, parent, trace_id)`` around the call
and tags the Spark jobs started inside it with a job group named after the
layer.

Most layers build lazy plans that Spark pipelines into the stages of the
layer after them, so a wrapper around a frame-returning layer also forces
the layer's output with the noop sink, and its input if no earlier layer
forced it, and reports the difference: ``layer.s = t(force output) -
t(force input)``, likewise for every Spark counter.  These are the
"prefix-difference" layers listed in ``PREFIX_LAYERS``.  The others (sinks
and actions) are timed by their span.

Counters come from Spark's event log, enabled for the traced session only
through ``get_spark(extra_conf=...)``: task metrics summed per job group,
Python-worker byte counts from the SQL accumulators, and exchange / Python
node counts from each query's final adaptive plan.  Spans stay in memory
and are written to ``.perfbench_cache/trace-<workload>-<seed>.json`` when
the pass ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import shutil
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

import run as R
import workloads as W
from workloads import NAMED_LEAVES

PKG = "radio_data_curation_ssl_spark"
# (module, attribute, layer, forced): forced layers return a lazy frame and
# are measured by prefix difference; the others are timed by their span
PATCHES = (
    (f"{PKG}.sources.warc", "read_warc", "sources.warc", True),
    (f"{PKG}.operators.htmltext", "extract_docs_generic", "operators.htmltext", True),
    (f"{PKG}.plans.pipeline", "extract_score_scrub", "operators.fused", True),
    (f"{PKG}.plans.pipeline", "with_langid", "operators.langid", True),
    (f"{PKG}.plans.pipeline", "with_perplexity", "operators.perplexity", True),
    (f"{PKG}.plans.pipeline", "with_heuristics", "operators.decide", True),
    (f"{PKG}.plans.pipeline", "with_decision", "operators.decide", True),
    (f"{PKG}.plans.pipeline", "with_scrub", "operators.scrub", True),
    (f"{PKG}.plans.pipeline", "curate", "plans.pipeline", False),
    (f"{PKG}.plans.full_curation", "keep_first", "operators.firstwin", True),
    (f"{PKG}.plans.full_curation", "minhash_neardup_pairs", "operators.minhash", True),
    (f"{PKG}.plans.full_curation", "stratified_sample", "operators.sampling", True),
    (f"{PKG}.plans.full_curation", "curate_dedup_sample", "plans.full_curation", False),
    (f"{PKG}.plans.snapshots", "publish", "plans.snapshots", False),
    (f"{PKG}.operators.resume", "write_resumable", "operators.resume", False),
    (f"{PKG}.plans.runmeta:RunLog", "log_metrics", "plans.runmeta.log_metrics", False),
    (f"{PKG}.plans.runmeta:RunLog", "start", "plans.runmeta.manifest", False),
    (f"{PKG}.plans.runmeta:RunLog", "finish", "plans.runmeta.manifest", False),
)
PREFIX_LAYERS = sorted({layer for *_, layer, forced in PATCHES if forced})

SPARK_COUNTERS = (
    ("spark.tasks", "count"),
    ("spark.task_fixed_ms", "ms"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("spark.python_bytes_to_worker", "bytes"),
    ("spark.python_bytes_from_worker", "bytes"),
)

# the per-layer metrics of BENCHMARK.json, in its order; a layer that does
# not run in a workload reads zero there
PER_LAYER = (
    [
        ("session.start_s", "s"),
        ("sources.warc.s", "s"),
        ("sources.warc.records", "count"),
        ("sources.warc.bytes_in", "bytes"),
        ("operators.fused.s", "s"),
        ("operators.fused.rows", "count"),
        ("operators.fused.arrow_bytes_in", "bytes"),
        ("operators.fused.arrow_bytes_out", "bytes"),
        ("operators.htmltext.s", "s"),
        ("operators.langid.s", "s"),
        ("operators.perplexity.s", "s"),
        ("operators.decide.s", "s"),
        ("operators.scrub.s", "s"),
        ("modular.arrow_bytes_in", "bytes"),
        ("operators.firstwin.s", "s"),
        ("operators.firstwin.rows_dropped", "count"),
        ("operators.minhash.s", "s"),
        ("operators.minhash.candidate_pairs", "count"),
        ("operators.minhash.verified_pairs", "count"),
        ("operators.minhash.verify_yield", "ratio"),
        ("operators.sampling.s", "s"),
        ("operators.sampling.rows_out", "count"),
        ("plans.full_curation.materialize_s", "s"),
        ("plans.full_curation.work_bytes", "bytes"),
        ("plans.full_curation.persisted_bytes", "bytes"),
        ("plans.snapshots.publish_s", "s"),
        ("plans.snapshots.bytes", "bytes"),
        ("operators.resume.s", "s"),
        ("operators.resume.batches", "count"),
        ("operators.resume.files", "count"),
        ("operators.resume.bytes", "bytes"),
        ("operators.resume.kernel_passes", "count"),
        ("plans.runmeta.log_metrics_s", "s"),
        ("plans.runmeta.manifest_s", "s"),
    ]
    + list(SPARK_COUNTERS)
    + [
        ("proc.peak_rss_mb", "MiB"),
        ("trace.wall_s", "s"),
        ("trace.untraced_wall_s", "s"),
        ("trace.overhead", "ratio"),
    ]
)
# the registry's layers: registry_leaves is not among the BENCHMARK.json
# workloads, so only its traced run prints them, after PER_LAYER
QUERY_LAYERS = [(f"queries.{n}.s", "s") for n in NAMED_LEAVES] + [
    ("queries.other.s", "s"),
    ("queries.exchanges.roundrobin", "count"),
    ("queries.exchanges.hash", "count"),
    ("queries.python_nodes", "count"),
]

_PY_NODE = re.compile(r"Python|InPandas|InArrow")


# ---------------------------------------------------------------------------
# spans


class Tracer:
    """Spans and forced-frame bookkeeping of one traced operation."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.forced: dict[int, tuple] = {}  # id(frame) -> (frame, s, rows, group)
        self.layers: dict[str, dict] = {}
        self.persisted_peak = 0

    def _group(self, name: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", name)

    def _restore_group(self) -> None:
        """Back to the job group of the innermost open span."""
        self._group(self.stack[-1]["name"] if self.stack else None)

    @contextmanager
    def span(self, name: str):
        s = {
            "name": name,
            "id": len(self.spans),
            "parent": self.stack[-1]["id"] if self.stack else None,
            "trace_id": self.trace_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self.stack.append(s)
        self._group(name)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self.stack.pop()
            self._restore_group()
            self.persisted_peak = max(self.persisted_peak, self.persisted_bytes())

    def persisted_bytes(self) -> int:
        return sum(
            i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo()
        )

    def force(self, df, group: str) -> tuple[float, int]:
        """Noop-write ``df`` under ``group``: (seconds, rows)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"perfbench_{len(self.spans)}_{group}")
        self._group(group)
        try:
            t0 = time.perf_counter()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                "noop"
            ).mode("overwrite").save()
            return time.perf_counter() - t0, int(obs.get["rows"])
        finally:
            self._restore_group()

    def prefix(self, df, layer: str) -> tuple[float, int, str]:
        """(seconds, rows, group) of forcing ``df``: reused when an earlier
        layer forced this very frame, else measured here (once to fill any
        cache the plan reads, once timed)."""
        hit = self.forced.get(id(df))
        if hit is not None and hit[0] is df:
            return hit[1], hit[2], hit[3]
        self.force(df, f"{layer}#in-warm")
        s, rows = self.force(df, f"{layer}#in")
        return s, rows, f"{layer}#in"

    def layer(self, name: str) -> dict:
        return self.layers.setdefault(
            name, {"s": 0.0, "rows_in": 0, "rows_out": 0, "pairs": []}
        )


def _frames(args, kwargs):
    from pyspark.sql import DataFrame

    return [x for x in (*args, *kwargs.values()) if isinstance(x, DataFrame)]


def _wrap(tracer: Tracer, fn, layer: str, forced: bool):
    from pyspark.sql import DataFrame

    @functools.wraps(fn)
    def traced_call(*args, **kwargs):
        with tracer.span(layer) as sp:
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            call_s = time.perf_counter() - t0
            rec = tracer.layer(layer)
            if forced and isinstance(out, DataFrame):
                src = _frames(args, kwargs)
                t_in, rows_in, g_in = (
                    tracer.prefix(src[0], layer) if src else (0.0, 0, None)
                )
                g_out = f"{layer}#out{len(rec['pairs'])}"
                t_out, rows_out = tracer.force(out, g_out)
                tracer.forced[id(out)] = (out, t_out, rows_out, g_out)
                # plan building (and any eager action in it) plus the
                # forced difference
                rec["s"] += call_s + max(t_out - t_in, 0.0)
                rec["rows_in"] += rows_in
                rec["rows_out"] += rows_out
                rec["pairs"].append((g_out, g_in))
                if layer == "operators.minhash":
                    rec["candidates"] = _candidate_pairs(tracer, *args, **kwargs)
            elif not forced:
                rec.setdefault("calls", []).append(
                    {"args": args, "kwargs": kwargs, "out": out, "span": sp}
                )
        if not forced:
            rec["s"] += sp["end"] - sp["start"]
        return out

    return traced_call


def _candidate_pairs(tracer: Tracer, docs, text_col="text", threshold=0.5,
                     skip_exact_collapse=False) -> int:
    """LSH band-collision candidate pairs of the minhash operator, rebuilt
    from its public band function (the operator does not expose them)."""
    from pyspark.sql import functions as F

    from radio_data_curation_ssl_spark.operators.minhash import (
        collapse_exact_dups,
        signature_bands,
    )

    if not skip_exact_collapse:
        docs = collapse_exact_dups(docs, text_col)
    bands = signature_bands(docs, text_col)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
    )
    tracer._group("operators.minhash#candidates")
    try:
        return cand.count()
    finally:
        tracer._restore_group()


class Patch:
    """Swap each PATCHES target for its traced wrapper; restore on exit."""

    def __init__(self, tracer: Tracer):
        self.tracer, self.saved = tracer, []

    def __enter__(self):
        from pyspark.sql.readwriter import DataFrameWriter

        for mod, attr, layer, forced in PATCHES:
            modname, _, cls = mod.partition(":")
            owner = importlib.import_module(modname)
            if cls:
                owner = getattr(owner, cls)
            fn = owner.__dict__[attr]
            self.saved.append((owner, attr, fn))
            setattr(owner, attr, _wrap(self.tracer, fn, layer, forced))
        # count parquet writes per layer (commit batches, work_dir trips)
        orig = DataFrameWriter.parquet
        tracer = self.tracer

        def parquet(writer, *a, **k):
            for s in tracer.stack:
                s["writes"] = s.get("writes", 0) + 1
            return orig(writer, *a, **k)

        self.saved.append((DataFrameWriter, "parquet", orig))
        DataFrameWriter.parquet = parquet
        return self

    def __exit__(self, *exc):
        for owner, attr, fn in reversed(self.saved):
            setattr(owner, attr, fn)


# ---------------------------------------------------------------------------
# event log


class EventLog:
    """Task metrics, Python-worker bytes and final plans per job group."""

    def __init__(self, path: Path):
        self.stage_group: dict[int, str | None] = {}
        self.exec_group: dict[int, str | None] = {}
        self.plans: dict[int, dict] = {}
        self.tasks: list[tuple[str | None, dict]] = []
        pending = []
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    for s in e["Stage IDs"]:
                        self.stage_group.setdefault(s, g)
                    if "spark.sql.execution.id" in props:
                        self.exec_group.setdefault(
                            int(props["spark.sql.execution.id"]), g
                        )
                elif kind == "SparkListenerTaskEnd":
                    pending.append(e)
                elif kind.endswith(
                    ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
                ):
                    self.plans[int(e["executionId"])] = e["sparkPlanInfo"]
        for e in pending:
            self.tasks.append((self.stage_group.get(e["Stage ID"]), e))

    @staticmethod
    def _task_counters(e: dict) -> dict:
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        acc = {a.get("Name"): a.get("Update", 0) for a in info.get("Accumulables", [])}
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        duration = info["Finish Time"] - info["Launch Time"]
        return {
            "spark.tasks": 1,
            "spark.task_fixed_ms": max(
                duration - m.get("Executor Run Time", 0)
                - info.get("Getting Result Time", 0),
                0,
            ),
            "spark.executor_run_s": m.get("Executor Run Time", 0) / 1e3,
            "spark.executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "spark.gc_s": m.get("JVM GC Time", 0) / 1e3,
            "spark.shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
            "spark.shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
            + sr.get("Local Bytes Read", 0),
            "spark.shuffle_fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
            "spark.spill_bytes": m.get("Memory Bytes Spilled", 0)
            + m.get("Disk Bytes Spilled", 0),
            "spark.python_bytes_to_worker": int(acc.get("data sent to Python workers") or 0),
            "spark.python_bytes_from_worker": int(
                acc.get("data returned from Python workers") or 0
            ),
        }

    def counters(self, keep) -> dict:
        """Summed counters of the tasks whose job group passes ``keep``;
        task_fixed_ms is the mean per task."""
        tot = {k: 0 for k, _ in SPARK_COUNTERS}
        for g, e in self.tasks:
            if keep(g):
                for k, v in self._task_counters(e).items():
                    tot[k] += v
        if tot["spark.tasks"]:
            tot["spark.task_fixed_ms"] /= tot["spark.tasks"]
        return tot

    def group(self, g: str | None) -> dict:
        """Counters of one job group; zeros for None (a layer whose input
        needed no forcing)."""
        return self.counters(lambda x: g is not None and x == g)

    def plan_counts(self, keep) -> dict:
        """Exchange and Python node counts over the final plans of the SQL
        executions whose job group passes ``keep``."""
        out = {"roundrobin": 0, "hash": 0, "python": 0}

        def walk(node):
            name, s = node.get("nodeName", ""), node.get("simpleString", "")
            if name == "Exchange":
                if "RoundRobinPartitioning" in s:
                    out["roundrobin"] += 1
                elif "hashpartitioning" in s:
                    out["hash"] += 1
            if _PY_NODE.search(name):
                out["python"] += 1
            for c in node.get("children", []):
                walk(c)

        for ex, g in self.exec_group.items():
            if keep(g) and ex in self.plans:
                walk(self.plans[ex])
        return out


def _diff(a: dict, b: dict) -> dict:
    return {k: a[k] - b.get(k, 0) for k in a}


# ---------------------------------------------------------------------------
# traced pass


def _self_time(spans: list[dict], name: str) -> float:
    total = 0.0
    for s in spans:
        if s["name"] == name:
            kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["id"])
            total += s["end"] - s["start"] - kids
    return total


def traced(args, cache: Path):
    log_dir = cache / "eventlog" / f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    log_dir.mkdir(parents=True)
    wl = R.make_workload(args.workload, args.seed, args.plant_wrong_digest)
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }
    spark, start_s = R.timed_session_start(args.workload, conf)
    sc = spark.sparkContext
    app_id = sc.applicationId
    registry = args.workload == "registry_leaves"
    problems: list[str] = []
    attempted = failed = 0
    tracer = Tracer(spark)
    try:
        sc.setLocalProperty("spark.jobGroup.id", "untraced")
        if registry:
            # the timed sweep's leaves, untraced and warm, measured as the
            # untraced sweep measures them; the traced pass below times
            # them again among all 52
            wl.warm(spark)
            untraced = sum(wl.force(spark, name)[0] for name in wl.names)
        else:
            wl.run()  # cold
            untraced = wl.run()[0]  # warm
        R.log(f"untraced pass done ({untraced:.2f} s)")
        sampler = R.RssSampler()
        sampler.start()
        if registry:
            wall = 0.0  # over the timed sweep's leaves
            for name in wl.all_names:
                attempted += 1
                with tracer.span(f"queries.{name}") as sp:
                    w, rows, digest = wl.force(spark, name)
                sp["wall"] = w
                if name in wl.names:
                    wall += w
                p = wl.check(name, rows, digest)
                failed += bool(p)
                problems += p
        else:
            attempted += 1
            with Patch(tracer), tracer.span(f"job.{args.workload}"):
                wall, out_bytes, p = wl.run(keep=True)
            failed += bool(p)
            problems += p
        peak = sampler.stop()
        R.log(f"traced pass done ({wall:.2f} s)")
        if not failed:
            wl.recorded.save_if_new(wl.observed_values())
    finally:
        spark.stop()
    ev = EventLog(log_dir / app_id)
    shutil.rmtree(log_dir)  # the trace file below keeps what was read
    metrics = {k: (0.0, u) for k, u in PER_LAYER + (QUERY_LAYERS if registry else [])}

    def put(k, v):
        metrics[k] = (float(v), metrics[k][1])

    put("session.start_s", start_s)
    L = tracer.layers

    def layer_counters(name: str) -> dict:
        tot: dict = {}
        for g_out, g_in in L.get(name, {}).get("pairs", []):
            for k, v in _diff(ev.group(g_out), ev.group(g_in)).items():
                tot[k] = tot.get(k, 0) + v
        return tot

    for name in PREFIX_LAYERS:
        if name in L:
            put(f"{name}.s", L[name]["s"])
    if "sources.warc" in L:
        put("sources.warc.records", L["sources.warc"]["rows_out"])
        put("sources.warc.bytes_in", wl.meta["warc_bytes"])
    if "operators.fused" in L:
        c = layer_counters("operators.fused")
        put("operators.fused.rows", L["operators.fused"]["rows_out"])
        put("operators.fused.arrow_bytes_in", c["spark.python_bytes_to_worker"])
        put("operators.fused.arrow_bytes_out", c["spark.python_bytes_from_worker"])
    put(
        "modular.arrow_bytes_in",
        sum(
            layer_counters(n).get("spark.python_bytes_to_worker", 0)
            for n in ("operators.langid", "operators.perplexity", "operators.scrub")
        ),
    )
    if "operators.firstwin" in L:
        f = L["operators.firstwin"]
        put("operators.firstwin.rows_dropped", f["rows_in"] - f["rows_out"])
    if "operators.minhash" in L:
        m = L["operators.minhash"]
        put("operators.minhash.candidate_pairs", m["candidates"])
        put("operators.minhash.verified_pairs", m["rows_out"])
        put(
            "operators.minhash.verify_yield",
            m["rows_out"] / m["candidates"] if m["candidates"] else 0.0,
        )
    if "operators.sampling" in L:
        put("operators.sampling.rows_out", L["operators.sampling"]["rows_out"])
    if "plans.full_curation" in L:
        put("plans.full_curation.materialize_s", _self_time(tracer.spans, "plans.full_curation"))
        work = wl.last_out / "_work"
        put("plans.full_curation.work_bytes", W.parquet_bytes(work) if work.exists() else 0)
        put("plans.full_curation.persisted_bytes", tracer.persisted_peak)
    if "plans.snapshots" in L:
        put("plans.snapshots.publish_s", L["plans.snapshots"]["s"])
        put("plans.snapshots.bytes", out_bytes)
    if "operators.resume" in L:
        r = L["operators.resume"]
        call = r["calls"][-1]
        out_dir = Path(call["args"][1] if len(call["args"]) > 1 else call["kwargs"]["out_dir"])
        put("operators.resume.s", r["s"])
        put("operators.resume.batches", call["span"].get("writes", 0))
        put("operators.resume.files", len(list(out_dir.rglob("*.parquet"))))
        put("operators.resume.bytes", out_bytes)
        # every fused-kernel execution of the traced job (the commit
        # batches, the metrics pass, ...): the Python-worker bytes of all
        # its job groups except the forcing ones ("#"), over one forced pass
        fused_bytes = layer_counters("operators.fused").get("spark.python_bytes_to_worker", 0)
        job_bytes = ev.counters(
            lambda g: g is not None and g != "untraced" and "#" not in g
        )["spark.python_bytes_to_worker"]
        put("operators.resume.kernel_passes", job_bytes / fused_bytes if fused_bytes else 0)
    if "plans.runmeta.log_metrics" in L:
        put("plans.runmeta.log_metrics_s", L["plans.runmeta.log_metrics"]["s"])
    if "plans.runmeta.manifest" in L:
        put("plans.runmeta.manifest_s", L["plans.runmeta.manifest"]["s"])
    if registry:
        other = 0.0
        for s in tracer.spans:
            leaf = s["name"].removeprefix("queries.")
            if leaf in NAMED_LEAVES:
                put(f"queries.{leaf}.s", s["wall"])
            else:
                other += s["wall"]
        put("queries.other.s", other)
        pc = ev.plan_counts(lambda g: bool(g) and g.startswith("queries."))
        put("queries.exchanges.roundrobin", pc["roundrobin"])
        put("queries.exchanges.hash", pc["hash"])
        put("queries.python_nodes", pc["python"])
    totals = ev.counters(lambda g: g is not None and g != "untraced")
    for k, _ in SPARK_COUNTERS:
        put(k, totals[k])
    put("proc.peak_rss_mb", peak / 2**20)
    put("trace.wall_s", wall)
    put("trace.untraced_wall_s", untraced)
    put("trace.overhead", wall / untraced if untraced else 0.0)

    groups = sorted({g for g, _ in ev.tasks if g})
    dump = {
        "workload": args.workload,
        "seed": args.seed,
        "trace_id": tracer.trace_id,
        "prefix_difference_layers": PREFIX_LAYERS,
        "spans": [
            {k: v for k, v in s.items() if k in ("name", "id", "parent", "trace_id", "start", "end", "writes", "wall")}
            for s in tracer.spans
        ],
        "groups": {g: ev.group(g) for g in groups},
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    out = cache / f"trace-{args.workload}-{args.seed}.json"
    out.write_text(json.dumps(dump, indent=1, default=str))
    if not registry:
        shutil.rmtree(wl.work, ignore_errors=True)
    extra = [("spans", len(tracer.spans), "count")]
    return metrics, attempted, failed, problems, extra
