"""The three workloads: one timed operation each, plus its output check.

- ``curate_contract``: ``jobs/run_curation.py::main`` on a parquet pages
  table at the job's default bucket settings.
- ``crawl_flow``: the same job on member-gzip WARC files with
  ``--generic-extract --sample-target``.
- ``registry_leaves``: bench registry leaves forced with the noop sink on
  the sf0.1 tables (``TIMED_LEAVES`` when timed, every bench leaf when
  traced).

An operation is one job run or one registry query.  Each returns a list of
problems; an empty list means its outputs are correct.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import time
from pathlib import Path

import pyarrow.dataset as ds

import inputs
from inputs import TIMED_LEAVES

HERE = Path(__file__).resolve().parent

# the registry leaves the traced pass reports one by one; it runs every
# bench leaf and sums the others into queries.other.s
NAMED_LEAVES = (
    "ppl_stupid_backoff",
    "paragraph_dedup_fuzzy",
    "semdedup_prune",
    "mirror_host_clusters",
    "bloom_incremental_url_dedup",
    "containment_partial_dup",
    "corpus_budgets",
    "dedup_minhash_calibrated",
    "dedup_simhash_pairs",
    "embedding_neardup_lsh",
    "image_dhash_neardup",
    "ann_lsh_buckets",
    "ann_lsh_topk",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "quality_scores",
)

EXPECTED_FILE = HERE / "expected.json"


def parquet_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*.parquet"))


def read_rows(root: Path, cols: list[str]):
    """Committed parquet rows under ``root`` (hive bucket dirs allowed)."""
    files = sorted(str(p) for p in root.rglob("*.parquet"))
    return ds.dataset(files, format="parquet").to_table(columns=cols)


def call_job(argv: list[str]) -> dict:
    """Run the curation job in this process (it reuses the active session)
    and return the JSON summary it prints."""
    from jobs import run_curation

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = run_curation.main(argv)
    if rc != 0:
        raise RuntimeError(f"run_curation exited with {rc}")
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    return json.loads(lines[-1])


class Recorded:
    """Output values recorded for (workload, input): from ``expected.json``
    when the input (a seed, or ``sf0.1`` for the registry) is listed there,
    else from the input cache entry, where the first clean invocation on
    that input writes them."""

    def __init__(self, workload: str, key: str, entry: Path, plant_key: str | None):
        self.file = entry / "recorded.json"
        committed = json.loads(EXPECTED_FILE.read_text()).get(workload, {})
        self.values = committed.get(key)
        self.source = "expected.json"
        if self.values is None and self.file.exists():
            self.values = json.loads(self.file.read_text())
            self.source = "cache"
        # the one value recorded wrong on purpose, to show the check fires
        self.plant_key = plant_key

    def compare(self, key: str, got) -> list[str]:
        source = self.source
        if key == self.plant_key:
            want, source = "planted-wrong", "planted"
        elif self.values is None or key not in self.values:
            return []
        else:
            want = self.values[key]
        if got != want:
            return [f"{key}: got {got!r}, recorded ({source}) {want!r}"]
        return []

    def save_if_new(self, observed: dict) -> None:
        if self.values is None and self.plant_key is None:
            self.file.write_text(json.dumps(observed, indent=1, sort_keys=True))


class JobWorkload:
    """A workload whose operation is one ``run_curation.main`` call with a
    fresh output dir and run root (a repeated one makes the job a no-op)."""

    def __init__(self, entry: Path, meta: dict, recorded: Recorded, work: Path):
        self.entry, self.meta, self.recorded, self.work = entry, meta, recorded, work
        self.k = 0
        self.observed: dict | None = None

    def _dirs(self) -> tuple[Path, Path]:
        self.k += 1
        d = self.work / f"run-{self.k}"
        shutil.rmtree(d, ignore_errors=True)
        return d / "out", d / "meta"

    def run(self, keep: bool = False) -> tuple[float, int, list[str]]:
        """One timed job call: (wall seconds, bytes committed, problems).
        The output is deleted after the check unless ``keep``."""
        out, meta = self._dirs()
        self.last_out = out
        argv = self.argv(out, meta)
        t0 = time.perf_counter()
        res = call_job(argv)
        wall = time.perf_counter() - t0
        problems, out_bytes, observed = self.check(res, out)
        problems += self._consistent(observed)
        if not keep:
            shutil.rmtree(out.parent, ignore_errors=True)
        return wall, out_bytes, problems

    def warm(self, spark) -> list[str]:
        return self.run()[2]

    def observed_values(self) -> dict | None:
        return self.observed

    def _consistent(self, observed: dict) -> list[str]:
        """Every run of one invocation must produce the same outputs."""
        problems = []
        for k, v in observed.items():
            problems += self.recorded.compare(k, v)
        if self.observed is None:
            self.observed = observed
        elif observed != self.observed:
            problems.append("outputs differ between runs of one invocation")
        return problems


class CurateContract(JobWorkload):
    name = "curate_contract"
    buckets = 64  # the job's default --buckets

    @property
    def docs(self) -> int:
        return self.meta["docs_in"]

    def argv(self, out: Path, meta: Path) -> list[str]:
        return [
            "--input", str(self.entry / "pages"),
            "--output", str(out),
            "--run-root", str(meta),
        ]

    def check(self, res: dict, out: Path) -> tuple[list[str], int, dict]:
        p: list[str] = []
        if res.get("buckets_written") != self.buckets:
            p.append(f"buckets_written={res.get('buckets_written')} (skipped run?)")
        if res["docs_in"] != self.docs:
            p.append(f"docs_in={res['docs_in']} != {self.docs}")
        if sum(res["drop_reasons"].values()) + res["docs_out"] != res["docs_in"]:
            p.append("drop reasons + docs_out != docs_in")
        rows = read_rows(out, ["url", "text_scrubbed"]).to_pydict()
        got = dict(zip(rows["url"], rows["text_scrubbed"]))
        if len(got) != len(rows["url"]) or len(got) != res["docs_out"]:
            p.append(f"{len(rows['url'])} committed rows, docs_out={res['docs_out']}")
        wrong = [
            u for u, t in self.meta["oracle_sample"].items() if got.get(u) != t
        ]
        if wrong:
            p.append(f"{len(wrong)} sampled pages differ from the oracle: {wrong[:2]}")
        observed = {
            "docs_out": res["docs_out"],
            "drop_reasons": res["drop_reasons"],
            "digest": inputs.row_digest(rows["url"], rows["text_scrubbed"]),
        }
        return p, parquet_bytes(out), observed


class CrawlFlow(JobWorkload):
    name = "crawl_flow"

    @property
    def docs(self) -> int:
        return self.meta["records"]

    def argv(self, out: Path, meta: Path) -> list[str]:
        return [
            "--input-warc", str(self.entry / "warc"),
            "--generic-extract",
            "--sample-target", str(self.meta["size"]["sample_target"]),
            "--output", str(out),
            "--run-root", str(meta),
        ]

    def check(self, res: dict, out: Path) -> tuple[list[str], int, dict]:
        p: list[str] = []
        if res.get("skipped") or res.get("sample_snapshot_version") != 1:
            p.append("the run skipped its work (idempotent re-run)")
        if res["docs_in"] != self.docs:
            p.append(f"docs_in={res['docs_in']} != {self.docs}")
        sample = out / "sample" / "v1"
        rows = read_rows(sample, ["url", "text_scrubbed"]).to_pydict()
        urls = set(rows["url"])
        n = len(rows["url"])
        if n != res["sample_rows"] or len(urls) != n:
            p.append(f"{n} published rows ({len(urls)} urls), job says {res['sample_rows']}")
        if not 0 < n <= self.meta["size"]["sample_target"]:
            p.append(f"sample size {n} outside (0, target]")
        groups = json.loads((self.entry / "groups.json").read_text())
        for tier, gs in groups.items():
            both = sum(1 for g in gs if len(urls.intersection(g)) > 1)
            if both:
                p.append(f"{both} planted {tier} duplicate groups survived twice")
        observed = {
            "docs_out": res["docs_out"],
            "drop_reasons": res["drop_reasons"],
            "sample_rows": res["sample_rows"],
            "digest": inputs.row_digest(rows["url"], rows["text_scrubbed"]),
        }
        return p, parquet_bytes(sample), observed


def _digest_expr(df):
    """(row count, order-independent 64-bit digest) aggregate over every
    column.  Floating values are hashed at float32 precision so that a
    different summation order in an aggregate cannot flip the digest."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = c.cast("float")
        elif isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, (T.DoubleType, T.FloatType)
        ):
            c = F.transform(c, lambda x: x.cast("float"))
        cols.append(c)
    return F.count(F.lit(1)).alias("rows"), F.sum(F.xxhash64(*cols)).alias("digest")


class RegistryLeaves:
    """One operation per bench query; one sweep forces each timed leaf once,
    in registry order, with the noop sink.  The row count and digest are
    observed during that same execution."""

    name = "registry_leaves"

    def __init__(self, entry: Path, meta: dict, recorded: Recorded):
        from radio_data_curation_ssl_spark.queries import REGISTRY

        self.tables = str(inputs.SF_DIR)
        self.meta, self.recorded = meta, recorded
        self.all_names = [n for n, q in REGISTRY.items() if q.bench]
        self.names = [n for n in self.all_names if n in TIMED_LEAVES]
        self.registry = REGISTRY
        self.observed: dict = {}

    @property
    def docs(self) -> int:
        return self.meta["documents"] * len(self.names)

    def force(self, spark, name: str) -> tuple[float, int, str]:
        """Build and force one query (timed, as bench.py times it):
        (seconds, rows, digest)."""
        from pyspark.sql import Observation

        t0 = time.perf_counter()
        df = self.registry[name].spark(spark, self.tables)
        obs = Observation(f"perfbench_{name}")
        df.observe(obs, *_digest_expr(df)).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.perf_counter() - t0
        got = obs.get
        return wall, int(got["rows"]), f"{(got['digest'] or 0) & (2**64 - 1):016x}"

    WARM_FORCINGS = 2  # a leaf's second forcing is still slower than later ones

    def warm(self, spark) -> list[str]:
        """Force each timed leaf WARM_FORCINGS times, untimed: this pays the
        leaf's one-time costs (codegen, Python-worker imports).  Checked
        against the DuckDB row counts; the timed forcings check the
        recorded digests too."""
        p = []
        for name in self.names:
            for _ in range(self.WARM_FORCINGS):
                p += self._oracle(name, self.force(spark, name)[1])
        return p

    def _oracle(self, name: str, rows: int) -> list[str]:
        want = self.meta["oracle_rows"].get(name)
        if want is not None and rows != want:
            return [f"{name}: {rows} rows, DuckDB oracle {want}"]
        return []

    def check(self, name: str, rows: int, digest: str) -> list[str]:
        p = self._oracle(name, rows)
        observed = {"rows": rows, "digest": digest}
        for k, v in observed.items():
            p += self.recorded.compare(f"{name}.{k}", v)
        prev = self.observed.setdefault(name, observed)
        if prev != observed:
            p.append(f"{name}: outputs differ between sweeps of one invocation")
        return p

    def observed_values(self) -> dict:
        return {
            f"{n}.{k}": v for n, o in self.observed.items() for k, v in o.items()
        }
