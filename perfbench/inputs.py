"""Inputs for the three workloads.

The job inputs are a pure function of the seed, cached by (workload, seed,
size):

- ``curate_contract``: synthetic pages (``synth.synth_pandas`` rows) written
  as several parquet files so the scan splits across cores, plus the
  row-at-a-time oracle's (``oracle.curate_pandas``) decision and scrubbed
  text for a fixed subset of the pages.
- ``crawl_flow``: member-gzip WARC files (Common Crawl layout, records
  encoded by ``sources.warc._record``, the encoder ``write_warc`` uses)
  holding synthetic pages plus planted exact recaptures (same html, new
  url) and near-duplicates (a few words edited).

``registry_leaves`` reads the fixed sf0.1 test tables that ``bench.py``
reads by default, copied byte for byte into ``sf0.1/`` (the seven tables
the ``bench=True`` queries read); the seed varies nothing there.  The
DuckDB oracle row count of each timed leaf is computed once per checkout
and cached.

Generation is never timed.  Each cache entry stores a digest of its files
and is re-verified on every invocation, as are the sf0.1 tables against
``sf0.1/SHA256SUMS``; a canary (a few generated rows, hashed) is compared
with ``canary.json`` so that a change to the program's generators
(``synth.py``, the WARC record encoder) fails loudly instead of quietly
shifting the numbers.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import shutil
from datetime import timezone
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
CANARY_FILE = HERE / "canary.json"
SF_DIR = HERE / "sf0.1"

# input sizes: small enough that a run fits the time budget on 4 cores,
# large enough that per-row work is visible next to per-stage fixed cost
SIZES = {
    "curate_contract": {"pages": 4000, "files": 8},
    "crawl_flow": {
        "pages": 3000,
        "files": 8,
        "exact_share": 0.10,
        "near_share": 0.10,
        "sample_target": 800,
    },
}

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


# the registry leaves the timed sweep runs: one of the slowest on 4 cores at
# sf0.1, the one whose plan puts a round-robin exchange right before a hash
# exchange (ROADMAP item 1), and a cheap GEMM + exact-fold leaf (ROADMAP
# item 2).  A sweep of all 52 takes about a minute on 4 cores; the traced
# pass runs all of them.
TIMED_LEAVES = (
    "ann_lsh_buckets",
    "ppl_stupid_backoff",
    "mirror_host_clusters",
)


class InputError(RuntimeError):
    """The inputs on disk do not match what the generators should make."""


def _hash_files(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file() and p.name not in ("digest.json", "recorded.json"):
            h.update(str(p.relative_to(root)).encode())
            h.update(b"\0")
            h.update(p.read_bytes())
    return h.hexdigest()


def row_digest(urls, texts) -> str:
    """Order-independent digest of (url, text) rows: the sum mod 2^64 of a
    64-bit blake2b of each row, as 16 hex digits."""
    total = 0
    for u, t in zip(urls, texts):
        d = hashlib.blake2b(
            f"{u}\0{t}".encode("utf-8", "surrogatepass"), digest_size=8
        ).digest()
        total = (total + int.from_bytes(d, "little")) & 0xFFFFFFFFFFFFFFFF
    return f"{total:016x}"


# ---------------------------------------------------------------------------
# generators


def _pages(n: int, seed: int) -> pd.DataFrame:
    from radio_data_curation_ssl_spark.synth import synth_pandas

    return synth_pandas(np.arange(n, dtype=np.uint64), seed=seed)


def _write_pages(df: pd.DataFrame, out: Path, files: int) -> None:
    out.mkdir(parents=True)
    df = df.assign(warc_ts=df["warc_ts"].dt.tz_localize("UTC"))
    for k, part in enumerate(np.array_split(np.arange(len(df)), files)):
        table = pa.Table.from_pandas(
            df.iloc[part].reset_index(drop=True),
            schema=PAGES_ARROW_SCHEMA,
            preserve_index=False,
        )
        pq.write_table(table, out / f"part-{k:05d}.parquet")


def _warc_member(url: str, ts, html: bytes) -> bytes:
    from radio_data_curation_ssl_spark.sources.warc import _record

    # mtime=0: byte-identical members for identical records
    return gzip.compress(_record(url, ts, html), mtime=0)


def _html(text: str) -> bytes:
    from radio_data_curation_ssl_spark.synth import HTML_POST, HTML_PRE

    return HTML_PRE + b"<p>" + text.encode("utf-8") + b"</p>" + HTML_POST


def crawl_records(seed: int, size: dict) -> tuple[pd.DataFrame, dict]:
    """Synthetic pages plus planted duplicates, in crawl order.  Returns
    the records and the planted groups (lists of urls that must not both
    survive the flow's dedup tiers)."""
    from radio_data_curation_ssl_spark.synth import VOCAB

    base = _pages(size["pages"], seed)
    rng = np.random.default_rng([seed, 7])
    n = len(base)
    exact_src = rng.choice(n, int(n * size["exact_share"]), replace=False)
    clean = np.flatnonzero(base["url"].str.contains("/clean/").to_numpy())
    near_src = rng.choice(clean, int(n * size["near_share"]), replace=False)
    extra, groups_exact, groups_near = [], [], []
    vocab = VOCAB["en"]
    for j, i in enumerate(exact_src):
        r = base.iloc[i]
        url = r.url.replace(".example.org/", f".mirror{j % 17:02d}.example.net/")
        extra.append((url, r.warc_ts + pd.Timedelta(days=1), r.html, r.text, r.lang))
        groups_exact.append([r.url, url])
    for j, i in enumerate(near_src):
        r = base.iloc[i]
        words = r.text.split()
        for p in rng.choice(len(words), 2, replace=False):
            words[p] = vocab[(vocab.index(words[p]) + 1) % len(vocab)] if words[
                p
            ] in vocab else vocab[0]
        text = " ".join(words)
        url = r.url + "-v2"
        extra.append((url, r.warc_ts + pd.Timedelta(days=2), _html(text), text, r.lang))
        groups_near.append([r.url, url])
    recs = pd.concat(
        [base, pd.DataFrame(extra, columns=base.columns)], ignore_index=True
    )
    # interleave the planted copies with the originals, deterministically
    recs = recs.iloc[rng.permutation(len(recs))].reset_index(drop=True)
    return recs, {"exact": groups_exact, "near": groups_near}


def _write_warc(recs: pd.DataFrame, out: Path, files: int) -> int:
    out.mkdir(parents=True)
    for k, part in enumerate(np.array_split(np.arange(len(recs)), files)):
        with open(out / f"part-{k:05d}.warc.gz", "wb") as f:
            for r in recs.iloc[part].itertuples(index=False):
                ts = r.warc_ts.to_pydatetime().replace(tzinfo=timezone.utc)
                f.write(_warc_member(r.url, ts, r.html))
    return sum(p.stat().st_size for p in out.iterdir())


# ---------------------------------------------------------------------------
# canary


def canary() -> dict:
    """Digests of a few rows from each program generator the benchmark
    uses; compared with ``canary.json`` on every invocation."""
    pages = _pages(64, 12345)
    h_pages = hashlib.sha256()
    for r in pages.itertuples(index=False):
        h_pages.update(
            f"{r.url}\0{r.warc_ts.value}\0{r.text}\0{r.lang}\0".encode() + r.html
        )
    h_warc = hashlib.sha256()
    for r in pages.head(8).itertuples(index=False):
        ts = r.warc_ts.to_pydatetime().replace(tzinfo=timezone.utc)
        h_warc.update(_warc_member(r.url, ts, r.html))
    return {"synth_pandas": h_pages.hexdigest(), "warc_record": h_warc.hexdigest()}


def check_canary() -> None:
    want = json.loads(CANARY_FILE.read_text())
    got = canary()
    bad = [k for k in want if want[k] != got.get(k)]
    if bad:
        raise InputError(
            f"input generator output changed for {bad}: the benchmark inputs "
            "would differ from the recorded ones; re-record canary.json and "
            "expected.json on purpose if the change is intended"
        )


# ---------------------------------------------------------------------------
# cache


def _oracle_sample(pages: pd.DataFrame) -> dict:
    """Row-at-a-time oracle (``oracle.curate_pandas``) on a fixed 1-in-16
    subset of the pages, picked by url hash: url -> scrubbed text for kept
    pages, None for dropped ones.  The whole corpus would take minutes."""
    from radio_data_curation_ssl_spark.oracle import curate_pandas

    pick = [
        hashlib.blake2b(u.encode(), digest_size=2).digest()[0] % 16 == 0
        for u in pages["url"]
    ]
    o = curate_pandas(pages[pick])
    return {
        u: (t if k else None)
        for u, k, t in zip(o["url"], o["keep"], o["text_scrubbed"])
    }


def _registry_oracle_rows(tables_dir: Path) -> dict[str, int]:
    """DuckDB row count of the oracle SQL of each timed leaf (all 52 would
    take DuckDB several minutes at sf0.1)."""
    import duckdb

    from radio_data_curation_ssl_spark.queries import REGISTRY, TABLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            if (tables_dir / f"{t}.parquet").exists():
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'"
                )
        return {
            name: int(con.execute(f"SELECT count(*) FROM ({q.oracle})").fetchone()[0])
            for name, q in REGISTRY.items()
            if name in TIMED_LEAVES and q.oracle is not None
        }
    finally:
        con.close()


def _build(workload: str, seed: int, size: dict, d: Path) -> dict:
    """Generate one cache entry into ``d``; returns its metadata."""
    if workload == "curate_contract":
        pages = _pages(size["pages"], seed)
        _write_pages(pages, d / "pages", size["files"])
        return {"docs_in": int(len(pages)), "oracle_sample": _oracle_sample(pages)}
    if workload == "crawl_flow":
        recs, groups = crawl_records(seed, size)
        warc_bytes = _write_warc(recs, d / "warc", size["files"])
        (d / "groups.json").write_text(json.dumps(groups))
        return {"records": int(len(recs)), "warc_bytes": int(warc_bytes)}
    if workload == "registry_leaves":
        docs = pq.ParquetFile(SF_DIR / "documents.parquet").metadata.num_rows
        return {"documents": docs, "oracle_rows": _registry_oracle_rows(SF_DIR)}
    raise ValueError(workload)


def sf_tables_digest() -> str:
    """Verify every sf0.1 table against ``SHA256SUMS``; return the digest of
    the sums file, which names the table set."""
    sums = (SF_DIR / "SHA256SUMS").read_text()
    for line in sums.splitlines():
        want, name = line.split()
        if hashlib.sha256((SF_DIR / name).read_bytes()).hexdigest() != want:
            raise InputError(f"{SF_DIR / name} does not match SHA256SUMS")
    return hashlib.sha256(sums.encode()).hexdigest()


def prepare(
    cache: Path, workload: str, seed: int
) -> tuple[Path, dict]:
    """Return (entry dir, metadata) for the inputs of (workload, seed,
    size), generating them on first use and verifying their digest on
    every use.  The registry
    entry depends on the sf0.1 table set only, not on the seed."""
    if workload == "registry_leaves":
        size, tag = {"sf0.1": sf_tables_digest()}, "sf0.1"
    else:
        size, tag = SIZES[workload], f"s{seed}"
    key = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()[:10]
    d = cache / "inputs" / f"{workload}-{tag}-{key}"
    meta_file = d / "digest.json"
    if not meta_file.exists():
        tmp = d.with_name(d.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        meta = _build(workload, seed, size, tmp)
        meta["input_digest"] = _hash_files(tmp)
        meta["size"] = size
        (tmp / "digest.json").write_text(json.dumps(meta, indent=1))
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    meta = json.loads(meta_file.read_text())
    got = _hash_files(d)
    if got != meta["input_digest"]:
        raise InputError(
            f"cached inputs under {d} changed on disk "
            f"({got[:12]} != {meta['input_digest'][:12]})"
        )
    return d, meta
