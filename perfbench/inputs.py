"""Seeded benchmark inputs, generated before any timing starts and cached
on disk by (kind, size, seed) under ``perfbench/.cache``.

Two input sets:

- ``pages``: the synthetic Common-Crawl-style pages corpus from
  ``sketchlib.io.fixtures.generate_pages`` plus a ``doc_id`` column.
- ``sf``: a TPC-H-ish star schema at scale factor 0.1 (``documents``,
  ``events``, ``orders``, ``lineitem``) with the column layout the
  query catalog reads, generated here so the benchmark needs no data
  outside its checkout. Row counts, value ranges, skew, the
  near-duplicate rule and the one-row-group file layout follow the
  repository's sf0.1 fixture tables; ``sfstats.py`` prints the
  comparison (see README.md).

Every input carries a digest of its Arrow content, so a change to a
generator shows up as a new input, not as a speed change.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")
KEEP_ENTRIES = 24  # cached input sets kept (about 1.2 GB); older ones are pruned

PAGES_ROWS = 100_000
SF_ROWS = {"documents": 5_000, "events": 100_000, "orders": 150_000,
           "lineitem": 600_000}

DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
DOC_VOCAB = ["spark", "window", "merge", "table", "column", "vector",
             "stream", "value", "data", "small", "join", "filter", "big",
             "group", "hash", "customer", "sort", "order", "slow", "line",
             "part", "fast", "row", "the", "agg", "key", "query", "a",
             "scan", "batch"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def table_digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over the Arrow IPC stream of each table, in name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def _rng(seed: int, name: str) -> np.random.Generator:
    import zlib
    return np.random.default_rng(
        np.random.SeedSequence([seed, zlib.crc32(name.encode())]))


def gen_pages(n_rows: int, seed: int) -> dict[str, pa.Table]:
    from sketchlib.io.fixtures import generate_pages
    t = generate_pages(n_rows, seed=seed)
    return {"pages": t.append_column(
        "doc_id", pa.array(np.arange(n_rows, dtype=np.int64)))}


def gen_sf(seed: int) -> dict[str, pa.Table]:
    n = SF_ROWS["documents"]
    r = _rng(seed, "documents")
    lang = np.array(DOC_LANGS, dtype=object)[
        r.choice(len(DOC_LANGS), size=n, p=DOC_LANG_WEIGHTS)]
    n_tok = r.integers(10, 100, size=n)
    words = np.array(DOC_VOCAB, dtype=object)[
        r.integers(0, len(DOC_VOCAB), size=int(n_tok.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_tok)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # near-duplicates: 5% of docs take the text of a random doc of any
    # lang plus " dup"; two of them that copy the same donor are exact
    # duplicates, often across langs
    for i in r.choice(n, size=n // 20, replace=False):
        text[i] = text[int(r.integers(0, n))] + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })

    n = SF_ROWS["events"]
    r = _rng(seed, "events")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(t0 + np.sort(r.integers(0, 30 * 86_400 * 10**6, size=n))
                       .astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, size=n)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[
            r.integers(0, len(EVENT_TYPES), size=n)], pa.string()),
        "value": pa.array(np.round(r.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, size=n)],
                          pa.string()),
    })

    n = SF_ROWS["orders"]
    r = _rng(seed, "orders")
    d0 = np.datetime64("1995-01-01", "D")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, 15_000, size=n)),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"], dtype=object)[
            r.integers(0, 3, size=n)], pa.string()),
        "o_totalprice": pa.array(np.round(r.uniform(1000, 500_000, size=n), 2)),
        "o_orderdate": pa.array((d0 + r.integers(0, 2405, size=n)
                                 .astype("timedelta64[D]")).astype("datetime64[us]"),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES, dtype=object)[
            r.integers(0, len(PRIORITIES), size=n)], pa.string()),
    })

    n = SF_ROWS["lineitem"]
    r = _rng(seed, "lineitem")
    lineitem = pa.table({
        "l_orderkey": pa.array(r.integers(0, SF_ROWS["orders"], size=n)),
        "l_partkey": pa.array(r.integers(0, 20_000, size=n)),
        "l_suppkey": pa.array(r.integers(0, 1_000, size=n)),
        "l_linenumber": pa.array(r.integers(1, 8, size=n).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(900, 105_000, size=n), 2)),
        "l_discount": pa.array(r.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[
            r.integers(0, 3, size=n)], pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[
            r.integers(0, 2, size=n)], pa.string()),
        "l_shipdate": pa.array((np.datetime64("1995-01-02", "D")
                                + r.integers(0, 2499, size=n)
                                .astype("timedelta64[D]")).astype("datetime64[us]"),
                               pa.timestamp("us")),
    })
    return {"documents": documents, "events": events, "orders": orders,
            "lineitem": lineitem}


def _prune(keep: str) -> None:
    entries = [os.path.join(CACHE_DIR, d) for d in os.listdir(CACHE_DIR)]
    entries = sorted((e for e in entries if os.path.isdir(e) and e != keep),
                     key=os.path.getmtime)
    for e in entries[:max(0, len(entries) - (KEEP_ENTRIES - 1))]:
        shutil.rmtree(e, ignore_errors=True)


def _generator_version() -> str:
    """Hash of the generators' source, so a changed generator never
    reuses a cached input."""
    from sketchlib.io import fixtures
    src = inspect.getsource(fixtures) + inspect.getsource(gen_sf) + repr(SF_ROWS)
    return hashlib.sha256(src.encode()).hexdigest()[:8]


def prepare(kind: str, seed: int) -> dict:
    """Generate (or reuse) the input set ``kind`` for ``seed``; return its
    manifest: {"dir", "tables": {name: {"path", "rows"}}, "digest", ...}."""
    size = PAGES_ROWS if kind == "pages" else 0.1
    entry = os.path.join(CACHE_DIR, f"{kind}_{size}_s{seed}_{_generator_version()}")
    manifest = os.path.join(entry, "manifest.json")
    os.makedirs(CACHE_DIR, exist_ok=True)
    if os.path.exists(manifest):
        os.utime(entry)
        with open(manifest) as f:
            return json.load(f)
    tables = gen_pages(PAGES_ROWS, seed) if kind == "pages" else gen_sf(seed)
    tmp = entry + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in tables.items():
        # pages: small row groups, so the one file splits into a scan per
        # core; sf tables: one row group per file, as the fixture tables
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=8_192 if kind == "pages" else None)
    doc = {
        "kind": kind, "size": size, "seed": seed, "dir": entry,
        "digest": table_digest(tables),
        "tables": {name: {"path": os.path.join(entry, f"{name}.parquet"),
                          "rows": t.num_rows} for name, t in tables.items()},
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(doc, f)
    shutil.rmtree(entry, ignore_errors=True)
    os.replace(tmp, entry)
    _prune(entry)
    return doc
