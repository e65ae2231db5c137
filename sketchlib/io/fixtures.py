"""Deterministic synthetic Common-Crawl-style ``pages`` table (FIXTURES.md §1).

Schema (BASELINE.json input_hint):
    pages(url: string, warc_ts: timestamp, html: binary, text: string,
          lang: string)

Every column is drawn from its own seeded Generator so the first N
rows are byte-identical at every scale (prefix-stability) — the
per-row invariant "text is byte-identical per url across runs and
scales". No wall-clock, no external data.

Deviation from FIXTURES.md noted: html byte length is lognormal with
mu=6.5 (median ~665 B) rather than mu=9 (~8 KB) so the bench-scale
fixture stays disk-friendly; the distribution shape (lognormal) and
the quantile-test role are unchanged.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "zh", "es", "de", "fr", "pt", "ja", "ru", "it", "nl"]
LANG_WEIGHTS = [0.45, 0.13, 0.09, 0.07, 0.06, 0.05, 0.05, 0.04, 0.035, 0.025]
VOCAB_SIZE = 10_000
TLDS = ["com", "org", "net", "io", "dev"]
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00")

SCALES = {"tiny": 10_000, "small": 100_000, "bench": 1_000_000}


def _gen(seed: int, name: str) -> np.random.Generator:
    # zlib.crc32, not hash(): str hash is randomized per process
    import zlib
    return np.random.default_rng(
        np.random.SeedSequence([seed, zlib.crc32(name.encode())]))


def generate_pages(n_rows: int, seed: int = 42,
                   dup_fraction: float = 0.05) -> pa.Table:
    vocab = np.array([f"w{i:05d}" for i in range(VOCAB_SIZE)], dtype=object)

    lang_idx = _gen(seed, "lang").choice(len(LANGS), size=n_rows, p=LANG_WEIGHTS)
    lang = np.array(LANGS, dtype=object)[lang_idx]

    # hosts Zipf-distributed over 997 hosts
    host_ids = (_gen(seed, "host").zipf(1.3, size=n_rows) - 1) % 997
    tld_idx = _gen(seed, "tld").integers(0, len(TLDS), size=n_rows)

    # token stream: Zipf(s=1.2) over a 10k vocabulary (heavy hitters)
    n_tokens = np.clip(
        _gen(seed, "ntok").lognormal(3.4, 0.6, size=n_rows), 5, 400
    ).astype(np.int64)
    total_tokens = int(n_tokens.sum())
    tok_ids = (_gen(seed, "tok").zipf(1.2, size=total_tokens) - 1) % VOCAB_SIZE
    toks = vocab[tok_ids]
    bounds = np.concatenate([[0], np.cumsum(n_tokens)])
    text = np.array([" ".join(toks[bounds[i]:bounds[i + 1]])
                     for i in range(n_rows)], dtype=object)

    url = np.array(
        [f"https://h{host_ids[i]:03d}.example.{TLDS[tld_idx[i]]}/p/{i}"
         for i in range(n_rows)], dtype=object)

    # exact duplicates within a lang: row i copies (url, text) from an
    # earlier row of the same lang
    dup_mask = _gen(seed, "dup").random(n_rows) < dup_fraction
    dup_pick = _gen(seed, "dup_pick").random(n_rows)
    last_seen: dict[str, list[int]] = {l: [] for l in LANGS}
    for i in range(n_rows):
        l = lang[i]
        seen = last_seen[l]
        if dup_mask[i] and seen:
            donor = seen[int(dup_pick[i] * len(seen))]
            url[i] = url[donor]
            text[i] = text[donor]
        else:
            seen.append(i)

    # timestamps span 7 days (for lang x day grouping keys)
    offs = _gen(seed, "ts").integers(0, 7 * 86_400, size=n_rows)
    warc_ts = EPOCH_2024 + offs.astype("timedelta64[s]")

    # html wraps text; total byte length ~ lognormal via repetitive pad
    target = _gen(seed, "htmllen").lognormal(6.5, 0.8, size=n_rows).astype(np.int64)
    html = []
    for i in range(n_rows):
        body = (f"<html><head><title>{url[i]}</title></head><body><p>"
                f"{text[i]}</p>").encode()
        pad = max(0, int(target[i]) - len(body) - 14)
        html.append(body + b"<!--" + b"x" * pad + b"--></body></html>")

    return pa.table({
        "url": pa.array(url, type=pa.string()),
        "warc_ts": pa.array(warc_ts, type=pa.timestamp("us")),
        "html": pa.array(html, type=pa.binary()),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(lang, type=pa.string()),
    })


def _cached(base_dir: str | None, stem: str, doc: dict, sources: list,
            write) -> str:
    """Path of ``<stem>_<digest>.parquet`` under ``base_dir`` (default
    ``.fixtures/``), the digest taken over the generators' ``sources``:
    ``write(path)`` writes it unless a file whose manifest equals
    ``doc`` plus that digest is there, so an edited generator never
    serves old bytes."""
    digest = hashlib.sha256("".join(map(inspect.getsource, sources))
                            .encode()).hexdigest()[:8]
    base = base_dir or os.path.join(os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))), ".fixtures")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, f"{stem}_{digest}.parquet")
    doc = {**doc, "generator_digest": digest}
    if os.path.exists(path) and os.path.exists(path + ".json"):
        with open(path + ".json") as f:
            if json.load(f) == doc:
                return path
    write(path)
    with open(path + ".json", "w") as f:
        json.dump(doc, f)
    return path


def pages_path(scale: str = "tiny", base_dir: str | None = None,
               seed: int = 42) -> str:
    """Generate (once, cached on disk) and return the parquet path."""
    n_rows = SCALES[scale] if scale in SCALES else int(scale)
    return _cached(
        base_dir, f"pages_{n_rows}_s{seed}",
        {"n_rows": n_rows, "seed": seed, "generator": "sketchlib.io.fixtures"},
        [sys.modules[__name__]],
        # small row groups -> parallel scan splits
        lambda path: pq.write_table(generate_pages(n_rows, seed=seed), path,
                                    row_group_size=8_192))


def media_path(n: int = 120, seed: int = 5,
               base_dir: str | None = None) -> str:
    """Generate (once, cached on disk) the deterministic media fixture
    as parquet and return its path — same caching contract as
    ``pages_path``. ``q_media_features`` reads this instead of
    re-encoding the WAV/PNG/JPEG/MP4 payloads inside the query, so its
    bench time measures the probe/extract operators, not fixture
    encoding (the media table is INPUT data, generated deterministically
    from (n, seed) by ``multimodal.fake_media_rows``)."""
    from sketchlib.spark import jpeg, multimodal

    def write(path):
        from pyspark.sql.pandas.types import to_arrow_type
        cols = zip(*multimodal.fake_media_rows(n, seed))
        table = pa.table({f.name: pa.array(c, to_arrow_type(f.dataType))
                          for f, c in zip(multimodal.MEDIA_SCHEMA, cols)})
        # small row groups so the local scan splits across cores
        pq.write_table(table, path, row_group_size=16)
    return _cached(
        base_dir, f"media_{n}_s{seed}",
        {"n": n, "seed": seed,
         "generator": "sketchlib.spark.multimodal.fake_media_rows"},
        [multimodal, jpeg], write)
