"""Output checks, driver-side with no Spark: correct sketches pass, and a
single flipped bit in a Bloom blob is caught."""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from sketchlib.core.bloom import BloomFilter
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.kll import KLL
from sketchlib.core.params import bloom_params
from sketchlib.core.tdigest import TDigest
from sketchlib.io.fixtures import generate_pages

from perfbench import checks

KINDS = {"url_bloom": "bloom", "url_hll": "hll", "tok_cms": "cms",
         "len_tdigest": "tdigest", "len_kll": "kll"}


def build(pages: pa.Table, bloom_m: int | None = None) -> dict:
    """The pages_build sketches, built by the kernels directly."""
    out = {}
    for lang in pc.unique(pages["lang"]).to_pylist():
        sub = pages.filter(pc.equal(pages["lang"], lang))
        m, k = bloom_params(sub.num_rows, 0.01)
        lens = pc.binary_length(sub["html"]).to_numpy().astype(np.float64)
        toks = checks._tokens(sub["text"])
        out[(lang, "url_bloom")] = BloomFilter(bloom_m or m, k).update_batch(sub["url"])
        out[(lang, "url_hll")] = HyperLogLog(14).update_batch(sub["url"])
        out[(lang, "tok_cms")] = CountMinSketch(16384, 5).update_batch(toks)
        out[(lang, "len_tdigest")] = TDigest(200).update_batch(lens)
        out[(lang, "len_kll")] = KLL(200).update_batch(lens)
    return {k: v.to_bytes() for k, v in out.items()}


@pytest.fixture(scope="module")
def pages():
    return generate_pages(3000, seed=5)


def flip(blob: bytes, bit: int) -> bytes:
    b = bytearray(blob)
    b[bit // 8] ^= 1 << (bit % 8)
    return bytes(b)


def test_correct_sketches_pass(pages):
    merged = build(pages)
    exact = checks.pages_exact(pages)
    assert checks.check_pages(merged, exact) == []
    assert checks.check_lattice_equal(merged, build(pages), KINDS) == []


@pytest.mark.parametrize("bloom_m", [None, 1 << 10], ids=["sparse", "dense"])
def test_one_flipped_bloom_bit_fails(pages, bloom_m):
    merged = build(pages, bloom_m)
    exact = checks.pages_exact(pages)
    key = ("en", "url_bloom")
    # bits spread over the blob's last 64 bytes, all inside the payload
    for bit in range((len(merged[key]) - 64) * 8, len(merged[key]) * 8, 37):
        bad = dict(merged)
        bad[key] = flip(merged[key], bit)
        fails = (checks.check_pages(bad, exact)
                 + checks.check_lattice_equal(merged, bad, KINDS))
        assert fails, f"flip of bit {bit} not detected"


def test_rank_error_and_bounds():
    v = np.arange(1, 101, dtype=np.float64)
    assert checks.rank_error(v, 50.0, 0.5) == 0.0
    assert checks.rank_error(v, 60.0, 0.5) == pytest.approx(0.09)


def test_query_checks_catch_a_false_negative():
    ex = {"n_docs": {"en": 10}}
    row = {"lang": "en", "false_negatives": 1, "n_keys": 10, "probes": 1000,
           "designed_p": 0.01, "measured_fpr": 0.01}
    assert checks.check_query("bloom_fpr_validation", [row], ex)
    assert checks.check_query("bloom_fpr_validation",
                              [dict(row, false_negatives=0)], ex) == []
