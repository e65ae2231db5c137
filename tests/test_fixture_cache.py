"""Generated fixtures are cached on disk under a digest of their
generator's source, so an edited generator never serves old bytes."""

import json
import os

import pyarrow.parquet as pq

from sketchlib.io import fixtures


def test_fixture_of_another_generator_is_regenerated(tmp_path):
    base = str(tmp_path)
    path = fixtures.pages_path("40", base_dir=base, seed=3)
    with open(path + ".json") as f:
        doc = json.load(f)
    assert path.endswith(f"_{doc['generator_digest']}.parquet")
    want = pq.read_table(path)
    assert want.equals(fixtures.generate_pages(40, seed=3))
    # a file under the same name whose manifest names another digest
    pq.write_table(want.slice(0, 1), path)
    with open(path + ".json", "w") as f:
        json.dump({**doc, "generator_digest": "0" * 8}, f)
    assert fixtures.pages_path("40", base_dir=base, seed=3) == path
    assert pq.read_table(path).equals(want)
    # a matching manifest reuses the file as it is
    mtime = os.stat(path).st_mtime_ns
    assert fixtures.pages_path("40", base_dir=base, seed=3) == path
    assert os.stat(path).st_mtime_ns == mtime
