import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# Spark python workers must also see the package (verify SKILL.md gotcha)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

import pytest


@pytest.fixture(scope="session")
def spark():
    from sketchlib.spark.session import get_spark
    s = get_spark("sketchlib-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_tiny(spark):
    from sketchlib.io.fixtures import pages_path
    return spark.read.parquet(pages_path("tiny"))


@pytest.fixture(scope="session")
def pages_tiny_multifile(spark, tmp_path_factory):
    """Tiny pages split over 4 parquet files — a deterministic
    multi-partition scan (file order), like real many-file inputs."""
    import pyarrow.parquet as pq
    from sketchlib.io.fixtures import pages_path
    tbl = pq.read_table(pages_path("tiny"))
    out = tmp_path_factory.mktemp("pages_mf")
    n = tbl.num_rows // 4
    for i in range(4):
        part = tbl.slice(i * n, n if i < 3 else tbl.num_rows - 3 * n)
        pq.write_table(part, str(out / f"part-{i:02d}.parquet"))
    return spark.read.parquet(str(out))
