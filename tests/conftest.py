from __future__ import annotations

import os

import pytest

from mapreducehs_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mapreducehs_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def split_into_parts(src_sf: str, dst_sf: str, n_parts: int = 3) -> str:
    """Copy every table of *src_sf* into *dst_sf* as a directory of
    *n_parts* contiguous parquet part files — the production layout."""
    import pyarrow.parquet as pq

    from mapreducehs_spark.sources.catalog import TABLES

    for name in TABLES:
        table = pq.read_table(os.path.join(src_sf, f"{name}.parquet"))
        out = os.path.join(dst_sf, f"{name}.parquet")
        os.makedirs(out)
        bounds = [i * table.num_rows // n_parts for i in range(n_parts + 1)]
        for i in range(n_parts):
            part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(part, os.path.join(out, f"part-{i:05d}.parquet"))
    return dst_sf


@pytest.fixture(scope="session")
def parts_sf_dir(tmp_path_factory):
    """SF_DIR with every table as a 3-part parquet directory, under the
    same basename (so fixture keys can only tell the two apart by
    content).  The derived fixtures built from it are keyed by this
    session's files, so no later session can reuse them: remove them."""
    import glob
    import shutil

    from mapreducehs_spark.sources.catalog import FIXTURE_ROOT, TABLES, source_fingerprint

    root = tmp_path_factory.mktemp("parts")
    sf_dir = split_into_parts(SF_DIR, str(root / os.path.basename(SF_DIR)))
    yield sf_dir
    for name in TABLES:
        fp = source_fingerprint(sf_dir, name)
        for d in glob.glob(os.path.join(FIXTURE_ROOT, "mapreducehs_*", f"*_{fp}")):
            shutil.rmtree(d, ignore_errors=True)
