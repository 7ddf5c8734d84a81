from __future__ import annotations

import os
import subprocess
import sys

import pytest

from embulk_input_parquet_hadoop_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, arrow_batch_rows=2048,
                  extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tokens_path(tmp_path_factory):
    from embulk_input_parquet_hadoop_spark.sources.datagen import generate
    path = tmp_path_factory.mktemp("tokens") / "tbl"
    generate(str(path), n_docs=3000, seed=123, n_files=4)
    return str(path)


@pytest.fixture
def killed_put():
    """``killed_put(dest)`` runs ``fsutil.put_bytes(dest)`` in a child
    process that dies where its temp file would be renamed over ``dest``
    (local paths and ``mock-s3://``), and returns the path of the temp
    file it left behind."""
    import embulk_input_parquet_hadoop_spark as pkg
    from embulk_input_parquet_hadoop_spark.plans import fsutil
    code = ("import os, sys\n"
            "from embulk_input_parquet_hadoop_spark.plans import fsutil\n"
            "os.replace = lambda *a: os._exit(3)\n"
            "fsutil.put_bytes(sys.argv[1], b'x' * 64)\n")
    root = os.path.dirname(os.path.dirname(pkg.__file__))

    def run(dest: str) -> str:
        d = os.path.dirname(fsutil.mock_local_path(dest)
                            if dest.startswith(f"{fsutil.MOCK_SCHEME}://")
                            else dest)
        before = set(os.listdir(d))
        r = subprocess.run([sys.executable, "-c", code, dest], cwd=root)
        assert r.returncode == 3
        (left,) = set(os.listdir(d)) - before
        return os.path.join(d, left)
    return run
