"""The pyFiles zip is keyed by the package sources, so two checkouts on one
machine never ship each other's code to executors."""

import os
import shutil
import subprocess
import sys
import zipfile

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pcrawler_spark")
EDITED = "pcrawler_spark/plans/singlepass.py"


def _package_zip(checkout, tmpdir):
    """Run ``_package_zip()`` of ``checkout``'s package in a fresh
    interpreter whose temp dir is ``tmpdir``."""
    out = subprocess.run(
        [sys.executable, "-c",
         "from pcrawler_spark.session import _package_zip; print(_package_zip())"],
        cwd=checkout, env={**os.environ, "TMPDIR": str(tmpdir), "PYTHONPATH": str(checkout)},
        capture_output=True, text=True, check=True,
    )
    return out.stdout.strip().splitlines()[-1]


@pytest.fixture
def checkouts(tmp_path):
    """Two copies of the package that differ by one source byte."""
    roots = []
    for name in ("a", "b"):
        root = tmp_path / name
        shutil.copytree(PKG, root / "pcrawler_spark",
                        ignore=shutil.ignore_patterns("__pycache__"))
        roots.append(root)
    edited = roots[1] / EDITED
    data = edited.read_bytes()
    edited.write_bytes(data[:-1] + (b" " if data[-1:] != b" " else b"\n"))
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    return roots, tmpdir


def test_package_zip_is_keyed_by_source_digest(checkouts):
    (a, b), tmpdir = checkouts
    zip_a, zip_b = _package_zip(a, tmpdir), _package_zip(b, tmpdir)
    assert zip_a != zip_b
    for root, path in ((a, zip_a), (b, zip_b)):
        assert os.path.dirname(path) == str(tmpdir)
        with zipfile.ZipFile(path) as z:
            assert z.read(EDITED) == (root / EDITED).read_bytes()
    # an unchanged checkout reuses its zip as is
    before = os.stat(zip_a)
    assert _package_zip(a, tmpdir) == zip_a
    after = os.stat(zip_a)
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
