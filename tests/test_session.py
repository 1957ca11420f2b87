"""Package shipping: every session builds its own zip of the package."""

from __future__ import annotations

import os
import zipfile

from graphscope_spark.session import _build_package_zip


def test_each_build_gets_its_own_zip():
    a, b = _build_package_zip(), _build_package_zip()
    assert os.path.dirname(a) != os.path.dirname(b)
    for z in (a, b):
        with zipfile.ZipFile(z) as zf:
            assert "graphscope_spark/algorithms/triangles.py" in zf.namelist()
