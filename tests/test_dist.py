"""The ``--py-files`` archive is built from the working tree (it is not
tracked), by the one builder that ``scripts/make_dist.py`` and the
session's package shipping share."""

import os
import zipfile

from metasra_pipeline_spark.session import build_package_zip

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "metasra_pipeline_spark")


def test_package_zip_holds_every_module(tmp_path):
    out = build_package_zip(str(tmp_path / "pkg.zip"))
    with zipfile.ZipFile(out) as zf:
        members = {n for n in zf.namelist() if n.endswith(".py")}
    sources = {os.path.join("metasra_pipeline_spark",
                            os.path.relpath(os.path.join(root, fn), PKG))
               .replace(os.sep, "/")
               for root, _dirs, files in os.walk(PKG)
               for fn in files if fn.endswith(".py")}
    assert members == sources
    assert "metasra_pipeline_spark/job.py" in members
