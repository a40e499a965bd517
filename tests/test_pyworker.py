"""The Python worker daemon entry (crawler_spark/pyworker.py).

The invalidation tests run each scenario in a fresh interpreter, so the
test process keeps the stock zip importer: one scenario with the stock
``zipimporter.invalidate_caches``, one with the engine's stat-checked
replacement, and the two are compared step by step. No Spark is needed
for them; the last test checks that the shared ``get_spark`` session's
Python workers really run the engine daemon.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv: temp dir, "1" to import the engine module first. Counts the
# zipimport._read_directory calls each importlib.invalidate_caches()
# makes on one archive that three cached importers share.
SCENARIO = r"""
import importlib, json, os, sys, zipfile, zipimport

tmp, engine = sys.argv[1], sys.argv[2] == "1"
archive = os.path.join(tmp, "lib.zip")


def write(src):
    part = archive + ".part"
    with zipfile.ZipFile(part, "w") as z:
        z.writestr("pkg/__init__.py", "")
        z.writestr("pkg/sub/__init__.py", "")
        z.writestr("pkg/sub/mod.py", src)
    os.replace(part, archive)


reads = []
stock_read = zipimport._read_directory


def counting_read(path):
    reads.append(path)
    return stock_read(path)


zipimport._read_directory = counting_read
if engine:
    import crawler_spark.pyworker

write("X = 1\n")
sys.path.insert(0, archive)
importlib.import_module("pkg.sub.mod")
importers = [v for v in sys.path_importer_cache.values()
             if isinstance(v, zipimport.zipimporter) and v.archive == archive]


def invalidate():
    del reads[:]
    importlib.invalidate_caches()
    return reads.count(archive)


def reimport():
    sys.modules.pop("pkg.sub.mod", None)
    try:
        return importlib.import_module("pkg.sub.mod").X
    except ImportError as e:
        return type(e).__name__


out = {"method": zipimport.zipimporter.invalidate_caches.__module__,
       "importers": len(importers),
       "first": invalidate(), "unchanged": invalidate()}
write("X = 2  # rewritten with a longer source\n")
out["rewritten"] = invalidate()
out["all_see_rewrite"] = all(
    i._files == zipimport._zip_directory_cache[archive] for i in importers)
out["x_after_rewrite"] = reimport()
out["unchanged_after_rewrite"] = invalidate()
os.remove(archive)
out["deleted"] = invalidate()
out["cached_after_delete"] = archive in zipimport._zip_directory_cache
out["files_after_delete"] = [len(i._files) for i in importers]
out["x_after_delete"] = reimport()
print(json.dumps(out))
"""


def _scenario(tmp_path, engine: bool) -> dict:
    d = tmp_path / ("engine" if engine else "stock")
    d.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", SCENARIO, str(d), "1" if engine else "0"],
        cwd=REPO, capture_output=True, text=True, timeout=120, check=True)
    return json.loads(proc.stdout)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimporter.invalidate_caches is lazy from 3.13 on")
class TestStatCheckedInvalidation:
    def test_unchanged_archive_is_not_reread(self, tmp_path):
        stock = _scenario(tmp_path, engine=False)
        engine = _scenario(tmp_path, engine=True)
        assert stock["method"] == "zipimport"
        assert engine["method"] == "crawler_spark.pyworker"
        # stock: every cached importer re-reads on every invalidation
        assert stock["importers"] == engine["importers"] == 3
        assert stock["first"] == stock["unchanged"] == 3
        # engine: one read records the signature, then none while unchanged
        assert engine["first"] == 1
        assert engine["unchanged"] == 0

    def test_rewritten_archive_is_reread_and_serves_new_code(self, tmp_path):
        stock = _scenario(tmp_path, engine=False)
        engine = _scenario(tmp_path, engine=True)
        assert engine["rewritten"] == 1
        assert stock["all_see_rewrite"] and engine["all_see_rewrite"]
        assert engine["x_after_rewrite"] == stock["x_after_rewrite"] == 2
        assert engine["unchanged_after_rewrite"] == 0

    def test_deleted_archive_behaves_as_stock(self, tmp_path):
        stock = _scenario(tmp_path, engine=False)
        engine = _scenario(tmp_path, engine=True)
        keys = ("deleted", "cached_after_delete", "files_after_delete",
                "x_after_delete")
        assert {k: engine[k] for k in keys} == {k: stock[k] for k in keys}
        assert stock["cached_after_delete"] is False
        assert stock["files_after_delete"] == [0, 0, 0]
        assert stock["x_after_delete"] == "ModuleNotFoundError"


def test_session_workers_run_the_engine_daemon(spark):
    """Identity, not timing: the worker's zipimporter method IS the
    function the daemon's ``__main__`` (the engine module) defined."""
    from pyspark.sql import functions as F

    from crawler_spark.session import PYWORKER_MODULE

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import json
        import sys
        import zipimport

        main = sys.modules["__main__"]
        report = json.dumps({
            "daemon": main.__spec__.name if main.__spec__ else None,
            "engine_method": zipimport.zipimporter.invalidate_caches
            is getattr(main, "invalidate_caches", None),
            "lazy_stock": sys.version_info >= (3, 13),
        })
        return s.map(lambda _: report)

    reports = {r[0] for r in spark.range(0, 4, 1, 4)
               .select(probe(F.col("id").cast("string"))).collect()}
    assert reports
    for report in map(json.loads, reports):
        assert report["daemon"] == PYWORKER_MODULE
        assert report["engine_method"] is not report["lazy_stock"]
