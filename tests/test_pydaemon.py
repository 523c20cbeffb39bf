"""Python workers start through ``go_streams_spark._pydaemon``: its
stamp-checked zip import cache, that workers really run it, and that
they find the package whatever the caller's working directory."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from go_streams_spark import _pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_stamped_invalidate_caches_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    # a package in the zip: its importer and the archive's share one read
    archive = tmp_path / "lib.zip"

    def write(value):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("gss_zippkg/__init__.py", "")
            z.writestr("gss_zippkg/mod.py", f"VALUE = {value!r}\n")

    def value():
        for name in ("gss_zippkg", "gss_zippkg.mod"):
            sys.modules.pop(name, None)
        return importlib.import_module("gss_zippkg.mod").VALUE

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon.stamped_invalidate_caches)
    write("1")
    monkeypatch.syspath_prepend(str(archive))
    assert value() == "1"
    importlib.invalidate_caches()  # the stamp of the first version

    write("2" * 64)  # rewritten in place, as an addPyFile zip can be
    importlib.invalidate_caches()
    assert value() == "2" * 64

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read(path))
    importlib.invalidate_caches()
    assert str(archive) not in reads
    assert value() == "2" * 64
    for name in ("gss_zippkg", "gss_zippkg.mod"):
        sys.modules.pop(name, None)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the daemon patches zipimport only before 3.13")
def test_workers_run_the_repo_daemon(spark):
    def probe(batches):
        import zipimport
        for _ in batches:
            yield pd.DataFrame(
                {"q": [zipimport.zipimporter.invalidate_caches.__qualname__]})

    got = spark.range(1).mapInPandas(probe, "q string").collect()
    assert [r["q"] for r in got] == ["stamped_invalidate_caches"]


def test_package_udf_runs_from_a_foreign_cwd(tmp_path):
    script = f"""
import sys
sys.path.insert(0, {ROOT!r})
from go_streams_spark import get_spark
from go_streams_spark.functions import text as T
spark = get_spark("foreign-cwd")
df = spark.createDataFrame([(0, "low lower"), (1, "newer new")],
                           "doc_id long, text string")
rows = T.bpe_encode(df, merges=[("l", "o"), ("lo", "w")]).orderBy("doc_id")
print([r["bpe_tokens"] for r in rows.collect()])
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == str(
        [["low", "low", "e", "r"], ["n", "e", "w", "e", "r", "n", "e", "w"]])
