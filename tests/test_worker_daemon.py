"""The worker daemon: zip re-reads skipped for unchanged archives, and
``get_spark`` wiring that makes Python workers start from it."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd

from deepseek_ocr_omnidocbench_spark import _daemon
from deepseek_ocr_omnidocbench_spark.functions.editdist import levenshtein

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


def _importers(tmp_path, monkeypatch):
    """-> (archive path, [root importer, sub-package importer], reads),
    where ``reads`` lists every central-directory read after set-up."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"top.py": "X = 1\n", "pkg/__init__.py": "",
                         "pkg/mod.py": "Y = 2\n"})
    importers = [zipimport.zipimporter(archive),
                 zipimport.zipimporter(os.path.join(archive, "pkg"))]
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return archive, importers, reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    _, importers, reads = _importers(tmp_path, monkeypatch)
    for imp in importers:  # the first call stamps the archive
        _daemon.invalidate_if_changed(imp)
    assert len(reads) == 1
    del reads[:]
    for imp in importers:
        _daemon.invalidate_if_changed(imp)
    assert reads == []
    assert importers[1].find_spec("pkg.mod") is not None


def test_rewritten_archive_is_reread_once(tmp_path, monkeypatch):
    archive, importers, reads = _importers(tmp_path, monkeypatch)
    for imp in importers:
        _daemon.invalidate_if_changed(imp)
    assert importers[1].find_spec("pkg.new") is None
    _write_zip(archive, {"top.py": "X = 1\n", "new_top.py": "W = 4\n",
                         "pkg/__init__.py": "", "pkg/mod.py": "Y = 2\n",
                         "pkg/new.py": "Z = 3\n"})
    del reads[:]
    for imp in importers:
        _daemon.invalidate_if_changed(imp)
    assert reads == [archive]
    assert importers[1].find_spec("pkg.new") is not None
    assert importers[0].find_spec("new_top") is not None


def test_deleted_archive_falls_back_to_stdlib(tmp_path, monkeypatch):
    archive, importers, reads = _importers(tmp_path, monkeypatch)
    for imp in importers:
        _daemon.invalidate_if_changed(imp)
    os.remove(archive)
    del reads[:]
    for imp in importers:
        _daemon.invalidate_if_changed(imp)
    # the stdlib tries the read, fails, and empties the importer
    assert reads == [archive, archive]
    assert all(imp._files == {} for imp in importers)
    assert archive not in zipimport._zip_directory_cache


def test_importing_the_daemon_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches is _daemon._reread


def test_spark_uses_the_package_daemon(spark):
    assert (spark.conf.get("spark.python.daemon.module")
            == "deepseek_ocr_omnidocbench_spark._daemon")


def test_udf_results_through_the_daemon(spark):
    words = ["kitten", "sitting", "flaw", "lawn", "", "intention", "execution",
             "a" * 40, "abc" * 9, "spark", "park", "sparks"]
    pairs = [(w, words[(i + 5) % len(words)]) for i, w in enumerate(words)] * 4

    def dist(batches):
        from deepseek_ocr_omnidocbench_spark.functions.editdist import levenshtein

        patched = zipimport.zipimporter.invalidate_caches.__name__ == "invalidate_if_changed"
        for pdf in batches:
            yield pdf.assign(d=[levenshtein(a, b) for a, b in zip(pdf.a, pdf.b)],
                             patched=patched)

    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["a", "b"])).repartition(12)
    assert df.rdd.getNumPartitions() == 12
    out = df.mapInPandas(dist, "a string, b string, d long, patched boolean").collect()
    assert sorted((r.a, r.b, r.d) for r in out) == sorted(
        (a, b, levenshtein(a, b)) for a, b in pairs)
    assert all(r.patched for r in out)  # the workers were forked from the daemon


SUBPROCESS_DRIVER = """
import sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql.functions import pandas_udf
from deepseek_ocr_omnidocbench_spark.session import get_spark

spark = get_spark(app_name="daemon-cwd", cores=2, shuffle_partitions=2)

@pandas_udf("long")
def strlen(s: pd.Series) -> pd.Series:
    from deepseek_ocr_omnidocbench_spark.functions.editdist import levenshtein
    return s.map(lambda x: levenshtein(x, ""))

rows = spark.createDataFrame([("ab",), ("abcd",)], "s string").select(strlen("s")).collect()
print("LENGTHS", sorted(r[0] for r in rows))
spark.stop()
"""


def test_daemon_imports_from_outside_the_checkout(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", SUBPROCESS_DRIVER, ROOT],
                         cwd=str(tmp_path), env=env, capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "LENGTHS [2, 4]" in out.stdout
