"""The engine's Python workers start without Spark's own archives on
their path (cassandra_pmem_spark/worker_daemon.py), so a task's
``importlib.invalidate_caches()`` re-reads no zip directory."""

from __future__ import annotations

import json
import os
import zipfile
import zipimport

import pandas as pd
import pytest

from cassandra_pmem_spark.worker_daemon import scrub_spark_archives

PY4J_ZIP = "py4j-0.10.9.9-src.zip"


def _zip(path, files: dict) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _layout(tmp_path, zip_version: str, site_version: str, py4j: bool = True):
    """(path, importer cache) of a worker started the way
    Spark starts one: the installation's pyspark zip, py4j zip and core
    jar ahead of a user py-file and a site directory holding pyspark."""
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    spark_zip = _zip(lib / "pyspark.zip", {
        "pyspark/__init__.py": "",
        "pyspark/sql/__init__.py": "",
        "pyspark/version.py": f'__version__: str = "{zip_version}"\n',
    })
    py4j_zip = _zip(lib / PY4J_ZIP, {"py4j/__init__.py": ""})
    jar = _zip(home / "jars" / "spark-core_2.13-x.jar", {"META-INF/MANIFEST.MF": ""})
    user_zip = _zip(tmp_path / "userFiles" / "deps.zip", {"deps/__init__.py": ""})
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f"__version__: str = '{site_version}'\n")
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    path = [str(tmp_path), spark_zip, py4j_zip, jar, user_zip, str(site)]
    cache = {
        spark_zip: zipimport.zipimporter(spark_zip),
        spark_zip + "/pyspark/": zipimport.zipimporter(spark_zip + "/pyspark/"),
        spark_zip + "/pyspark/sql/": zipimport.zipimporter(spark_zip + "/pyspark/sql/"),
        py4j_zip: zipimport.zipimporter(py4j_zip),
        jar: zipimport.zipimporter(jar),
        user_zip: zipimport.zipimporter(user_zip),
    }
    return path, cache


class TestScrub:
    def test_same_version_drops_the_archives_and_their_importers(self, tmp_path):
        path, cache = _layout(tmp_path, "4.1.2", "4.1.2")
        user_zip, site = path[4], path[5]
        assert scrub_spark_archives(path, cache)
        assert path == [str(tmp_path), user_zip, site]
        assert list(cache) == [user_zip]

    @pytest.mark.parametrize("site_version, py4j", [
        ("4.0.1", True),  # installed pyspark differs from the JVM's
        ("4.1.2", False),  # no py4j left to import
    ])
    def test_fallback_leaves_the_path_as_spark_built_it(
        self, tmp_path, site_version, py4j
    ):
        path, cache = _layout(tmp_path, "4.1.2", site_version, py4j)
        before_path, before_cache = list(path), dict(cache)
        assert not scrub_spark_archives(path, cache)
        assert path == before_path and cache == before_cache

    def test_user_pyspark_zip_is_kept(self, tmp_path):
        path, cache = _layout(tmp_path, "4.1.2", "4.1.2")
        before = list(path)
        # a user py-file named pyspark.zip is not the installation's
        user = _zip(tmp_path / "userFiles" / "pyspark.zip", {"pyspark/__init__.py": ""})
        path.append(user)
        assert scrub_spark_archives(path, cache)
        assert path == [before[0], before[4], before[5], user]


def test_workers_import_pyspark_without_spark_archives(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def path_facts(s: pd.Series) -> pd.Series:
        import json
        import sys
        import zipimport

        import pyspark

        archives = sorted({
            v.archive for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        })
        return pd.Series([json.dumps([archives, pyspark.__file__, pyspark.__version__])] * len(s))

    for row in spark.range(0, 4, 1, 2).select(path_facts("id").alias("f")).collect():
        archives, pyspark_file, version = json.loads(row.f)
        names = [os.path.basename(a) for a in archives]
        assert not [n for n in names if n == "pyspark.zip" or n.startswith("py4j-") or n.endswith(".jar")]
        assert ".zip" not in pyspark_file
        assert version == spark.version


def test_worker_path_appends_the_package_root_after_existing_entries():
    from cassandra_pmem_spark.session import _add_package_to_worker_path

    import cassandra_pmem_spark

    root = os.path.dirname(os.path.dirname(os.path.abspath(cassandra_pmem_spark.__file__)))
    env = {"PYTHONPATH": os.pathsep.join(["/deps/a", "/deps/b"])}
    _add_package_to_worker_path(env)
    _add_package_to_worker_path(env)
    assert env["PYTHONPATH"].split(os.pathsep) == ["/deps/a", "/deps/b", root]
    env = {}
    _add_package_to_worker_path(env)
    assert env["PYTHONPATH"] == root


def test_driver_outside_the_repo_runs_python_tasks(tmp_path):
    """A driver whose working directory does not hold the package (it is
    only on the driver's own sys.path) still starts its workers: a plain
    pandas UDF and the engine's token UDF both run."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from cassandra_pmem_spark import get_spark
from cassandra_pmem_spark.functions.murmur3 import murmur3_token_column

spark = get_spark("outside-the-repo")

@pandas_udf("long")
def plus(s: pd.Series) -> pd.Series:
    return s + 1

print(sorted(r[0] for r in spark.range(3).select(plus("id")).collect()))
print(spark.range(2).select(murmur3_token_column("id")).count())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["[1,", "2,", "3]", "2"]
