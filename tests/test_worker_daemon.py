"""The Python worker daemon: which pyspark a worker imports.

The path tests build fake Spark zips and fake installed packages under
``tmp_path`` and need no Spark. The session test checks, through a real
pandas UDF and a real plain UDF, that workers run the driver's installed
pyspark rather than ``pyspark.zip``.
"""

from __future__ import annotations

import os
import zipfile

import pytest

from telescope_data_pipeline_spark import session
from telescope_data_pipeline_spark.worker_daemon import worker_path

PYSPARK = "4.1.2"
PY4J = "0.10.9.9"


def _spark_lib(root, pyspark=PYSPARK, py4j=PY4J):
    """A fake ``$SPARK_HOME/python/lib`` with the two source zips."""
    lib = root / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{pyspark}"\n')
    py4j_zip = lib / f"py4j-{py4j}-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
        z.writestr("py4j/version.py", f"__version__ = '{py4j}'\n")
    return str(lib), str(lib / "pyspark.zip"), str(py4j_zip)


def _site(root, pyspark=PYSPARK, py4j=PY4J):
    """A fake site-packages directory with pyspark and py4j installed."""
    site = root / "site-packages"
    for package, version in (("pyspark", pyspark), ("py4j", py4j)):
        if version is None:
            continue
        (site / package).mkdir(parents=True)
        (site / package / "__init__.py").write_text("")
        (site / package / "version.py").write_text(f'__version__ = "{version}"\n')
    site.mkdir(exist_ok=True)
    return str(site)


def test_zips_move_last_when_installed_releases_match(tmp_path):
    lib, pyspark_zip, py4j_zip = _spark_lib(tmp_path)
    site = _site(tmp_path)
    path = [str(tmp_path), pyspark_zip, py4j_zip, "/repo", site]
    assert worker_path(path, lib) == [str(tmp_path), "/repo", site,
                                      pyspark_zip, py4j_zip]


@pytest.mark.parametrize("installed", [
    {"pyspark": "4.0.0"},
    {"py4j": "0.10.9.7"},
    {"pyspark": None},
    {"pyspark": None, "py4j": None},
], ids=["other-pyspark", "other-py4j", "no-pyspark", "nothing-installed"])
def test_path_unchanged_without_matching_install(tmp_path, installed):
    lib, pyspark_zip, py4j_zip = _spark_lib(tmp_path)
    site = _site(tmp_path, **installed)
    path = [pyspark_zip, py4j_zip, site]
    assert worker_path(path, lib) == path


def test_path_unchanged_without_spark_zips(tmp_path):
    lib, _, _ = _spark_lib(tmp_path)
    path = ["/repo", _site(tmp_path)]
    assert worker_path(path, lib) == path


def test_user_zip_is_never_moved(tmp_path):
    lib, pyspark_zip, py4j_zip = _spark_lib(tmp_path)
    site = _site(tmp_path)
    deps = tmp_path / "deps.zip"  # as shipped with --py-files
    with zipfile.ZipFile(deps, "w") as z:
        z.writestr("helper.py", "")
    user_pyspark = tmp_path / "user" / "pyspark.zip"  # not in $SPARK_HOME
    user_pyspark.parent.mkdir()
    user_pyspark.write_bytes(deps.read_bytes())
    path = [pyspark_zip, str(deps), py4j_zip, str(user_pyspark), site]
    assert worker_path(path, lib) == [str(deps), str(user_pyspark), site,
                                      pyspark_zip, py4j_zip]


def test_daemon_set_only_where_workers_import_the_package(tmp_path, monkeypatch):
    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.chdir(session._PACKAGE_ROOT)
    assert session._workers_import_package()
    monkeypatch.chdir(tmp_path)
    assert not session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), session._PACKAGE_ROOT]))
    assert session._workers_import_package()


def test_workers_import_the_drivers_pyspark(spark):
    """One mapInPandas and one plain udf: two daemons, both running the
    driver's installed pyspark, neither the source zip."""
    import pyspark
    from pyspark.sql import functions as F

    if ".zip" in pyspark.__file__:
        pytest.skip("the driver's own pyspark comes from a zip")

    def provenance(_):
        import pyspark

        return f"{pyspark.__file__}|{pyspark.__version__}"

    def batches(it):
        for pdf in it:
            yield pdf.assign(origin=pdf["id"].map(provenance))

    df = spark.range(2, numPartitions=2)
    pandas_side = df.mapInPandas(batches, "id long, origin string").collect()
    plain_side = df.select(F.udf(provenance, "string")("id").alias("origin")).collect()
    expected = f"{pyspark.__file__}|{pyspark.__version__}"
    for row in pandas_side + plain_side:
        assert ".zip" not in row.origin
        assert row.origin == expected
