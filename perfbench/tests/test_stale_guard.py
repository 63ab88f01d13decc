"""The stale-code guard fires when workers import other sources than the
checkout's.

A zip whose name matches ``deploy.package_zip_path()`` is planted in a
private ``TMPDIR`` with one source file changed.  ``package_zip_path``
reuses a zip that already exists, so the session ships the planted one."""

import os
import tempfile
import zipfile

import pytest

import spark_env

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
PKG_DIR = os.path.join(ROOT, spark_env.PKG)


def _plant_zip(tmpdir: str, change: bool) -> None:
    import readability_php_spark

    path = os.path.join(tmpdir, f"{spark_env.PKG}-{readability_php_spark.__version__}-py.zip")
    with zipfile.ZipFile(path, "w") as z:
        for rel, src in spark_env.dir_sources(PKG_DIR).items():
            if change and rel == "config.py":
                src += b"\n# an older build\n"
            z.writestr(f"{spark_env.PKG}/{rel}", src)


@pytest.fixture
def session_with_zip(tmp_path, request):
    from readability_php_spark.plans.pipeline import tune_session_for_extraction

    saved = os.environ.get("TMPDIR")
    spark_env.use_private_tmpdir(str(tmp_path / "tmp"))
    _plant_zip(str(tmp_path / "tmp"), change=request.param)
    spark = spark_env.build_session(str(tmp_path), 2)
    try:
        tune_session_for_extraction(spark)
        yield spark
    finally:
        spark_env.stop_session(spark)
        if saved is None:
            os.environ.pop("TMPDIR", None)
        else:
            os.environ["TMPDIR"] = saved
        tempfile.tempdir = None


@pytest.mark.parametrize("session_with_zip", [True], indirect=True)
def test_guard_fires_on_stale_zip(session_with_zip):
    with pytest.raises(spark_env.StaleCodeError, match="workers imported"):
        spark_env.stale_guard(session_with_zip, PKG_DIR)


@pytest.mark.parametrize("session_with_zip", [False], indirect=True)
def test_guard_passes_on_current_zip(session_with_zip):
    info = spark_env.stale_guard(session_with_zip, PKG_DIR)
    assert info["worker_origin"].endswith("-py.zip")
