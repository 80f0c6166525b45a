"""Start-warm contract of ``mare_spark.session``: which JVM options a
session launches with, when a class-data archive is used, and that
building one leaves stdout and the working directory alone. Most tests
run ``java <options> -version`` instead of a session; two start
subprocess sessions against an empty cache directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from mare_spark import session
from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """An empty cache directory, and Spark's own conf directory."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    conf = os.path.join(session._find_spark_home(), "conf")
    if any(not n.endswith(".template") for n in os.listdir(conf)):
        pytest.skip("the Spark conf directory holds a real file")
    return tmp_path / "cache" / "mare_spark"


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A first session, ``python -m mare_spark run q6_revenue_change
    --json``, started on an empty cache directory: (its working
    directory, the finished process, the archive path). The cache stays
    set for the module's tests."""
    tmp = tmp_path_factory.mktemp("warm")
    cwd = tmp / "cwd"
    cwd.mkdir()
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("XDG_CACHE_HOME", str(tmp / "cache"))
        mp.setenv("PYTHONPATH", ROOT)
        mp.setenv("SPARK_GRAFT_CPUS", "2")
        mp.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
        mp.delenv("SPARK_CONF_DIR", raising=False)
        first = subprocess.run(
            [sys.executable, "-m", "mare_spark", "run", "q6_revenue_change",
             "--json", "--sf-dir", SF_SMOKE],
            cwd=cwd, capture_output=True, text=True, timeout=300,
        )
        yield cwd, first, _archive_path()


def _archive_path() -> str:
    java = session._launcher_java()
    key = session._archive_key(java, session._find_spark_home())
    return os.path.join(session._cache_dir(), "cds", key + ".jsa")


def test_first_session_prints_jsonl_and_builds_the_archive(built):
    """Building the archive at exit adds nothing to stdout and nothing to
    the working directory."""
    cwd, first, archive = built
    assert first.returncode == 0, first.stderr[-2000:]
    lines = first.stdout.splitlines()
    assert lines and all(json.loads(ln) for ln in lines), first.stdout
    assert session._checked_archive(archive)
    assert os.listdir(cwd) == []


def test_next_session_maps_the_archive(built):
    cwd, _, _ = built
    code = (
        "from mare_spark.session import archive_mapped, get_spark\n"
        "spark = get_spark('second')\n"
        "print('mapped', archive_mapped(spark))\n"
    )
    second = subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, capture_output=True,
        text=True, timeout=300,
    )
    assert second.stdout.splitlines() == ["mapped True"], second.stderr[-2000:]
    assert os.listdir(cwd) == []


def test_truncated_archive_still_starts_the_jvm(built, cache, tmp_path):
    """An archive whose size is not the one recorded when it was checked
    is never passed to the JVM: JDK 17 crashes (SIGBUS) on a truncated
    dynamic archive instead of ignoring it."""
    with open(built[2], "rb") as fh:
        full = fh.read()
    archive = _archive_path()  # the same key, under the empty cache
    os.makedirs(os.path.dirname(archive))
    with open(archive, "wb") as fh:
        fh.write(full[: len(full) // 4])
    with open(archive[: -len(".jsa")] + ".size", "w") as fh:
        fh.write(str(len(full)))
    warm = session._warm_start()
    if warm.lock is not None:
        warm.lock.close()
    out = subprocess.run(
        [warm.java, *warm.java_opts, "-version"], cwd=tmp_path,
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0 and out.stdout == "", out.stderr
    assert not any("SharedArchiveFile" in o for o in warm.java_opts)


def test_real_conf_file_turns_start_warm_off(cache, tmp_path, monkeypatch):
    """A conf directory holding a file Spark reads gives no CDS options
    and keeps ``SPARK_CONF_DIR``; one holding only templates is swapped
    for the empty directory under the cache."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    warm = session._warm_start()
    warm.lock.close()
    assert warm.conf_dir == str(cache / "conf")
    assert os.listdir(warm.conf_dir) == []

    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert session._warm_start() is None
    assert os.environ["SPARK_CONF_DIR"] == str(conf)


def test_no_recording_where_the_jvm_refuses_it(cache):
    """A JVM that cannot load its base CDS archive (``-Xshare:off`` among
    the caller's options, or a JDK that ships none) refuses to start
    recording, so the session starts cold instead of failing."""
    assert session._warm_start("-Xshare:off") is None
    warm = session._warm_start("-Xss4m")
    warm.lock.close()
    assert "-XX:+RecordDynamicDumpInfo" in warm.java_opts


def test_archive_key_follows_jar_mtime(tmp_path):
    jar = tmp_path / "jars" / "a.jar"
    jar.parent.mkdir()
    jar.write_bytes(b"PK")
    java = session._launcher_java()
    key = session._archive_key(java, str(tmp_path))
    assert session._archive_key(java, str(tmp_path)) == key
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert session._archive_key(java, str(tmp_path)) != key
