"""The worker daemon's stat-gated zipimport cache, and its wiring into Spark."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from folkscope_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def patched(monkeypatch):
    """Install the patch over a call-counting ``_read_directory``; undone after."""
    reads = []
    inner = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return inner(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()
    return reads


def test_invalidate_caches_rereads_only_a_changed_archive(
    tmp_path, monkeypatch, patched
):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for m in ("wd_mod_a", "wd_mod_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)

    def reads():
        return patched.count(archive)

    import wd_mod_a

    assert wd_mod_a.X == 1
    assert reads() == 1  # the importer's own first read

    # unchanged archive: no re-read
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads() == 1

    # rewritten archive (new size and mtime) adding module b: one re-read
    st = os.stat(archive)
    _write_zip(archive, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads() == 2
    import wd_mod_b

    assert wd_mod_b.Y == 2
    importlib.invalidate_caches()
    assert reads() == 2

    # deleted archive: the original behaviour, an empty directory and no error
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    sys.path_importer_cache.pop(archive, None)


def test_local_session_workers_run_from_worker_daemon():
    from folkscope_spark.session import IMPORT_ROOT, get_spark

    spark = get_spark(app="wd", master="local[2]", shuffle_partitions=2)

    def probe(batches):
        import zipimport as zi

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"m": [zi.zipimporter.invalidate_caches.__module__]})

    got = {
        r.m
        for r in spark.range(4, numPartitions=2)
        .mapInPandas(probe, "m string")
        .collect()
    }
    conf = spark.sparkContext.getConf()
    assert got == {"folkscope_spark.worker_daemon"}
    assert conf.get("spark.python.daemon.module") == "folkscope_spark.worker_daemon"
    assert conf.get("spark.executorEnv.PYTHONPATH") == IMPORT_ROOT
    assert os.path.isdir(os.path.join(IMPORT_ROOT, "folkscope_spark"))


def test_get_spark_fails_loudly_when_workers_cannot_start():
    """A daemon that cannot start fails the session prewarm, not a later stage."""
    script = (
        "from folkscope_spark.session import get_spark\n"
        "get_spark(app='broken', master='local[1]', shuffle_partitions=1,\n"
        "          extra={'spark.python.daemon.module': 'folkscope_spark.no_such'})\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode != 0
    assert "no_such" in proc.stderr
