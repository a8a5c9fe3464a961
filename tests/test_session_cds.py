"""The driver JVM's class archive (``session`` module docstring): its key, and
the used / built / rejected / off states of real ``get_spark`` processes.

Every session runs in a subprocess with ``XDG_CACHE_HOME`` under
``tmp_path``, so the suite never reads or writes the user's real archive."""

import json
import os
import struct
import subprocess
import sys

import pytest

from folkscope_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Last stdout line: the state and a query's result, as JSON.
SCRIPT = """
import json, sys
from folkscope_spark import session
spark = session.get_spark(app="cds", master="local[2]", shuffle_partitions=2,
                          extra=json.loads(sys.argv[1]))
jvm = spark.sparkContext._jvm
print(json.dumps({"state": session.CDS_STATE,
                  "rows": spark.range(5).count(),
                  "probe": jvm.java.lang.System.getProperty("folkscope.probe")}))
"""


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """An empty cache and a templates-only conf dir, for this process and
    for the subprocesses it starts."""
    conf = tmp_path / "spark-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("spark.foo bar\n")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    return tmp_path / "cache" / "folkscope_spark" / "cds"


def run_session(extra=None):
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, json.dumps(extra or {})],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["rows"] == 5
    # the state is also reported on one stderr line
    assert f"folkscope_spark: class archive {out['state']}" in proc.stderr
    return out


def archive_path():
    plan = session._plan_cds({})
    assert not isinstance(plan, str), plan
    return plan.path


def test_cds_key_tracks_jars_conf_dir_and_java_version(tmp_path):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"x" * 10)
    conf, version = str(tmp_path / "conf"), 'openjdk version "17.0.20"'

    def key(v=version, c=conf):
        return session.cds_key(v, str(home), c)

    base = key()
    assert key() == base
    assert key(v='openjdk version "17.0.21"') != base
    assert key(c=str(tmp_path / "other-conf")) != base
    jar = home / "jars" / "b.jar"
    st = jar.stat()
    jar.write_bytes(b"x" * 11)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert key() != base  # size
    jar.write_bytes(b"x" * 10)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert key() == base
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert key() != base  # mtime
    (home / "jars" / "c.jar").write_bytes(b"")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert key() != base  # one more jar


def test_cds_builds_then_uses_and_rejects_a_damaged_archive(cache, tmp_path):
    path = archive_path()
    key = os.path.basename(path)[: -len(".jsa")]
    # a temp archive left by a process that died before publishing (pid of
    # a reaped child): never taken for the archive, and cleaned up
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    orphan = cache / f"tmp-{dead.pid}-{key}.jsa"
    orphan.write_bytes(b"\0" * 4096)

    assert run_session()["state"] == "built"
    assert os.path.getsize(path) > 1 << 20
    assert not orphan.exists()
    assert sorted(os.listdir(cache)) == sorted(["conf", key + ".jsa"])

    assert run_session()["state"] == "used"
    good = tmp_path / "good.jsa"
    good.write_bytes(open(path, "rb").read())

    # same size, one page of the second region (read-only) overwritten: the
    # JVM logs the first region as mapped, refuses the second by its
    # checksum and unmaps the first; the file goes
    data = bytearray(good.read_bytes())
    ro_offset = struct.unpack_from("<Q", data, 16 + 72 + 24)[0]
    data[ro_offset + 65536 : ro_offset + 69632] = b"\xff" * 4096
    os.chmod(path, 0o644)
    open(path, "wb").write(bytes(data))
    assert run_session()["state"] == "rejected"
    assert not os.path.exists(path)

    # truncated: the JVM would die of SIGBUS mapping it, so it is refused
    # before launch
    open(path, "wb").write(good.read_bytes()[: len(data) // 2])
    assert run_session()["state"] == "rejected"
    assert not os.path.exists(path)
    assert sorted(os.listdir(cache)) == ["conf"]


def test_cds_off_when_the_caller_sets_driver_java_options(cache):
    out = run_session({"spark.driver.extraJavaOptions": "-Dfolkscope.probe=1"})
    assert out["state"] == "off:spark.driver.extraJavaOptions given by the caller"
    assert out["probe"] == "1"  # the caller's options reached the JVM
    assert not cache.exists()


def test_cds_off_when_the_conf_dir_holds_configuration(cache, tmp_path):
    conf = tmp_path / "spark-conf"
    assert not isinstance(session._plan_cds({}), str)  # templates only
    (conf / "spark-defaults.conf").write_text("spark.foo bar\n")
    # the session still starts and runs a query, and says why
    assert run_session()["state"] == f"off:{conf} holds Spark configuration"
    assert not list(cache.glob("*.jsa"))
