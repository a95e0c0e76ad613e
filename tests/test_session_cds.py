"""The driver JVM's class-data-sharing archive: dumped by the first
session, adopted once complete, mapped by later sessions, removed once
a JVM rejects it, and left out wherever it cannot be used.

The session tests run each session in a child process whose script
points ``session._CDS_DIR`` at a directory under ``tmp_path``."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from osm_read_enhanced_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = textwrap.dedent(
    """
    import json, os, signal, sys
    sys.path.insert(0, {root!r})
    from osm_read_enhanced_spark import session
    from pyspark import SparkContext

    session._CDS_DIR = sys.argv[1]
    conf = {{"spark.driver.memory": "1g", "spark.driver.extraJavaOptions": "-Dcds.probe=7"}}
    if sys.argv[3]:
        conf["spark.driver.extraClassPath"] = sys.argv[3]
    spark = session.get_spark("cds-test", cores=1, extra_conf=conf)
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{{pid}}/maps") as fh:
        mapped = sorted({{l.split()[-1] for l in fh if sys.argv[1] in l}})
    out = {{
        "mapped": mapped,
        "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
        "class_path": jvm.java.lang.System.getProperty("java.class.path"),
        "marker": spark.conf.get("spark.cds.marker", None),
        "rows": spark.range(5).count(),
    }}
    print(json.dumps(out), flush=True)
    proc = SparkContext._gateway.proc
    if sys.argv[2] == "kill":  # the JVM dies before it can dump
        os.kill(pid, signal.SIGKILL)
        proc.wait()
    else:  # stop as perfbench's stop_session does
        spark.stop()
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    """
)


def _session(tmp_path, cds_dir, end="stop", env=None, jar="") -> dict:
    """Run one child session, with ``jar`` first on its classpath; its
    stdout must be exactly the one line the script prints."""
    script = tmp_path / "child.py"
    script.write_text(CHILD.format(root=ROOT))
    done = subprocess.run(
        [sys.executable, str(script), str(cds_dir), end, str(jar)],
        capture_output=True, text=True, timeout=240, cwd=str(tmp_path),
        env={**os.environ, **(env or {})},
    )
    assert done.returncode == 0, done.stderr[-3000:]
    lines = done.stdout.splitlines()
    assert len(lines) == 1, done.stdout[:2000]
    return json.loads(lines[0])


def _archives(cds_dir) -> list[str]:
    return sorted(
        os.path.join(cds_dir, d, "archive.jsa")
        for d in os.listdir(cds_dir)
        if os.path.isfile(os.path.join(cds_dir, d, "archive.jsa"))
    )


def _cds_args(args) -> list[str]:
    return [a for a in args if a.startswith(session._CDS_FLAGS)]


def _small_jar(dest) -> str:
    """A copy of the smallest Spark jar at ``dest``."""
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars")
    name = min(os.listdir(jars), key=lambda n: os.path.getsize(os.path.join(jars, n)))
    shutil.copy2(os.path.join(jars, name), dest)
    return str(dest)


@pytest.fixture(scope="module")
def adopted(tmp_path_factory):
    """The first session in an empty archive directory maps nothing,
    dumps at exit and has its archive adopted; → (its result, the
    directory, the adopted archive, the jar the sessions put first on
    their classpath)."""
    tmp = tmp_path_factory.mktemp("cds-first")
    cds_dir = tmp / "cds"
    jar = _small_jar(tmp / "probe.jar")
    first = _session(tmp, cds_dir, jar=jar)
    archives = _archives(cds_dir)
    assert archives == [str(cds_dir / "archive" / "archive.jsa")]
    assert sorted(os.listdir(cds_dir)) == ["archive", "conf"]  # no temp directory is left
    return first, cds_dir, archives[0], jar


def test_first_session_dumps_then_second_maps(adopted, tmp_path):
    first, cds_dir, archive, jar = adopted
    assert first["mapped"] == [] and first["rows"] == 5
    assert "-Dcds.probe=7" in first["args"]  # the caller's options still apply
    assert first["class_path"].split(os.pathsep)[0] == jar
    (flag,) = [a for a in _cds_args(first["args"]) if "Archive" in a]
    assert flag.startswith("-XX:ArchiveClassesAtExit=")

    second = _session(tmp_path, cds_dir, jar=jar)
    assert second["mapped"] == [archive] and second["rows"] == 5
    assert "-Dcds.probe=7" in second["args"]
    assert f"-XX:SharedArchiveFile={archive}" in second["args"]
    assert _archives(cds_dir) == [archive]


def test_truncated_archive_and_killed_dump_never_map(adopted, tmp_path):
    _, cds_dir, archive, _ = adopted
    with open(archive, "rb") as fh:
        head = fh.read(16 << 20)
    # an adopted archive cut short after its adoption ...
    trunc_dir = tmp_path / "cds"
    (trunc_dir / "archive").mkdir(parents=True)
    shutil.copy(os.path.join(os.path.dirname(archive), "meta.json"), trunc_dir / "archive")
    (trunc_dir / "archive" / "archive.jsa").write_bytes(head[: len(head) // 2])
    # ... and a complete-looking temp of a dump whose owner is gone: the
    # header is there but the file stops short, so a JVM that mapped it
    # would fault
    stale = trunc_dir / f"{2**22 + 1}-deadbeef.tmp"
    stale.mkdir()
    shutil.copy(trunc_dir / "archive" / "meta.json", stale / "meta.json")
    (stale / "archive.jsa").write_bytes(head)

    # the session maps neither and dumps anew, but its JVM is killed: at
    # the child's exit the dump's temp is swept and nothing is adopted
    out = _session(tmp_path, trunc_dir, end="kill")
    assert out["mapped"] == [] and out["rows"] == 5
    assert [a for a in _cds_args(out["args"]) if "SharedArchiveFile" in a] == []
    assert sorted(os.listdir(trunc_dir)) == ["conf"]


def test_touched_jar_gets_the_archive_rejected_and_removed(adopted, tmp_path):
    """Runs after the tests above. The JVM checks every classpath jar's
    mtime against the archive's: it runs without the archive, and the
    session removes it so that the next session dumps a fresh one."""
    _, cds_dir, archive, jar = adopted
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    out = _session(tmp_path, cds_dir, jar=jar)
    assert out["mapped"] == [] and out["rows"] == 5
    assert f"-XX:SharedArchiveFile={archive}" in out["args"]
    assert sorted(os.listdir(cds_dir)) == ["conf"]


def test_non_template_conf_dir_keeps_spark_conf(tmp_path):
    conf = tmp_path / "spark-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cds.marker 42\n")
    cds_dir = tmp_path / "cds"
    out = _session(tmp_path, cds_dir, env={"SPARK_CONF_DIR": str(conf)})
    assert out["marker"] == "42"  # Spark read the real conf directory
    assert out["class_path"].split(os.pathsep)[0].rstrip("/") == str(conf)
    assert _cds_args(out["args"]) == [] and out["mapped"] == []
    assert "-Dcds.probe=7" in out["args"]
    assert not os.path.exists(cds_dir)


def test_cds_flags_conf_dirs_or_unwritable_dir_leave_archive_out(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "_CDS_DIR", str(tmp_path / "cds"))
    assert session._cds_plan("-Xms1g -Xshare:off") is None
    # the JVM would refuse to start with this flag and a dump flag
    assert session._cds_plan("-Xms1g --patch-module=java.base=/x.jar") is None
    hadoop = tmp_path / "hadoop-conf"
    hadoop.mkdir()
    (hadoop / "core-site.xml").write_text("<configuration/>")
    monkeypatch.setenv("HADOOP_CONF_DIR", str(hadoop))
    assert session._cds_plan("-Xms1g") is None
    monkeypatch.delenv("HADOOP_CONF_DIR")
    assert not os.path.exists(tmp_path / "cds")
    blocker = tmp_path / "file"
    blocker.write_text("")
    monkeypatch.setattr(session, "_CDS_DIR", str(blocker / "cds"))
    assert session._cds_plan("-Xms1g") is None


def test_sweep_survives_a_concurrent_adoption(tmp_path, monkeypatch):
    """Two sessions sweep the same finished temp directory: the other
    one renames it into place while this one checks it."""
    monkeypatch.setattr(session, "_CDS_DIR", str(tmp_path))
    final = tmp_path / "archive"

    def dump(name):
        tmp = tmp_path / name
        tmp.mkdir()
        (tmp / "archive.jsa").write_bytes(b"x" * 10)
        (tmp / "meta.json").write_text(json.dumps({"class_path": "/cp"}))
        return tmp

    def other_session_adopts(java, tmp):
        os.rename(tmp, final)
        return True

    tmp = dump(f"{os.getpid()}-00000001.tmp")
    monkeypatch.setattr(session, "_maps", other_session_adopts)
    session._sweep("java")
    assert sorted(os.listdir(tmp_path)) == ["archive"]
    assert not tmp.exists() and (final / "archive.jsa").exists()

    # with an archive in place, a later finished dump is removed unchecked
    late = dump(f"{os.getpid()}-00000002.tmp")
    monkeypatch.setattr(session, "_maps", lambda java, tmp: pytest.fail("checked"))
    session._sweep("java")
    assert sorted(os.listdir(tmp_path)) == ["archive"] and not late.exists()
