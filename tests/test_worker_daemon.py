"""The Python worker daemon: zip directories re-read only when their
archive changes, and a session whose workers start it from any cwd."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from osm_read_enhanced_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)  # a new inode, as a redeployed archive gets


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "zpkg.zip")
    modules = {
        "zpkg/__init__.py": "",
        "zpkg/sub/__init__.py": "",
        "zpkg/sub/deep/__init__.py": "",
        "zpkg/sub/deep/mod.py": "VALUE = 1\n",
    }
    _write_zip(archive, modules)
    monkeypatch.syspath_prepend(archive)
    for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
        monkeypatch.delitem(sys.modules, name)
    assert importlib.import_module("zpkg.sub.deep.mod").VALUE == 1

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    # importing the module patched nothing and started no manager
    assert zipimport.zipimporter.invalidate_caches is not worker_daemon.invalidate_caches
    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter) and f.archive == archive]
    assert len(importers) >= 3  # the archive root and one per package
    importlib.invalidate_caches()
    assert reads.count(archive) == len(importers)  # stock: one read per importer

    monkeypatch.setattr(worker_daemon, "_STAMPS", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # no stamp yet: read once, then stamped
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {**modules, "zpkg/sub/fresh.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zpkg.sub.fresh").VALUE == 2
    assert all(f._files is zipimport._zip_directory_cache[archive] for f in importers)


def test_session_workers_start_the_daemon_from_any_cwd(tmp_path):
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {ROOT!r})
        from osm_read_enhanced_spark.session import get_spark

        spark = get_spark("daemon-test", cores=2)

        def daemon_module(_):
            import os, zipimport
            return os.path.basename(zipimport.zipimporter.invalidate_caches.__code__.co_filename)

        def plus_one(batches):
            for rb in batches:
                yield rb.set_column(0, "id", rb.column(0).to_numpy() + 1)

        mapped = spark.sparkContext.parallelize(range(4), 2).map(daemon_module).collect()
        arrow = spark.range(0, 4, 1, 2).mapInArrow(plus_one, "id long").collect()
        print(json.dumps({{
            "conf": spark.conf.get("spark.python.daemon.module"),
            "mapped": sorted(set(mapped)),
            "arrow": sorted(r.id for r in arrow),
        }}))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {
        "conf": "osm_read_enhanced_spark.worker_daemon",
        "mapped": ["worker_daemon.py"],
        "arrow": [1, 2, 3, 4],
    }
