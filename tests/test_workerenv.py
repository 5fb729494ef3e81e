"""Python-worker start-up contract: UDF and RDD workers fork from one
preloaded ``osm2ch_spark.pydaemon``, unchanged zips are not re-read per
task, a session leaves no temp dirs behind, and scratch space lands on
tmpfs only when it fits."""

import importlib
import os
import subprocess
import sys
import tempfile
import types
import zipfile
import zipimport

import pytest

from osm2ch_spark import pydaemon, session
from osm2ch_spark.session import shuffle_partitions

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_udf_workers_fork_from_preloaded_daemon(spark):
    def probe(batches):
        import os
        import sys

        loaded = " ".join(m for m in ("pandas", "pyarrow", "osm2ch_spark.geom")
                          if m in sys.modules)
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().replace(b"\0", b" ").decode()
        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"loaded": [loaded], "parent": [parent]})

    rows = spark.range(8, numPartitions=4).mapInPandas(
        probe, "loaded string, parent string").collect()
    assert len(rows) == 4
    for r in rows:
        assert r.loaded == "pandas pyarrow osm2ch_spark.geom"
        assert "osm2ch_spark.pydaemon" in r.parent.split(), r.parent


def test_rdd_and_arrow_tasks_share_one_daemon(spark):
    """An RDD Python job and a mapInPandas job in one session fork their
    workers from the same daemon: a second daemon would start, with its
    own cold workers, inside the first Arrow pass."""
    def daemon_pid(_):
        import os

        return os.getppid()

    def probe(batches):
        import os

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"daemon": [os.getppid()]})

    rdd_daemons = set(spark.sparkContext.parallelize(range(4), 4).map(daemon_pid).collect())
    arrow_daemons = {r.daemon for r in spark.range(8, numPartitions=4)
                     .mapInPandas(probe, "daemon long").collect()}
    assert len(rdd_daemons) == 1
    assert arrow_daemons == rdd_daemons


def test_session_skips_call_site_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    spark.range(1).count()
    assert not is_debugging_enabled()


@pytest.mark.parametrize("free_gb, total_gb, cgroup_gb, on_shm", [
    (64, 128, None, True),   # the 32 GB guard is a quarter of RAM
    (40, 64, None, True),    # exactly half of RAM
    (40, 48, None, False),   # the guard would take two thirds of RAM
    (16, 256, None, False),  # too little free on the mount
    (64, 128, 15, False),    # tmpfs pages count against a 15 GB cgroup
    (64, 128, 64, True),     # a cgroup limit twice the guard
])
def test_local_dir_caps_tmpfs_by_ram(tmp_path, monkeypatch, free_gb, total_gb, cgroup_gb,
                                     on_shm):
    shm = tmp_path / "shm"
    shm.mkdir()
    monkeypatch.delenv("OSM2CH_LOCAL_DIR", raising=False)
    monkeypatch.setattr(session, "_SHM", str(shm))
    monkeypatch.setattr(os, "statvfs", lambda path: types.SimpleNamespace(
        f_bavail=free_gb * 1024**3 // 4096, f_frsize=4096))
    monkeypatch.setattr(session, "_meminfo_bytes", lambda field: {
        "MemTotal": total_gb * 1024**3}.get(field))
    monkeypatch.setattr(session, "_cgroup_limit_bytes",
                        lambda: cgroup_gb and cgroup_gb * 1024**3)
    expected = str(shm / "osm2ch-spark-local") if on_shm else tempfile.gettempdir()
    assert session._default_local_dir() == expected
    monkeypatch.setenv("OSM2CH_LOCAL_DIR", str(tmp_path / "nvme"))
    assert session._default_local_dir() == str(tmp_path / "nvme")


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zip invalidation is lazy from 3.13")
def test_zip_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    archive = tmp_path / "shipped.zip"

    def write(**modules):
        with zipfile.ZipFile(archive, "w") as z:
            for name, src in modules.items():
                z.writestr(f"{name}.py", src)

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    write(zipinv_old="X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zipinv_old").X == 1
        pydaemon.install_zip_invalidation()
        monkeypatch.setattr(zipimport, "_read_directory", counting)

        write(zipinv_old="X = 1\n", zipinv_new="Y = 2\n")  # a different size
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("zipinv_new").Y == 2

        reads.clear()
        importlib.invalidate_caches()
        assert str(archive) not in reads
    finally:
        for name in ("zipinv_old", "zipinv_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_shuffle_partitions_falls_back_when_not_numeric():
    def stub(value):
        return types.SimpleNamespace(
            conf=types.SimpleNamespace(get=lambda key: value),
            sparkContext=types.SimpleNamespace(defaultParallelism=6),
        )

    assert shuffle_partitions(stub("12")) == 12
    assert shuffle_partitions(stub("auto")) == 6


def test_session_leaves_no_pyfiles_dir(tmp_path):
    """The shipped package zip is built once per process, under TMPDIR,
    and its directory is gone once the process exits."""
    env = {**os.environ, "TMPDIR": str(tmp_path), "SPARK_GRAFT_CPUS": "1",
           "SPARK_DRIVER_MEMORY": "1g"}
    code = (
        "from osm2ch_spark import get_spark\n"
        "from osm2ch_spark.session import make_pyfiles_zip\n"
        "s = get_spark()\n"
        "print(s.range(3).count(), make_pyfiles_zip() == make_pyfiles_zip())\n"
        "print(make_pyfiles_zip())\n"
        "s.stop()\n"
    )
    r = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                       capture_output=True, text=True, timeout=180)
    assert r.returncode == 0, r.stderr[-2000:]
    *_, counted, zip_path = r.stdout.splitlines()
    assert counted == "3 True"
    assert zip_path.startswith(str(tmp_path))
    assert not list(tmp_path.glob("osm2ch_spark_pyfiles_*"))
