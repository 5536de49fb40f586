"""Session factory and session-scoped memo behaviour: the local driver-memory
default, the merged JVM options, the scan memo across sessions, and the
local Python-worker daemon with its zip-directory guard."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from sed_binning_spark import session

_REPO = Path(__file__).resolve().parents[1]


def test_local_driver_memory_follows_host_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    for ram_gib, want in ((16, "8192m"), (15.7, "8038m"), (128, "32768m"), (1, "1024m")):
        monkeypatch.setattr(session, "_host_ram_bytes", lambda r=ram_gib: int(r * 2**30))
        assert session._local_driver_memory() == want
    monkeypatch.setattr(session, "_host_ram_bytes", lambda: None)
    assert session._local_driver_memory() == "32g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._local_driver_memory() == "3g"


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="no procfs")
def test_host_ram_bytes_reads_meminfo():
    # MemTotal and the libc page count are the same kernel figure
    assert session._host_ram_bytes() == os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_user_java_options_merge_with_thp_flag():
    """A caller's spark.driver.extraJavaOptions keeps its own flags and
    gains the THP flag, in the conf and in the launched JVM."""
    script = textwrap.dedent("""
        from sed_binning_spark.session import get_spark
        spark = get_spark(master="local[1]", extra_conf={
            "spark.driver.extraJavaOptions": "-Dsed.conf.merge=yes"})
        print("OPTS=" + spark.sparkContext.getConf().get("spark.driver.extraJavaOptions"))
        print("PROP=" + str(spark.sparkContext._jvm.System.getProperty("sed.conf.merge")))
        spark.stop()
    """)
    env = dict(os.environ, PYTHONPATH=str(_REPO), SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True,
                         text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    lines = dict(ln.split("=", 1) for ln in res.stdout.splitlines() if ln[:5] in ("OPTS=", "PROP="))
    # Spark adds its own module flags in front of the configured ones
    opts = lines["OPTS"].split()
    assert opts[-2:] == ["-Dsed.conf.merge=yes", "-XX:+UseTransparentHugePages"]
    assert lines["PROP"] == "yes"


def test_scan_memo_keeps_one_entry_per_scan_across_sessions(spark, tmp_path):
    """A new session of the same application replaces the old session's
    memo entry for the same scan instead of piling up beside it."""
    sys.path.insert(0, str(_REPO))
    import __spark_entry__ as entry

    path = tmp_path / "scan.parquet"
    path.write_bytes(b"x")
    key = ("memo-test", str(tmp_path))
    built = []
    for s in (spark.newSession(), spark.newSession()):
        df = entry._scan_memo(s, key, str(path), lambda s=s: built.append(s) or s.range(1))
        assert entry._scan_memo(s, key, str(path), lambda: pytest.fail("rebuilt")) is df
    assert len(built) == 2
    assert [k for k in entry._SCAN_MEMO if k[2:-1] == key] == [
        (spark.sparkContext.applicationId, id(built[-1]), *key,
         (path.stat().st_size, path.stat().st_mtime_ns))]


def test_scan_memo_concurrent_misses_prune_one_stale_key(spark, tmp_path, monkeypatch):
    """Two threads missing on the same scan both see its stale entry. Held
    in the prune until both arrive (or a short timeout, when a lock keeps
    the second thread out), an unlocked memo deleted that key twice and
    the second delete raised KeyError."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    sys.path.insert(0, str(_REPO))
    import __spark_entry__ as entry

    barrier = threading.Barrier(2, timeout=2)

    class RendezvousDict(dict):
        def __delitem__(self, key):
            try:
                barrier.wait()
            except threading.BrokenBarrierError:
                pass
            super().__delitem__(key)

    path = tmp_path / "scan.parquet"
    path.write_bytes(b"x")
    key = ("race-test", str(tmp_path))
    memo = RendezvousDict()
    memo[(spark.sparkContext.applicationId, id(spark), *key, "stale")] = None
    monkeypatch.setattr(entry, "_SCAN_MEMO", memo)
    built = object()
    with ThreadPoolExecutor(2) as ex:
        futs = [ex.submit(entry._scan_memo, spark, key, str(path), lambda: built)
                for _ in range(2)]
        assert [f.result() for f in futs] == [built, built]
    assert list(memo.values()) == [built]


def _write_zip(path: Path, *modules: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive holding one imported module, first on sys.path, and a
    counter of the central-directory reads of that archive."""
    archive = tmp_path / "mods.zip"
    names = [f"zguard_{tmp_path.name}_{i}".replace("-", "_") for i in range(2)]
    _write_zip(archive, names[0])
    monkeypatch.syspath_prepend(str(archive))
    for name in names:
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module(names[0])
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    return archive, names, lambda: reads.count(str(archive))


def _guarded(monkeypatch):
    from sed_binning_spark import _worker_daemon

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _worker_daemon._invalidate_if_changed)


def test_zip_guard_keeps_unchanged_archive(zip_on_path, monkeypatch):
    archive, names, reads = zip_on_path
    _guarded(monkeypatch)
    importlib.invalidate_caches()  # an importer without a stamp re-reads once
    before = reads()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads() == before
    assert importlib.import_module(names[0]).NAME == names[0]


def test_zip_guard_rereads_rewritten_archive(zip_on_path, monkeypatch):
    archive, names, reads = zip_on_path
    _guarded(monkeypatch)
    importlib.invalidate_caches()
    _write_zip(archive, *names)
    importlib.invalidate_caches()
    assert importlib.import_module(names[1]).NAME == names[1]


@pytest.mark.parametrize("guard", [False, True])
def test_zip_guard_deleted_archive_behaves_as_stock(zip_on_path, monkeypatch, guard):
    archive, names, reads = zip_on_path
    if guard:
        _guarded(monkeypatch)
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[str(archive)]
    archive.unlink()
    importlib.invalidate_caches()
    assert importer._files == {}
    assert str(archive) not in zipimport._zip_directory_cache
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(names[1])


def test_spark_workers_run_the_zip_guard(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"fn": [f"{fn.__code__.co_filename}:{fn.__name__}"]})

    got = {r.fn for r in spark.range(2, numPartitions=2).mapInPandas(probe, "fn string").collect()}
    assert len(got) == 1
    filename, name = got.pop().rsplit(":", 1)
    assert (Path(filename).name, name) == ("_worker_daemon.py", "_invalidate_if_changed")


def test_python_stages_import_the_package_from_any_cwd(tmp_path):
    """A driver that only path-inserts the package runs a user pandas_udf and
    the library's own mapInPandas extraction: local workers get the package
    directory appended to the caller's PYTHONPATH and start from the
    library's daemon."""
    user_libs = str(tmp_path / "user_libs")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(_REPO)!r})
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F
        from sed_binning_spark.io.hdf5_write import H5Writer
        from sed_binning_spark.loaders.mpes import MpesLoader
        from sed_binning_spark.session import get_spark

        def plus_one(v: pd.Series) -> pd.Series:
            return v + 1

        spark = get_spark(master="local[1]", shuffle_partitions=1,
                          extra_conf={{"spark.executorEnv.PYTHONPATH": {user_libs!r}}})
        print("PATH=" + spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH"))
        udf = F.pandas_udf(plus_one, "long")
        print("UDF=" + str(spark.range(3).select(F.sum(udf("id"))).first()[0]))
        w = H5Writer()
        w.add_dataset("/Stream_0", np.arange(50, dtype=np.float64))
        w.add_attr("/Stream_0", "Name", "X")
        w.add_dataset("/msMarkers", np.array([20, 50], dtype=np.int64))
        w.write("scan.h5")
        ev, _, _ = MpesLoader(spark).read_dataframe(files=["scan.h5"])
        print("ROWS=" + str(ev.count()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    lines = dict(ln.split("=", 1) for ln in res.stdout.splitlines()
                 if ln.split("=", 1)[0] in ("PATH", "UDF", "ROWS"))
    assert lines == {"PATH": os.pathsep.join([user_libs, str(_REPO)]), "UDF": "6", "ROWS": "50"}
