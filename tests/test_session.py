"""Session factory and session-scoped memo behaviour: the local driver-memory
default, the merged JVM options, and the scan memo across sessions."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
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
