"""The engine's Python worker daemon (parquet_playground_spark/pyworker.py)
and the Unix sockets its workers talk over.

Its ``zipimporter.invalidate_caches`` must skip re-reading an archive
that has not changed and still re-read one that has; the workers of a
``get_spark`` session must be forked from it; and they must reach the
JVM over Unix sockets in a private dir whose socket paths fit in
``sun_path``, however long the temp dir's path is.
"""

from __future__ import annotations

import importlib
import json
import os
import stat
import subprocess
import sys
import tempfile
import uuid
import zipfile
import zipimport

import pytest

from parquet_playground_spark import pyworker
from parquet_playground_spark.session import _private_dir
from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Linux's sun_path: 107 bytes and a NUL
SUN_PATH_MAX = 107

zipimport_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13's zipimporter.invalidate_caches only drops its cache; the daemon leaves it",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@zipimport_patch
def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    # monkeypatch restores the stock function after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pyworker.install()
    archive = str(tmp_path / "pp_mods.zip")
    _write_zip(archive, {"pp_zip_one": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("pp_zip_one", "pp_zip_two"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pp_zip_one").X == 1
    importer = sys.path_importer_cache[archive]

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )
    importer.invalidate_caches()  # no signature recorded yet: one read
    importer.invalidate_caches()
    assert reads == [archive]

    _write_zip(archive, {"pp_zip_one": "X = 1\n", "pp_zip_two": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("pp_zip_two").Y == 2
    assert reads == [archive, archive]


@zipimport_patch
def test_session_workers_run_the_engine_invalidate_caches(spark):
    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        who = f"{os.path.realpath(fn.__code__.co_filename)}:{fn.__name__}"
        yield pa.RecordBatch.from_pydict({"who": [who]})

    rows = spark.range(1, numPartitions=1).mapInArrow(probe, "who string").collect()
    expected = f"{os.path.realpath(pyworker.__file__)}:invalidate_caches_if_changed"
    assert [r["who"] for r in rows] == [expected]


def _sock_dir_fits(sock_dir: str) -> bool:
    """Whether Spark accepts ``sock_dir`` (at most 61 characters) and
    PySpark's socket path ``<dir>/.<uuid4>.sock`` fits in sun_path."""
    sock = os.path.join(sock_dir, f".{uuid.uuid4()}.sock")
    return len(sock_dir) <= 61 and len(os.fsencode(sock)) <= SUN_PATH_MAX


def test_session_workers_use_unix_sockets_in_a_private_dir(spark):
    def probe(batches):
        import os

        import pyarrow as pa

        for _ in batches:
            pass
        sock_dir = os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR", "")
        yield pa.RecordBatch.from_pydict(
            {
                "uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")],
                "dir": [sock_dir],
                "mode": [os.stat(sock_dir).st_mode & 0o777],
                "socks": [sorted(os.listdir(sock_dir))],
            }
        )

    schema = "uds string, dir string, mode long, socks array<string>"
    [row] = spark.range(1, numPartitions=1).mapInArrow(probe, schema).collect()
    assert row["uds"].lower() == "true"
    assert row["dir"] == spark.conf.get("spark.python.unix.domain.socket.dir")
    assert _sock_dir_fits(row["dir"])
    assert row["mode"] == 0o700
    # the daemon's socket and the accumulator server's, at least
    assert len(row["socks"]) >= 2
    for name in row["socks"]:
        assert len(os.fsencode(os.path.join(row["dir"], name))) <= SUN_PATH_MAX


_LONG_TMP_RUN = """
import json, sys
from parquet_playground_spark import registry, session
registry.load_all()
spark = session.get_spark("uds-long-tmp")
rows = registry.QUERIES["udf_arrow_map"](spark, sys.argv[1]).collect()
print(json.dumps({"rows": len(rows),
                  "dir": spark.conf.get("spark.python.unix.domain.socket.dir")}))
"""


@pytest.mark.parametrize("tmp_len", [44, 120])
def test_long_temp_dir_keeps_socket_paths_short(tmp_len, oracle_con):
    """perfbench puts TMPDIR and java.io.tmpdir inside the checkout. A
    44-byte temp dir puts scratch_path("uds") at 62-64 characters for a
    5- to 7-digit pid: its socket paths fit in sun_path, but Spark
    fails every Python task on a socket dir over 61 characters. Under a
    120-byte temp dir the socket paths do not fit at all, and the
    accumulator server's bind fails session start. Either way the
    session must fall back to a short dir and remove it at exit."""
    from parquet_playground_spark import registry

    with tempfile.TemporaryDirectory(dir="/tmp") as root:
        pad = tmp_len - len(os.fsencode(root)) - len("/t")
        tmp, jtmp = os.path.join(root, "t" + "d" * pad), os.path.join(root, "j" + "d" * pad)
        os.mkdir(tmp)
        os.mkdir(jtmp)
        assert len(os.fsencode(tmp)) == tmp_len
        env = {
            **os.environ,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={jtmp}",
            "SPARK_GRAFT_CPUS": "2",
            "SPARK_GRAFT_DRIVER_MEM": "1g",
        }
        proc = subprocess.run(
            [sys.executable, "-c", _LONG_TMP_RUN, SF_DIR],
            cwd=ROOT,
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert not [n for n in os.listdir(tmp) if n.startswith("ppspark_uds_")]
    registry.load_all()
    assert out["rows"] == len(oracle_con.sql(registry.ORACLES["udf_arrow_map"]).fetchall())
    assert _sock_dir_fits(out["dir"])
    assert os.path.basename(out["dir"]).startswith("ppspark_uds_")
    assert not os.path.exists(out["dir"])


def test_private_dir_is_0700_and_refuses_a_link(tmp_path):
    existing = tmp_path / "open"
    existing.mkdir(mode=0o755)
    assert _private_dir(str(existing)) == str(existing)
    assert stat.S_IMODE(existing.stat().st_mode) == 0o700

    link = tmp_path / "link"
    link.symlink_to(existing)
    with pytest.raises(PermissionError):
        _private_dir(str(link))
