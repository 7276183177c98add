"""get_spark: the tmpfs spark.local.dir default yields to a caller's own
local dir, and is then never created; the default heap fits the host."""

import types

import pytest
from pyspark.sql import SparkSession

from trustgraph_spark import session


@pytest.fixture
def built(monkeypatch):
    """Run get_spark against a stub builder: the options it would set and
    the directories it would create, with a writable /dev/shm."""
    made: list[str] = []
    options: dict = {}
    isdir, access = session.os.path.isdir, session.os.access

    def get_or_create(builder):
        options.update(builder._options)
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)
        )

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    monkeypatch.setattr(session.os, "makedirs", lambda path, **kw: made.append(path))
    monkeypatch.setattr(session.os.path, "isdir", lambda p: p == "/dev/shm" or isdir(p))
    monkeypatch.setattr(session.os, "access", lambda p, m: p == "/dev/shm" or access(p, m))
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    return made, options


def test_tmpfs_local_dir_by_default(built):
    made, options = built
    session.get_spark(cores=2)
    assert made == ["/dev/shm/spark-local"]
    assert options["spark.local.dir"] == "/dev/shm/spark-local"


def test_extra_conf_local_dir_wins(built):
    made, options = built
    session.get_spark(cores=2, extra_conf={"spark.local.dir": "/tmp/mine"})
    assert made == []
    assert options["spark.local.dir"] == "/tmp/mine"


def test_spark_local_dirs_env_wins(built, monkeypatch):
    made, options = built
    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/tmp/env-dirs")
    session.get_spark(cores=2)
    assert made == []
    assert "spark.local.dir" not in options


def test_default_driver_memory_fits_host(built, monkeypatch):
    _, options = built
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    session.get_spark(cores=2)
    assert options["spark.driver.memory"] == "7g"


def test_driver_memory_env_wins(built, monkeypatch):
    _, options = built
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "48g")
    session.get_spark(cores=2)
    assert options["spark.driver.memory"] == "48g"
