"""Session defaults resolved without starting a JVM."""

import functools

from progquery_spark import session


def _meminfo(tmp_path, kib):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_capped_at_half_of_memtotal(tmp_path):
    # 15.7 GiB host, 4 cores: the old 16 GiB default exceeded RAM
    assert session.default_driver_memory(4, _meminfo(tmp_path, 16456384)) == "8035m"
    # small host: half of 4 GiB
    assert session.default_driver_memory(4, _meminfo(tmp_path, 4194304)) == "2048m"
    # big host: the core-sized default stands
    assert session.default_driver_memory(32, _meminfo(tmp_path, 512 << 20)) == "65536m"
    # tiny host floors at 1 GiB; an unreadable meminfo keeps the default
    assert session.default_driver_memory(4, _meminfo(tmp_path, 1024)) == "1024m"
    assert session.default_driver_memory(4, str(tmp_path / "missing")) == "16384m"


class _Recorder:
    """Stands in for ``SparkSession.builder``: records confs, starts nothing."""

    def __init__(self):
        self.conf = {}

    def __getattr__(self, name):
        return lambda *a: self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self.conf


def test_get_spark_resolves_heap_from_meminfo_and_env(tmp_path, monkeypatch):
    monkeypatch.setattr(session.SparkSession, "builder", _Recorder())
    monkeypatch.setattr(
        session,
        "default_driver_memory",
        functools.partial(
            session.default_driver_memory, meminfo=_meminfo(tmp_path, 4194304)
        ),
    )
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.get_spark()["spark.driver.memory"] == "2048m"
    monkeypatch.setattr(session.SparkSession, "builder", _Recorder())
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.get_spark()["spark.driver.memory"] == "3g"
