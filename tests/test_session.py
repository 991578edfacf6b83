"""The session factory's driver-heap default: about half the memory the
process may use, the lower of MemTotal and the cgroup limit, capped at
48g — read from faked memory files, so no JVM starts."""

from chainweb_data_spark import session


def _fake(monkeypatch, tmp_path, meminfo_kb=None, cgroup=None):
    meminfo = tmp_path / "meminfo"
    limit = tmp_path / "memory.max"
    if meminfo_kb is not None:
        meminfo.write_text(
            f"MemTotal:       {meminfo_kb} kB\nMemFree:        1024 kB\n"
        )
    if cgroup is not None:
        limit.write_text(f"{cgroup}\n")
    monkeypatch.setattr(session, "MEMINFO", str(meminfo))
    monkeypatch.setattr(session, "CGROUP_MEMORY_MAX", str(limit))


def test_half_of_mem_total(monkeypatch, tmp_path):
    _fake(monkeypatch, tmp_path, meminfo_kb=16 * 2**20)  # 16 GiB
    assert session.default_driver_memory() == "8192m"


def test_a_lower_cgroup_limit_wins(monkeypatch, tmp_path):
    _fake(monkeypatch, tmp_path, meminfo_kb=16 * 2**20, cgroup=4 * 2**30)
    assert session.default_driver_memory() == "2048m"


def test_an_unlimited_cgroup_falls_back_to_mem_total(monkeypatch, tmp_path):
    _fake(monkeypatch, tmp_path, meminfo_kb=16 * 2**20, cgroup="max")
    assert session.default_driver_memory() == "8192m"


def test_capped_at_48g(monkeypatch, tmp_path):
    _fake(monkeypatch, tmp_path, meminfo_kb=512 * 2**20)  # 512 GiB
    assert session.default_driver_memory() == "49152m"
    empty = tmp_path / "empty"
    empty.mkdir()
    _fake(monkeypatch, empty)  # nothing readable
    assert session.default_driver_memory() == "49152m"
