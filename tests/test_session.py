"""Session defaults that are decided without starting a JVM."""

from sonnerie_spark.session import driver_memory


def _mib(v: str) -> int:
    n, unit = int(v[:-1]), v[-1]
    return n * {"m": 1, "g": 1024}[unit]


def test_driver_memory_env_wins(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert driver_memory() == "5g"
    assert driver_memory(str(tmp_path / "absent")) == "5g"


def test_driver_memory_half_of_host_capped(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    got = _mib(driver_memory())
    assert 0 < got <= total_kib // 2048 and got <= 30 * 1024

    def fake(kib):
        p = tmp_path / f"meminfo-{kib}"
        p.write_text(f"MemFree:  1 kB\nMemTotal:  {kib} kB\n")
        return driver_memory(str(p))

    assert fake(16 * 1024 * 1024) == "8192m"  # 16 GiB host -> 8 GiB
    assert fake(256 * 1024 * 1024) == "30720m"  # big host: the 30g cap
    assert driver_memory(str(tmp_path / "absent")) == "30g"
