"""Session defaults (session.py) that depend on the host."""

from __future__ import annotations

from hls_stac_parquet_spark.session import default_driver_memory


def test_driver_memory_is_half_the_host_capped_at_32g(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    small = tmp_path / "small"
    small.write_text("MemTotal:       16479424 kB\nMemFree: 1 kB\n")
    assert default_driver_memory(str(small)) == "8046m"
    big = tmp_path / "big"
    big.write_text("MemTotal:      263842816 kB\n")
    assert default_driver_memory(str(big)) == "32768m"
    assert default_driver_memory(str(tmp_path / "absent")) == "32768m"


def test_driver_memory_env_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    small = tmp_path / "small"
    small.write_text("MemTotal:       16479424 kB\n")
    assert default_driver_memory(str(small)) == "3g"
