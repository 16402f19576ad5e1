"""Session resource defaults, checked without building a session."""

from __future__ import annotations

import os

from etl_projects_spark.session import resource_defaults

GIB = 2**30


def _machine(monkeypatch, cores: int, phys_bytes: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(os, "cpu_count", lambda: cores)
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)


def test_resource_defaults_follow_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _machine(monkeypatch, cores=4, phys_bytes=15 * GIB + GIB // 2)
    assert resource_defaults() == (4, "7g")
    _machine(monkeypatch, cores=128, phys_bytes=512 * GIB)
    assert resource_defaults() == (128, "16g")
    _machine(monkeypatch, cores=1, phys_bytes=GIB)
    assert resource_defaults() == (1, "1g")


def test_resource_defaults_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    _machine(monkeypatch, cores=64, phys_bytes=256 * GIB)
    assert resource_defaults() == (6, "3g")
