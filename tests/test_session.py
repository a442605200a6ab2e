"""Session-factory defaults that need no JVM."""

from __future__ import annotations

import os

from caraspark import session


def _host(monkeypatch, gib: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])


def test_driver_memory_is_half_a_small_host(monkeypatch):
    monkeypatch.delenv("CARASPARK_DRIVER_MEM", raising=False)
    _host(monkeypatch, 15)
    assert session.default_driver_memory() == "7680m"


def test_driver_memory_is_capped_at_24g(monkeypatch):
    monkeypatch.delenv("CARASPARK_DRIVER_MEM", raising=False)
    _host(monkeypatch, 256)
    assert session.default_driver_memory() == "24576m"


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("CARASPARK_DRIVER_MEM", "2g")
    _host(monkeypatch, 15)
    assert session.default_driver_memory() == "2g"
