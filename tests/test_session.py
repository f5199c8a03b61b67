"""Session defaults follow the machine they run on."""

from __future__ import annotations

import os

from duwamish_spark import session


def _mb(size: str) -> int:
    assert size.endswith("m")
    return int(size[:-1])


def test_default_heap_within_physical_memory():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = _mb(session.default_driver_memory()) << 20
    assert 0 < heap <= phys


def test_default_heap_is_three_eighths_of_memory(monkeypatch):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (128 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session.default_driver_memory() == "49152m"  # 48g on 128 GiB
