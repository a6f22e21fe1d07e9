"""session: the driver heap default stays under physical memory."""

from __future__ import annotations

import os

from samyama_graph_spark.session import default_driver_memory

PAGE = 4096


def _box(monkeypatch, ram: int) -> None:
    sizes = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": ram // PAGE}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)


def test_driver_memory_is_three_quarters_of_a_small_box(monkeypatch):
    _box(monkeypatch, 16 << 30)
    assert default_driver_memory() == "12288m"


def test_driver_memory_caps_at_24g_on_a_large_box(monkeypatch):
    _box(monkeypatch, 32 << 30)
    assert default_driver_memory() == "24576m"
    _box(monkeypatch, 256 << 30)
    assert default_driver_memory() == "24576m"
