"""Driver heap sizing for sessions built by ``session.get_spark``."""

from __future__ import annotations

import os

from nyc_taxi_data_pipeline_elt_spark import session


def _fake_host(monkeypatch, phys_bytes: int) -> None:
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])


def test_default_driver_memory_is_half_of_physical_capped(monkeypatch):
    _fake_host(monkeypatch, 15 * 2**30)
    assert session.default_driver_memory() == "7g"
    _fake_host(monkeypatch, 64 * 2**30)
    assert session.default_driver_memory() == "32g"
    _fake_host(monkeypatch, 512 * 2**30)
    assert session.default_driver_memory() == "48g"
    _fake_host(monkeypatch, 1 * 2**30)
    assert session.default_driver_memory() == "1g"
