"""Session factory defaults that need no JVM (session.py)."""

from __future__ import annotations

import pytest

from cs686_big_data_p1_spark import session


@pytest.mark.parametrize(
    "phys_gib, want",
    [(15, "7680m"), (32, "16384m"), (64, "16384m"), (1, "512m")],
)
def test_default_driver_memory_is_half_the_host_capped_at_16g(
    monkeypatch, phys_gib, want
):
    page = 4096
    pages = phys_gib * (1 << 30) // page
    sysconf = {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": page}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    assert session.default_driver_memory() == want
