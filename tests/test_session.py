"""The engine's default local JVM heap must fit the host it runs on."""

import os

import pytest

from library_beam_spark import session


@pytest.mark.parametrize("phys_gib", [None, 2, 16, 64, 256])
def test_default_driver_mem_fits_physical_memory(monkeypatch, phys_gib):
    page = os.sysconf("SC_PAGE_SIZE")
    if phys_gib is not None:
        real = os.sysconf
        pages = (phys_gib << 30) // page
        monkeypatch.setattr(
            session.os,
            "sysconf",
            lambda name: pages if name == "SC_PHYS_PAGES" else real(name),
        )
    phys = page * os.sysconf("SC_PHYS_PAGES")
    mem = session._default_driver_mem()
    assert mem.endswith("m")
    heap = int(mem[:-1]) << 20
    assert 0 < heap <= phys // 2
    assert heap <= 32 << 30
