"""Host-fit session defaults (filters_spark/session.py)."""

import os

import pytest

from filters_spark.session import default_driver_memory

GiB = 2**30


@pytest.mark.parametrize("ram,heap", [
    (16 * GiB, "4g"), (15.7 * GiB, "4g"), (4 * GiB, "1g"), (2 * GiB, "1g"),
    (64 * GiB, "16g"), (192 * GiB, "48g"), (1024 * GiB, "48g"),
])
def test_driver_memory_is_a_quarter_of_ram_capped(monkeypatch, ram, heap):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": int(ram // 4096)}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    assert default_driver_memory() == heap


def test_driver_memory_on_this_host():
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == f"{min(48, max(1, round(ram / 4 / GiB)))}g"
