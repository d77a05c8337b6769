"""Local session sizing (``session.session_sizing``): the cores the
process may use and a quarter of physical memory between 1 and 8 GiB,
unless ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM`` say otherwise. No JVM
is started."""

from __future__ import annotations

import os

import pytest

from data_integration_spark import session


@pytest.fixture
def machine(monkeypatch):
    """A fake machine: ``cores`` usable cores and ``ram`` bytes."""

    def make(cores: int, ram: int):
        monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cores)))
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram // 4096}
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    return make


@pytest.mark.parametrize(
    "ram_gib, heap",
    [(15, "3840m"), (2, "1024m"), (64, "8192m"), (16, "4096m")],
)
def test_defaults_follow_the_machine(machine, ram_gib, heap):
    machine(cores=4, ram=ram_gib * 2**30)
    assert session.session_sizing() == ("4", heap)


def test_environment_wins(machine, monkeypatch):
    machine(cores=4, ram=15 * 2**30)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "6g")
    assert session.session_sizing() == ("2", "6g")


def test_defaults_on_this_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    cpus, mem = session.session_sizing()
    assert int(cpus) == len(os.sched_getaffinity(0)) >= 1
    assert mem.endswith("m") and 1024 <= int(mem[:-1]) <= 8192
