"""Session defaults are derived from the machine, with env overrides."""

import pytest

from logagg import session


@pytest.fixture
def machine(monkeypatch):
    """A fake 3-core machine with ``ram_gib`` of physical RAM."""

    def _set(ram_gib: int) -> None:
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib * 2**30 // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("LOGAGG_DRIVER_MEM", raising=False)
    return _set


def test_defaults_derived_from_machine(machine):
    machine(15)
    assert session.default_cpus() == 3
    assert session.default_driver_memory() == f"{15 * 1024 // 2}m"  # half of RAM
    machine(64)
    assert session.default_driver_memory() == "16384m"  # capped at 16g


def test_env_overrides_derived_defaults(machine, monkeypatch):
    machine(15)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setenv("LOGAGG_DRIVER_MEM", "2g")
    assert session.default_cpus() == 6
    assert session.default_driver_memory() == "2g"


def test_cli_cpus_defaults_to_session(monkeypatch):
    """Without ``--cpus`` the CLI leaves the master to the session default;
    with it, the master is local[N] and shuffle partitions follow from it."""
    import logagg.__main__ as cli

    calls = []

    class _Stop(Exception):
        pass

    def fake_get_spark(**kwargs):
        calls.append(kwargs)
        raise _Stop

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    for cpus in ([], ["--cpus", "3"]):
        with pytest.raises(_Stop):
            cli.main([*cpus, "find", "--sf-dir", "unused", "--node", "n00"])
    assert calls == [
        {"app_name": "logagg-cli", "master": None},
        {"app_name": "logagg-cli", "master": "local[3]"},
    ]
