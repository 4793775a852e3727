"""Session defaults are derived from the machine, with env overrides; the
driver JVM's JIT flags and the workers' import path reach the processes."""

import json
import os
import subprocess
import sys
import textwrap

import pytest

from logagg import session

# 10x HotSpot's tier-4 defaults (5000, 600, 15000, 40000)
TIER4 = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
}


def tier4_options(spark) -> dict[str, str]:
    """The JVM's effective value of each tier-4 flag. Spark's launcher passes
    ``-XX:+IgnoreUnrecognizedVMOptions``, so a mistyped flag would only
    show here."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return {name: bean.getVMOption(name).getValue() for name in TIER4}


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


def test_driver_jvm_runs_with_tier4_thresholds(spark):
    assert tier4_options(spark) == TIER4


def test_foreign_cwd_worker_imports_and_caller_java_options(tmp_path, pages_cache):
    """From a directory outside the checkout, with no PYTHONPATH: a logagg
    UDF runs in the Python workers, and the caller's extraJavaOptions reach
    the driver JVM next to the tier-4 flags."""
    import pyarrow.parquet as pq

    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {session.PACKAGE_ROOT!r})
        from logagg import parse
        from logagg.session import get_spark
        from tests.test_session import tier4_options

        spark = get_spark(
            master="local[1]",
            extra_conf={{"spark.driver.extraJavaOptions": "-Dlogagg.probe=1"}},
        )
        pages = spark.read.parquet({str(pages_cache / "pages.parquet")!r})
        runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        print(json.dumps({{
            "rows": parse.parsed_records(pages).count(),
            "args": list(runtime.getInputArguments()),
            "tier4": tier4_options(spark),
        }}))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["LOGAGG_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["rows"] == pq.read_metadata(pages_cache / "expected_parsed.parquet").num_rows
    assert "-Dlogagg.probe=1" in got["args"]
    assert got["tier4"] == TIER4
