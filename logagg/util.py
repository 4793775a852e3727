"""Small shared utilities for operator lifecycle: result materialization and
the scratch-storage contract of every iterative (fixpoint) operator."""

from __future__ import annotations

import itertools
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def check_materialize(mode: str, out_path: str | None) -> None:
    """Validate a ``materialize`` mode and its ``out_path`` (see
    :func:`materialize`). Operators call this before any job runs, so a bad
    argument cannot waste the computation it would have landed."""
    if mode not in ("local", "path"):
        raise ValueError(f"materialize must be 'local' or 'path', got {mode!r}")
    if mode == "path" and not out_path:
        raise ValueError("materialize='path' requires out_path")


def materialize_local(df: DataFrame) -> DataFrame:
    """Materialize a provably-small result through Arrow and rebuild it as a
    local DataFrame, cutting all lineage so upstream persisted intermediates
    can be released immediately (no cached RDDs outlive the operator call).

    Only for outputs bounded by design — duplicate-pair lists, top-k tables.
    At production scale the equivalent safe point is writing the result to a
    table (``materialize(..., mode="path")``); this is the in-session analog.
    """
    spark = df.sparkSession
    pdf = df.toPandas()
    return spark.createDataFrame(pdf, schema=df.schema)


def materialize(df: DataFrame, mode: str = "local", path: str | None = None) -> DataFrame:
    """Freeze an operator result, cutting lineage so upstream caches can be
    released and recompute-unstable expressions (monotonically_increasing_id)
    cannot be re-evaluated.

    mode="local"
        Arrow round-trip through the driver (:func:`materialize_local`).
        Only for results provably bounded by design; the oracle-scale
        default.
    mode="path"
        Write to parquet at ``path`` and read back — the 100 TB path: the
        result never visits the driver (a template-heavy crawl can yield a
        pair list of billions of rows that no driver holds), and downstream
        consumers (clustering, sinks, bench actions) read it like any other
        table. ``path`` must be executor-reachable storage on a real
        cluster (the :func:`scratch` contract).

    A "lazy" mode is deliberately NOT offered: the dedup operators release
    their persisted intermediates before returning, so a lazily-returned
    plan would silently recompute the whole upstream (double UDF passes) on
    first action — worse than either explicit mode.
    """
    check_materialize(mode, path)
    if mode == "local":
        return materialize_local(df)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def checkpoint_root(spark: SparkSession, what: str) -> str | None:
    """Executor-reachable root for state an operator lands mid-run: the
    session's ``sparkContext`` checkpoint dir when one is set (executor-
    reachable by contract), else None on a local master, where driver-local
    storage is every executor's storage. On any other master a driver-local
    path is invisible to remote executors — silently empty or partial
    reads, not an error — so ``what`` is refused before any job runs."""
    root = spark.sparkContext.getCheckpointDir()
    if root:
        return root.rstrip("/")
    if not spark.conf.get("spark.master", "").startswith("local"):
        raise ValueError(
            f"{what} needs an explicit executor-reachable checkpoint_dir (or "
            "spark.sparkContext.setCheckpointDir) on a non-local master — "
            "the default is a driver-local path"
        )
    return None


class Scratch:
    """The landing zone :func:`scratch` yields. ``land(df)`` writes ``df``
    to a fresh parquet subdir and reads it back: the lineage cut of a
    fixpoint loop. Unlike ``localCheckpoint`` it survives executor loss and
    pins no cached RDD."""

    def __init__(self, spark: SparkSession, base: str, kept: bool) -> None:
        self.spark = spark
        self.base = base
        self.kept = kept  # the dir outlives the block: results may read from it
        self._n = itertools.count()

    def path(self) -> str:
        # unique per call, nothing reused or deleted mid-run: a plan built
        # earlier may still read ANY earlier landing, so overwriting one is
        # silent corruption
        return f"{self.base}/{next(self._n)}"

    def __call__(self, df: DataFrame) -> DataFrame:
        path = self.path()
        df.write.parquet(path)
        return self.spark.read.parquet(path)


@contextmanager
def scratch(spark: SparkSession, prefix: str, base: str | None = None) -> Iterator[Scratch]:
    """Claim the scratch directory of one iterative-operator run and yield
    its :class:`Scratch` ``land``. The directory is, in order:

    * a fresh ``<base>/<prefix>-<uuid8>`` under an explicit ``base`` —
      kept on exit (results may be read lazily from it);
    * else a fresh ``<sparkContext checkpoint dir>/<prefix>-<uuid8>`` —
      kept on exit;
    * else, on a local master only, a driver-local ``mkdtemp`` — removed
      on exit, so results must be materialized before the block ends;
    * else ``ValueError`` (:func:`checkpoint_root`), before any job runs.
    """
    root = base.rstrip("/") if base else checkpoint_root(spark, f"scratch dir {prefix}-*")
    if root:
        yield Scratch(spark, f"{root}/{prefix}-{uuid.uuid4().hex[:8]}", kept=True)
        return
    tmp = tempfile.mkdtemp(prefix=f"{prefix}-")
    try:
        yield Scratch(spark, tmp, kept=False)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
