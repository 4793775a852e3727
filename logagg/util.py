"""Small shared utilities for operator lifecycle: result materialization,
the scratch-storage contract of every iterative (fixpoint) operator, the
one directory swap that replaces a committed directory as a unit, and the
one "read this parquet dir if it is there" of every incremental store."""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from pathlib import Path

from pyspark.errors import AnalysisException
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


def hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` under the session's Hadoop
    configuration — metadata calls (exists, delete) on any scheme."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[union-attr]
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet dir at ``path``, or ``None`` when there is no data to
    read: the path is missing, or it holds no data file (a zero-row write
    can leave just ``_SUCCESS``; schema inference then fails). A Hadoop-FS
    existence probe (one metadata RPC, any scheme) answers the common
    missing case before any read, so it logs no Java stack trace. Every
    other error — an unreadable or corrupt file — raises: state that cannot
    be read is not "no state", and reading it as such would re-bootstrap
    over it."""
    fs, jpath = hadoop_path(spark, path)
    if not fs.exists(jpath):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def data_files(root: str | Path) -> dict[str, int]:
    """``{relpath: bytes}`` of the files a reader of ``root`` sees: like
    Spark and pyarrow, skip every file or directory named ``_*`` or ``.*``
    (``_SUCCESS``, ``.crc`` checksums, a write's ``_temporary`` staging)."""
    files: dict[str, int] = {}
    for base, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in names:
            if not name.startswith(("_", ".")):
                p = os.path.join(base, name)
                files[os.path.relpath(p, root)] = os.path.getsize(p)
    return files


def recover_swap(dest: str) -> None:
    """The one recovery rule of :func:`swap_dir`: if ``dest`` is gone, move
    in ``<dest>__next`` when its ``_SUCCESS`` says it is whole, else put
    ``<dest>__old`` back; then delete what is left of either. ``dest`` ends
    with the old data or the new, each with every sidecar."""
    dest = dest.rstrip("/")
    nxt, old = f"{dest}__next", f"{dest}__old"
    if not os.path.exists(dest):
        if os.path.exists(os.path.join(nxt, "_SUCCESS")):
            os.rename(nxt, dest)
        elif os.path.exists(old):
            os.rename(old, dest)
    for leftover in (nxt, old):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)


@contextmanager
def swap_dir(dest: str) -> Iterator[str]:
    """Replace the committed directory ``dest`` as a unit: the block writes
    the new one (a Spark write, executing every read of ``dest`` it needs)
    to the yielded ``<dest>__next``. On exit, copy in each ``_``-prefixed
    entry of ``dest`` it lacks (a sink's ``_batch_ledger``, which a rewrite
    read skips; copied, so ``dest`` stays whole until the swap starts),
    rename ``dest`` to ``__old`` and ``__next`` to ``dest``, delete
    ``__old``. :func:`recover_swap` runs on entry (and in readers that may
    come first). On a cluster this is one table-format commit."""
    dest = dest.rstrip("/")
    recover_swap(dest)
    nxt, old = f"{dest}__next", f"{dest}__old"
    yield nxt
    if os.path.exists(dest):
        for name in sorted(os.listdir(dest)):
            src, dst = os.path.join(dest, name), os.path.join(nxt, name)
            if name.startswith("_") and not os.path.exists(dst):
                if os.path.isdir(src):
                    shutil.copytree(src, dst)
                else:
                    shutil.copy2(src, dst)
        os.rename(dest, old)
    os.rename(nxt, dest)
    shutil.rmtree(old, ignore_errors=True)
