"""PySpark mirror of the graft Scala engine.

Every operator bridges to the JVM implementation via py4j — the Python layer
does argument marshalling only, so the Scala code paths (and their tests and
oracles) are the single source of truth. This requires a classic Spark
session with the graft jar on the driver classpath. The one exception is
diff (graftspark.diff), which also runs on Spark Connect sessions through
its pure-PySpark engine (graftspark.diff._pure).

Usage:
    spark = (SparkSession.builder
             .config("spark.jars", "path/to/graft.jar")
             .config("spark.driver.extraClassPath", "path/to/graft.jar")
             .getOrCreate())
    import graftspark  # monkeypatches DataFrame/SparkSession/DataFrameReader
"""

import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from typing import Any, Iterable, List, Optional, Union

from pyspark import __version__ as _pyspark_version
from pyspark.context import SparkContext
from pyspark.files import SparkFiles
from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.column import Column
from pyspark.sql.functions import col, count, lit, when
from pyspark.storagelevel import StorageLevel

if _pyspark_version.startswith("4."):
    from pyspark.sql.classic.column import _to_java_column
else:  # pragma: no cover - pyspark 3.x fallback
    from pyspark.sql.column import _to_java_column

__all__ = [
    "backticks", "distinct_prefix_for", "count_null",
    "dotnet_ticks_to_timestamp", "dotnet_ticks_to_unix_epoch",
    "dotnet_ticks_to_unix_epoch_nanos", "timestamp_to_dotnet_ticks",
    "unix_epoch_to_dotnet_ticks", "unix_epoch_nanos_to_dotnet_ticks",
    "histogram", "with_row_numbers", "UnpersistHandle", "unpersist_handle",
    "job_description", "append_job_description", "create_temporary_dir",
    "install_pip_package", "install_poetry_project",
    "register_extensions",
]

_jar_checked = False

ColumnOrName = Union[Column, str]


def _get_jvm(obj: Any):
    """The py4j JVM view for a DataFrame/reader/session/context, with a clear
    error when the graft jar is missing or the session is a Connect one."""
    if obj is None:
        raise RuntimeError("This method must be called inside an active Spark session")
    cls = type(obj).__module__
    if cls.startswith("pyspark.sql.connect"):
        raise RuntimeError(
            "graftspark requires a classic Spark session (JVM bridge); "
            "Spark Connect is not supported.")
    if isinstance(obj, DataFrame):
        jvm = obj.sparkSession._jvm
    elif isinstance(obj, DataFrameReader):
        jvm = _get_jvm(obj._spark)
    elif isinstance(obj, SparkSession):
        jvm = obj._jvm
    elif isinstance(obj, SparkContext):
        jvm = obj._jvm
    else:
        raise RuntimeError(f"Unsupported object: {type(obj)}")

    global _jar_checked
    if not _jar_checked:
        try:
            jvm.graft.python.PyBridge.version()
        except Exception as e:
            raise RuntimeError(
                "graft JVM package not found on the driver classpath; add the "
                "graft jar via spark.jars AND spark.driver.extraClassPath") from e
        _jar_checked = True
    return jvm


def _bridge(obj: Any):
    return _get_jvm(obj).graft.python.PyBridge


def register_extensions(spark) -> None:
    """Register the graft SQL kernel functions AND the Bloom-skip optimizer
    rule on a LIVE session — the config-free twin of
    spark.sql.extensions=graft.GraftExtensions. Idempotent."""
    _get_jvm(spark.range(1)).graft.GraftExtensions.registerAll(
        spark._jsparkSession)


def _to_java_columns(cols: Iterable[ColumnOrName]) -> list:
    return [_to_java_column(c if isinstance(c, Column) else col(c)) for c in cols]


# -----------------------------------------------------------------------------
# column-name helpers (driver-side, pure Python mirrors of graft.functions)
# -----------------------------------------------------------------------------

_SIMPLE_NAME = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")


def backticks(*name_parts: str) -> str:
    """Quote column-name parts with backticks where needed and join with '.'."""
    return ".".join(
        part if _SIMPLE_NAME.match(part) and "`" not in part
        else "`" + part.replace("`", "``") + "`"
        for part in name_parts)


def distinct_prefix_for(existing: Iterable[str]) -> str:
    """A '_'-prefix guaranteed not to collide with any existing column name."""
    longest = max((len(n) - len(n.lstrip("_")) for n in existing), default=0)
    return "_" * (longest + 1)


def count_null(e: ColumnOrName) -> Column:
    """Aggregate: number of rows where `e` is null."""
    if isinstance(e, str):
        e = col(e)
    return count(when(e.isNull(), lit(1)))


# -----------------------------------------------------------------------------
# .Net ticks codecs
# -----------------------------------------------------------------------------

def _ticks_fn(name: str, column: ColumnOrName) -> Column:
    if not isinstance(column, (str, Column)):
        raise ValueError(f"Column must be a name (str) or Column: {type(column)}")
    sc = SparkContext._active_spark_context
    bridge = _bridge(sc)
    jcol = _to_java_column(column if isinstance(column, Column) else col(column))
    return Column(getattr(bridge, name)(jcol))


def dotnet_ticks_to_timestamp(tick_column: ColumnOrName) -> Column:
    """.Net DateTime.Ticks -> Spark timestamp (µs precision, 100ns digit lost)."""
    return _ticks_fn("dotNetTicksToTimestamp", tick_column)


def dotnet_ticks_to_unix_epoch(tick_column: ColumnOrName) -> Column:
    """.Net DateTime.Ticks -> Unix epoch seconds as Decimal, full precision."""
    return _ticks_fn("dotNetTicksToUnixEpoch", tick_column)


def dotnet_ticks_to_unix_epoch_nanos(tick_column: ColumnOrName) -> Column:
    """.Net DateTime.Ticks -> Unix epoch nanoseconds (null on Long overflow)."""
    return _ticks_fn("dotNetTicksToUnixEpochNanos", tick_column)


def timestamp_to_dotnet_ticks(timestamp_column: ColumnOrName) -> Column:
    """Spark timestamp -> .Net DateTime.Ticks."""
    return _ticks_fn("timestampToDotNetTicks", timestamp_column)


def unix_epoch_to_dotnet_ticks(unix_column: ColumnOrName) -> Column:
    """Numeric Unix epoch seconds -> .Net ticks (must not be TimestampType)."""
    return _ticks_fn("unixEpochToDotNetTicks", unix_column)


def unix_epoch_nanos_to_dotnet_ticks(unix_column: ColumnOrName) -> Column:
    """Unix epoch nanoseconds -> .Net ticks, floored to 100ns."""
    return _ticks_fn("unixEpochNanosToDotNetTicks", unix_column)


# -----------------------------------------------------------------------------
# histogram
# -----------------------------------------------------------------------------

def histogram(self: DataFrame,
              thresholds: List[Union[int, float]],
              value_column: ColumnOrName,
              *aggregate_columns: ColumnOrName) -> DataFrame:
    """Bucket counts per aggregate group for ascending thresholds t1..tn,
    with columns `≤t1`..`≤tn`, `>tn` (see graft.Histogram)."""
    for t in thresholds:
        if not isinstance(t, (int, float)):
            raise ValueError(f"Thresholds must be int or float: {type(t)}")
    bridge = _bridge(self)
    jdf = bridge.histogram(
        self._jdf, list(thresholds),
        _to_java_column(value_column if isinstance(value_column, Column) else col(value_column)),
        _to_java_columns(aggregate_columns))
    return DataFrame(jdf, self.sparkSession)


DataFrame.histogram = histogram


# -----------------------------------------------------------------------------
# global row numbers
# -----------------------------------------------------------------------------

class UnpersistHandle:
    """Handle to unpersist the DataFrame an operator cached internally."""

    def __init__(self, jhandle):
        self._jhandle = jhandle

    def unpersist(self, blocking: bool = False):
        self._jhandle.unpersist(blocking)

    def __call__(self, blocking: bool = False):
        self.unpersist(blocking)


def unpersist_handle(self: SparkSession) -> UnpersistHandle:
    return UnpersistHandle(_bridge(self).unpersistHandle())


SparkSession.unpersist_handle = unpersist_handle


def with_row_numbers(self: DataFrame,
                     row_number_column_name: str = "row_number",
                     storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
                     unpersist_handle: Optional[UnpersistHandle] = None,
                     order: Union[ColumnOrName, List[ColumnOrName], None] = None,
                     ascending: Union[bool, List[bool]] = True) -> DataFrame:
    """Adds a contiguous global row number 1..N without collapsing the data
    into a single partition (see graft.RowNumbers)."""
    if order is None:
        order = []
    elif not isinstance(order, list):
        order = [order]
    if isinstance(ascending, bool):
        ascending = [ascending] * len(order)
    if len(ascending) != len(order):
        raise ValueError("ascending must be a bool or match the order columns")
    ordered = [
        (c if isinstance(c, Column) else col(c)) if asc
        else (c if isinstance(c, Column) else col(c)).desc()
        for c, asc in zip(order, ascending)]

    bridge = _bridge(self)
    jsl = self.sparkSession._sc._getJavaStorageLevel(storage_level)
    jhandle = unpersist_handle._jhandle if unpersist_handle is not None else None
    jdf = bridge.withRowNumbers(
        self._jdf, row_number_column_name, jsl, jhandle, _to_java_columns(ordered))
    return DataFrame(jdf, self.sparkSession)


DataFrame.with_row_numbers = with_row_numbers


# -----------------------------------------------------------------------------
# job description
# -----------------------------------------------------------------------------

def _set_description(description: Optional[str], if_not_set: bool = False) -> Optional[str]:
    sc = SparkContext._active_spark_context
    return _bridge(sc).setJobDescription(sc._jsc.sc(), description, if_not_set)


@contextmanager
def job_description(description: str, if_not_set: bool = False):
    """Sets the Spark job description within the context; restores on exit."""
    earlier = _set_description(description, if_not_set)
    try:
        yield
    finally:
        _set_description(earlier)


@contextmanager
def append_job_description(extra_description: str, separator: str = " - "):
    """Appends to the Spark job description within the context; restores on exit."""
    sc = SparkContext._active_spark_context
    earlier = _bridge(sc).appendJobDescription(sc._jsc.sc(), extra_description, separator)
    try:
        yield
    finally:
        _set_description(earlier)


# -----------------------------------------------------------------------------
# temp dir + dependency shipping
# -----------------------------------------------------------------------------

def create_temporary_dir(spark: Union[SparkSession, SparkContext], prefix: str) -> str:
    """Temp dir under Spark's files root (removed at application shutdown)."""
    _get_jvm(spark)  # asserts classic session
    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())


SparkSession.create_temporary_dir = create_temporary_dir
SparkContext.create_temporary_dir = create_temporary_dir


def install_pip_package(spark: Union[SparkSession, SparkContext],
                        *package_or_pip_option: str) -> None:
    """pip-installs packages into a session-scoped dir, ships them to all
    executors as an archive, and adds them to the Python path on both sides.

    Arguments are passed to `pip install` verbatim, so pip options like
    `--no-index` or `--find-links` work. The archive lives under the Spark
    files root and is removed at application shutdown.
    """
    for option in package_or_pip_option:
        if not isinstance(option, str):
            raise ValueError(f"pip arguments must be strings: {option!r}")
    _get_jvm(spark)
    sc = spark.sparkContext if isinstance(spark, SparkSession) else spark

    archive_id = f"graftspark-pip-{time.time()}"
    target = create_temporary_dir(sc, f"{archive_id}-")
    # run pip as a subprocess — calling into the pip module in-process is
    # unsupported by pip and can poison the interpreter's import state
    subprocess.check_call(
        [sys.executable, "-m", "pip", "install", *package_or_pip_option,
         "--target", target])

    archive = shutil.make_archive(target, "zip", target)
    shutil.rmtree(target)

    sc._jsc.sc().addArchive(f"{archive}#{archive_id}")
    sc._python_includes.append(archive_id)
    sys.path.insert(1, os.path.join(SparkFiles.getRootDirectory(), archive_id))


SparkSession.install_pip_package = install_pip_package
SparkContext.install_pip_package = install_pip_package


def install_poetry_project(spark: Union[SparkSession, SparkContext],
                           *project: str,
                           poetry_python: Optional[str] = None,
                           pip_args: Optional[List[str]] = None) -> None:
    """Builds wheel(s) from poetry project dir(s) and installs them with
    [install_pip_package]. Requires poetry importable by `poetry_python`
    (defaults to the current interpreter)."""
    if poetry_python is None:
        poetry_python = sys.executable
    if pip_args is None:
        pip_args = []
    _get_jvm(spark)

    def build_wheel(project_dir: str) -> str:
        proc = subprocess.run(
            [poetry_python, "-m", "poetry", "build", "--no-interaction",
             "--format", "wheel", "--directory", os.path.abspath(project_dir)],
            capture_output=True, text=True)
        if proc.returncode != 0:
            raise RuntimeError(f"poetry build failed ({proc.returncode}): {proc.stderr}")
        match = re.search(r"Built (\S+\.whl)", proc.stdout)
        if not match:
            raise RuntimeError(f"no wheel name in poetry output: {proc.stdout}")
        return os.path.join(os.path.abspath(project_dir), "dist", match.group(1))

    wheels = [build_wheel(p) for p in project]
    install_pip_package(spark, *wheels, *pip_args)


SparkSession.install_poetry_project = install_poetry_project
SparkContext.install_poetry_project = install_poetry_project
