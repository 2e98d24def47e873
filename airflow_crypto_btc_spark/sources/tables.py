"""Parquet table sources for the driver fixtures (TESTDATA.md).

Plays the role of the reference's SQLite reads (`src_sql_table`,
``/root/reference/dags/dag_btc_daily.py:181-190, :254-258, :321-328``): a
projection/filter over a stored table.  In Spark the projection and filter are
expressed on the lazy DataFrame and Catalyst pushes them into the parquet
scan (PushedFilters / ReadSchema), so callers should NOT pre-materialize —
just ``load_table(...)`` and compose.

A table's schema comes from one parquet footer, read in-process before the
scan is planned, so loading a table (or registering every fixture as a
view) runs no Spark job.
"""

from __future__ import annotations

import errno
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructType,
    TimestampType,
    _parse_datatype_json_string,
)

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def sf_dir_from_env(default: str = "/root/testdata/sf0.001") -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


# Columns stored as parquet TIMESTAMP(NANOS): Spark has no ns timestamp type
# and (with spark.sql.legacy.parquet.nanosAsLong) surfaces them as epoch-nanos
# longs.  We truncate to µs — integer division, NOT double division, which
# would lose precision at 1e18 magnitudes — matching DuckDB's ns→µs handling.
_NANOS_TS_COLS = {"events": ("ts",)}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Pin the SQL confs the engine's semantics depend on, even when the
    caller built the SparkSession themselves (the verify driver does).  Both
    are runtime-settable SQL confs."""
    # ns-timestamp parquet (events fixture) is unreadable without this.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # UTC discipline (SURVEY §4.2 item 6): epoch→date conversions must not
    # shift with the host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _first_data_file(path: str) -> str:
    """``path`` itself, or the first data file under the directory ``path``
    in name order, skipping ``_``/``.`` files (``_SUCCESS``, ``.crc``) as
    Spark's file listing does."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        data = sorted(f for f in files if not f.startswith(("_", ".")))
        if data:
            return os.path.join(root, data[0])
    raise FileNotFoundError(errno.ENOENT, "no parquet data file", path)


def _footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark's parquet inference gives ``path``, read from one
    footer in-process.  Spark's own converter under the session's SQLConf
    applies ``nanosAsLong``, NTZ inference and the Spark row metadata
    exactly as inference does, without inference's Spark job."""
    jvm = spark._jvm
    spark_parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    parquet = jvm.org.apache.parquet
    state = spark._jsparkSession.sessionState()
    jpath = jvm.org.apache.hadoop.fs.Path(_first_data_file(path))
    footer = spark_parquet.ParquetFooterReader.readFooter(
        parquet.hadoop.util.HadoopInputFile.fromPath(
            jpath, state.newHadoopConf()
        ),
        parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    schema = spark_parquet.ParquetFileFormat.readSchemaFromFooter(
        parquet.hadoop.Footer(jpath, footer),
        spark_parquet.ParquetToSparkSchemaConverter(state.conf()),
    )
    return _parse_datatype_json_string(schema.json())


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one fixture table, timestamps normalized to
    TIMESTAMP_NTZ.  The scan's schema is read from the parquet footer, so no
    Spark job runs."""
    _ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    return _normalize_timestamps(
        spark.read.schema(_footer_schema(spark, path)).parquet(path), name
    )


def _normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Every timestamp column of table ``name`` as TIMESTAMP_NTZ
    (value-preserving under the UTC session timezone) so Spark results
    schema-align with the DuckDB oracle's naive timestamps."""
    for c in _NANOS_TS_COLS.get(name, ()):
        if isinstance(df.schema[c].dataType, LongType):
            df = df.withColumn(
                c,
                F.timestamp_micros(F.expr(f"{c} div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampType):
            df = df.withColumn(
                field.name, F.col(field.name).cast("timestamp_ntz")
            )
    return df


def parquet_row_count(path: str) -> int:
    """EXACT row count of a parquet file or directory from footer
    metadata — zero Spark jobs, driver-side only, O(#files) footer
    reads.  This is how table statistics replace a full corpus
    ``count()`` pre-pass (e.g. sizing the PQ training-sample modulus):
    parquet footers record exact ``num_rows``, so the value equals what
    a scan would count.

    Valid for plain parquet datasets (the driver fixtures).  For a
    snapshot table, sum the COMMIT LOG's live files instead — the table
    dir may hold dead parts awaiting vacuum that a blind glob would
    double-count."""
    import glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
    else:
        files = [path]
    return sum(pq.read_metadata(f).num_rows for f in files)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the spark.sql path
    (the reference mixes imperative pandas and declarative SQL — SURVEY §3
    entry point 2; the engine exposes both).  Runs no Spark job."""
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
