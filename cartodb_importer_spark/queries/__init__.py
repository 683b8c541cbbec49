"""Declared query registry — the t2 correctness contract surface.

Every operator claimed in SURVEY.md §2.3 registers here twice:

* ``QUERIES[name]`` — a callable ``(spark, sf_dir) -> DataFrame`` built with
  the engine's public operators (idiomatic DataFrame code, never a
  transliteration of the reference's imperative loops);
* ``ORACLES[name]`` — the equivalent ANSI SQL that DuckDB runs over the same
  parquet tables (views pre-registered by the driver).

The driver executes both at sf=0.01 and compares row-count, schema, and an
order-insensitive value hash. Column names are aliased identically on both
sides because the compare sorts columns by name before hashing.

Ops with no SQL-expressible oracle (approx sketches, streaming state,
MinHash-LSH pair generation) register a query only; the driver records a
weaker rows-only check for those.
"""

from __future__ import annotations

import glob
import os
import stat
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
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

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query (and optionally its DuckDB oracle SQL)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(
                f"duplicate query name {name!r}: already registered by "
                f"{QUERIES[name].__module__}.{QUERIES[name].__qualname__}"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


class Tables:
    """Lazy per-table parquet loader: ``t.lineitem`` reads
    ``{sf_dir}/lineitem.parquet`` on first access."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLES:
            raise AttributeError(f"unknown table {name!r}")
        if name not in self._cache:
            self._cache[name] = read_parquet_normalized(
                self._spark, f"{self._sf_dir}/{name}.parquet"
            )
        return self._cache[name]


def _utc_epoch_ns(ts) -> int:
    """ISO-8601 string (naive = UTC) or datetime -> integer epoch nanos.
    Integer arithmetic throughout: above 2^53 ns (~mid-1970) a float
    round-trip is lossy, and a pushed-down row-group bound that is off
    by one nanosecond silently drops edge rows."""
    import datetime as _dt

    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts)
    if isinstance(ts, _dt.date) and not isinstance(ts, _dt.datetime):
        ts = _dt.datetime(ts.year, ts.month, ts.day)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return (
        int(ts.timestamp()) * 1_000_000_000 + ts.microsecond * 1_000
    )


def read_parquet_ts_range(
    spark: SparkSession,
    path: str,
    ts_col: str,
    lo=None,
    hi=None,
) -> DataFrame:
    """Normalized parquet read with a ``lo <= ts_col < hi`` predicate
    placed where the SCAN can push it (VERDICT r11 item 2).

    On a TIMESTAMP(NANOS)-encoded column the normalized read wraps the
    raw int64 in ``timestamp_micros(ts div 1000)``, and a filter written
    against the converted column can never reach PushedFilters — at
    100 TB that is a full scan where a row-group skip should be. This
    helper rewrites the bounds onto the RAW long (epoch nanos, integer
    arithmetic) and filters before the conversion, so the predicate
    lands in the parquet scan's PushedFilters and row groups outside
    the range are skipped on min/max statistics. On micros/NTZ
    encodings a plain post-normalize filter already pushes (UnwrapCast;
    plan-audit-pinned), so the helper just applies it there.

    ``lo`` is inclusive, ``hi`` exclusive (the standard time-window
    convention); either may be None for a one-sided range. Bounds are
    ISO-8601 strings (naive = UTC, matching the oracle's treatment of
    naive parquet timestamps) or datetimes. Results are identical to
    ``read_parquet_normalized(...).filter(...)`` — only the physical
    plan differs."""
    from pyspark.sql import functions as F

    df, schema, ns_cols = _read_parquet_raw(spark, path)
    if ts_col in ns_cols:
        # the bounds go on the RAW long column BEFORE the conversion
        # expression, so they reach the parquet scan's PushedFilters
        # (row-group min/max skipping)
        if lo is not None:
            df = df.filter(F.col(ts_col) >= F.lit(_utc_epoch_ns(lo)))
        if hi is not None:
            df = df.filter(F.col(ts_col) < F.lit(_utc_epoch_ns(hi)))
        return _normalize(df, schema, ns_cols)
    df = _normalize(df, schema, ns_cols)
    if lo is not None:
        df = df.filter(F.col(ts_col) >= F.lit(lo).cast("timestamp"))
    if hi is not None:
        df = df.filter(F.col(ts_col) < F.lit(hi).cast("timestamp"))
    return df


#: SparkSession -> {file path: (stamp, inferred StructType, TIMESTAMP(NANOS)
#: column names)}; see read_parquet_normalized for when an entry is reused
_SCHEMA_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

#: SQL confs that change what Spark infers from a parquet footer, besides
#: the two that _read_parquet_raw pins; their values are part of the stamp
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)


def _nanos_cols(path: str) -> frozenset[str]:
    """TIMESTAMP(NANOS) column names from one parquet footer (a
    directory's first part file)."""
    try:
        import pyarrow.parquet as pq

        sample = path
        if os.path.isdir(path):
            sample = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
        return frozenset(
            f.name
            for f in pq.read_schema(sample)
            if str(f.type) == "timestamp[ns]"
        )
    except Exception:
        return frozenset()


def read_parquet_normalized(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet with deterministic timestamp semantics on ANY session.

    Two parquet physical encodings of a timestamp column are normalized to
    session-tz-UTC ``TimestampType`` so every downstream operator (epoch
    arithmetic, window ranges, date_format) behaves identically to the
    DuckDB oracle, which treats naive parquet timestamps as UTC:

    * TIMESTAMP(NANOS) — unreadable by Spark natively; read as long nanos
      under ``nanosAsLong`` and converted with integer ``div`` (exact above
      2^53 ns where double division would round).
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) — read as TIMESTAMP_NTZ by
      Spark 4's ``inferTimestampNTZInRead``; cast to TimestampType under
      the UTC session tz (value-preserving).

    Both confs are runtime-settable SQL confs, set here rather than only in
    the session factory so the read works on externally created sessions —
    e.g. the correctness driver's — not just ``get_spark()``'s.

    Schema memo. Reading parquet without a schema makes Spark run one job
    that merges the file footers. The first read of a parquet *file* in a
    session runs it and records the inferred schema together with the
    file's TIMESTAMP(NANOS) columns (a pyarrow footer read); later reads
    of that file in the same session pass the recorded schema to
    ``spark.read.schema(...)`` and run no job. The plan and the results
    are the same either way. A recorded schema is reused only while the
    file's inode, size and mtime (ns) and the session's
    ``binaryAsString``/``int96AsTimestamp`` confs are unchanged; any
    difference re-infers and replaces the entry. The memo belongs to the
    ``SparkSession`` object (a weak key), so ``newSession()`` or a session
    rebuilt after ``stop()`` starts empty. Directory datasets are never
    memoized: writers add and compact their part files, so each read
    infers afresh."""
    return _normalize(*_read_parquet_raw(spark, path))


def _read_parquet_raw(
    spark: SparkSession, path: str
) -> tuple[DataFrame, StructType, frozenset[str]]:
    """``spark.read.parquet(path)`` under the normalizing confs, with a
    file's inferred schema memoized per session. Returns the raw frame,
    its schema and its TIMESTAMP(NANOS) column names."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Let AQE re-partition stages under persisted subtrees. With the
    # default (false), a persist() pins its subtree AND every downstream
    # stage that reuses its partitioning at spark.sql.shuffle.partitions
    # tasks, so iterative queries over a small cached relation (PageRank,
    # k-means, label propagation: 2 shuffles per superstep) pay 200-task
    # scheduling overhead per step on an untuned session — 3-5x wall on
    # the correctness driver's. Runtime-settable SQL conf, same
    # deterministic-on-ANY-session rationale as the timestamp confs above;
    # results are unaffected, only partition counts.
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        df = spark.read.parquet(path)
        return df, df.schema, _nanos_cols(path)
    stamp = (
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        *(spark.conf.get(c) for c in _INFER_CONFS),
    )
    memo = _SCHEMA_MEMO.setdefault(spark, {})
    hit = memo.get(path)
    if hit is not None and hit[0] == stamp:
        _, schema, ns_cols = hit
        return spark.read.schema(schema).parquet(path), schema, ns_cols
    df = spark.read.parquet(path)
    ns_cols = _nanos_cols(path)
    memo[path] = (stamp, df.schema, ns_cols)
    return df, df.schema, ns_cols


def _normalize(
    df: DataFrame, schema: StructType, ns_cols: frozenset[str]
) -> DataFrame:
    """Convert a raw parquet frame's NANOS longs and NTZ timestamps to
    TimestampType; ``schema`` is the raw read's schema."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        DataType,
        MapType,
        TimestampNTZType,
    )

    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))

    def _swap_ntz(dt: DataType) -> DataType | None:
        """Rebuild dt with TimestampNTZType -> TimestampType at any nesting
        depth; None when nothing changed (so unaffected columns keep their
        original expression and stay prunable)."""
        if isinstance(dt, TimestampNTZType):
            from pyspark.sql.types import TimestampType

            return TimestampType()
        if isinstance(dt, ArrayType):
            inner = _swap_ntz(dt.elementType)
            return None if inner is None else ArrayType(inner, dt.containsNull)
        if isinstance(dt, MapType):
            k, v = _swap_ntz(dt.keyType), _swap_ntz(dt.valueType)
            if k is None and v is None:
                return None
            return MapType(k or dt.keyType, v or dt.valueType, dt.valueContainsNull)
        if isinstance(dt, StructType):
            swapped = [(f, _swap_ntz(f.dataType)) for f in dt.fields]
            if all(s is None for _, s in swapped):
                return None
            return StructType(
                [
                    type(f)(f.name, s or f.dataType, f.nullable, f.metadata)
                    for f, s in swapped
                ]
            )
        return None

    # the NANOS columns are longs in the raw schema, so they are not cast
    casts = {f.name: _swap_ntz(f.dataType) for f in schema.fields}
    if any(dt is not None for dt in casts.values()):
        df = df.select(
            *[
                F.col(c).cast(dt).alias(c) if dt is not None else F.col(c)
                for c, dt in casts.items()
            ]
        )
    return df


# Populate the registry: importing each module runs its @query decorators.
from . import core  # noqa: E402,F401
from . import scalars  # noqa: E402,F401
from . import joins  # noqa: E402,F401
from . import aggregates  # noqa: E402,F401
from . import windows  # noqa: E402,F401
from . import setops  # noqa: E402,F401
from . import llm  # noqa: E402,F401
from . import pipeline  # noqa: E402,F401
from . import streaming_batch  # noqa: E402,F401
from . import udfs  # noqa: E402,F401
from . import reshape  # noqa: E402,F401
from . import geo  # noqa: E402,F401
from . import sketches  # noqa: E402,F401
from . import events  # noqa: E402,F401
from . import graph  # noqa: E402,F401
