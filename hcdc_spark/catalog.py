"""Table catalog over the parquet test tables.

``load_tables`` returns DataFrames; ``register_views`` also registers them
as temp views so ``spark.sql`` queries work. The scan itself is the
Catalyst-native ``spark.read.parquet`` — predicate pushdown, column
pruning, and partition pruning apply automatically to every downstream
query.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession

#: The star-schema tables the driver generates (TESTDATA.md).
TABLES: tuple[str, ...] = (
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

#: Dimension tables that should always broadcast in joins at any SF —
#: their cardinality grows sublinearly (region/nation are constant-size).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Memoized DataFrames keyed by (application id, sf_dir, table).
#: ``spark.read.parquet`` on a raw path re-lists files and re-reads
#: footers on every call (~0.1 s per table) — a catalog's job is to do
#: that once per session. DataFrames are immutable logical plans, so
#: reuse across queries is safe; a new session gets a new application
#: id and therefore fresh entries.
_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    if "events" in names:
        # events.ts has shipped as parquet TIMESTAMP(NANOS), which Spark's
        # vectorized reader rejects; read it as epoch-nanos LongType. Set
        # dynamically (not only in ENGINE_CONF) so the queries also work
        # under an externally-created session (the driver's).
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception as exc:
            # A session that can't take the conf (e.g. the flag was
            # removed or the context is mid-shutdown) isn't fatal HERE:
            # the read below either succeeds (non-nanos file) or fails
            # with Spark's own TIMESTAMP(NANOS) error, which names the
            # real problem. Surface the suppressed set for diagnosis.
            warnings.warn(
                f"could not set nanosAsLong ({exc!r}); events.ts may "
                "fail to read if the file carries TIMESTAMP(NANOS)",
                stacklevel=2,
            )
    app = spark.sparkContext.applicationId
    base = os.path.abspath(sf_dir)
    out: dict[str, DataFrame] = {}
    for name in names:
        key = (app, base, name)
        df = _DF_CACHE.get(key)
        if df is None:
            df = spark.read.parquet(table_path(sf_dir, name))
            if name == "events":
                df = normalize_event_ts(df)
            _DF_CACHE[key] = df
        out[name] = df
    return out


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` to epoch-nanos LongType.

    The generated events table has shipped with ``ts`` as parquet
    TIMESTAMP(NANOS) (read as LongType nanos via ``nanosAsLong``) and as
    TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Downstream operators and
    their DuckDB oracles (which see a naive TIMESTAMP and use
    ``epoch_ms(ts)``, i.e. wall-clock-as-UTC) both assume the nanos-long
    form, so rewrite the µs flavors at the catalog boundary.
    For the NTZ flavor the wall-clock must be pinned as-UTC *independent
    of the session timezone*. ``unix_micros`` implicitly casts
    NTZ→TIMESTAMP through the session tz (the earlier
    ``from_utc_timestamp(ts, current_timezone())`` counter-shift used
    the offset at the *shifted instant*, which differs from the cast's
    offset at the *wall-clock* around DST transitions; even
    ``timestampdiff`` on two NTZ operands coerces through the session
    tz). The only truly tz-free form is field arithmetic — NTZ date and
    time-of-day extraction never consult a timezone:
    ``unix_date(date(ts))·86400e6 + hour·3600e6 + minute·60e6 +
    second_fraction·1e6``. Verified under America/Los_Angeles including
    both DST-transition wall-clocks (spring-forward gap, fall-back
    overlap) in test_analytics.py::test_normalize_event_ts_tz_independent.

    NON-NEGATIVE EPOCH ASSUMPTION: consumers that derive coarser units
    from the nanos value with integer division (``ts div 86400e9`` for
    days in q84/q85, ``ts div 1e6`` for millis in q75/event_ts_ms)
    truncate toward zero, while their DuckDB oracles floor
    (CAST(ts AS DATE), epoch_ms). The two agree iff ts >= 0 — i.e. all
    event timestamps are on/after 1970-01-01, which load_tables data
    satisfies by construction (2024-only fixtures). Pre-1970 data would
    need F.floor-based division on the Spark side; gated in
    test_analytics.py::test_event_ts_nonnegative.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df
    if isinstance(ts_type, TimestampNTZType):
        # every term cast to long BEFORE multiplying: minute*60e6
        # overflows int32 under ANSI mode
        micros = (
            F.unix_date(F.col("ts").cast("date")).cast("long")
            * F.lit(86_400_000_000)
            + F.hour("ts").cast("long") * F.lit(3_600_000_000)
            + F.minute("ts").cast("long") * F.lit(60_000_000)
            + F.expr("cast(date_part('SECOND', ts) * 1000000 as long)")
        )
    elif isinstance(ts_type, TimestampType):
        micros = F.unix_micros(F.col("ts"))
    else:  # unexpected physical type: surface loudly, don't guess
        raise TypeError(f"events.ts has unsupported type {ts_type}")
    return df.withColumn("ts", (micros * F.lit(1000)).cast("long"))


def event_ts_ms(col_name: str = "ts"):
    """events.ts (epoch nanos, see load_tables) → epoch millis.

    DuckDB reads the same column as µs-truncated TIMESTAMP; floor-to-ms
    agrees on both sides (oracle: ``epoch_ms(ts)``).
    """
    from pyspark.sql import functions as F

    return F.expr(f"{col_name} div 1000000")


def event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a stream, ts canonicalized like the batch read.

    The file stream source needs the *physical* parquet schema (the
    batch catalog entry has already rewritten ``ts``), so resolve the
    footer schema with an un-normalized read, stream with it, then apply
    the same ``normalize_event_ts`` projection — a stream is a plan, so
    the projection composes identically on both paths.
    """
    # sets nanosAsLong for the legacy TIMESTAMP(NANOS) flavor
    load_tables(spark, sf_dir, ("events",))
    physical = spark.read.parquet(table_path(sf_dir, "events")).schema
    stream = (
        spark.readStream.schema(physical)
        # events.parquet is a single file; the file stream source wants
        # a directory, so stream the sf dir with a glob filter.
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(stream)


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def describe_formatted(spark: SparkSession, table: str, key: str) -> str:
    """One row of a catalog table's ``DESCRIBE FORMATTED`` output (e.g.
    'Location', 'Num Buckets'), stripped — a catalog lookup, no scan.
    Raises ValueError when the table reports no such row: a caller that
    needs the value must not guess one."""
    for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if (r["col_name"] or "").strip() == key:
            return r["data_type"].strip()
    raise ValueError(
        f"{table} reports no {key!r} row in DESCRIBE FORMATTED"
    )
