"""Sinks and table-lifecycle operations (SURVEY.md §2.1 S5-S10).

The reference's store is Postgres over JDBC (overwrite/append with batched
inserts, DDL-typed creation, information_schema probes). The engine's
primary sink is parquet; the same operations map to:

| reference                          | engine                                  |
|------------------------------------|-----------------------------------------|
| write.jdbc(mode=overwrite) (S5)    | write.mode('overwrite').parquet         |
| write.jdbc(mode=append) (S6)       | write.mode('append').parquet            |
| createTableColumnTypes DDL (S7)    | schema-declared empty parquet dataset   |
| createDataFrame(rows, schema) (S8) | schema-verified rows → Arrow table      |
| information_schema probe (S10)     | spark.catalog / path existence          |

An optional JDBC connector (jdbc_read/jdbc_write) keeps S2/S5 byte-for-byte
available where an RDBMS is genuinely the boundary; it is config-gated and
nothing in the engine depends on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S5/S6: parquet sink. 'overwrite' replaces the dataset atomically
    (directory swap); 'append' adds files — concurrent-reader safe, the
    append semantics user_ratings relies on (utils/user.py:151-166).

    Self-overwrite caveat: a lazy plan that READS ``path`` cannot be
    overwritten into ``path`` (Spark deletes the input mid-scan —
    FAILED_READ_FILE). Materialize (cache/checkpoint/collect) or write to a
    new location and swap. The reference never hit this because its JDBC
    overwrites targeted Postgres, not its own input files."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported mode {mode!r}")
    df.write.mode(mode).parquet(path)


#: Interchange formats the engine writes/reads natively. Parquet is the
#: store (columnar, predicate/column pushdown, min/max pruning); ORC is
#: the columnar alternative with the same pushdown machinery; csv/json
#: are row-oriented EXPORT formats — no pushdown, schema on read — kept
#: for boundary interchange like the reference's TSV ingest (S1).
INTERCHANGE_FORMATS = ("parquet", "orc", "json", "csv")


def export_table(df: DataFrame, path: str, fmt: str, mode: str = "overwrite") -> None:
    """Write ``df`` in any interchange format. csv keeps a header so the
    file round-trips through read_interchange without positional guessing."""
    if fmt not in INTERCHANGE_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", True)
    w.save(path)


def read_interchange(spark: SparkSession, path: str, fmt: str, schema: StructType | None = None) -> DataFrame:
    """Read any interchange format back. Self-describing formats
    (parquet/ORC) carry their schema; json/csv take the writer's schema
    explicitly — inference is a full extra pass and type-lossy (the same
    reason S1 reads TSV schema-enforced, utils/data_loader.py:122-128)."""
    if fmt not in INTERCHANGE_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}")
    r = spark.read.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        r = r.option("header", True)
    return r.load(path)


def create_empty_table(spark: SparkSession, path: str, schema: StructType) -> None:
    """S7: DDL-typed creation from an empty DataFrame
    (utils/user.py:74-99's createTableColumnTypes, parquet-native: the
    schema lives in the footer)."""
    rows_frame(spark, [], schema).write.mode("overwrite").parquet(path)


def insert_rows(spark: SparkSession, path: str, rows: list[Row] | list[tuple], schema: StructType) -> None:
    """S8+S6: local rows → DataFrame → append (add_user_rating,
    utils/user.py:150-166). The frame comes from :func:`rows_frame`, so a
    call runs one task, starts no Python worker and adds one parquet file.
    Small appends produce small files — compact periodically
    (:func:`compact_table`) or land through a streaming sink at scale."""
    rows_frame(spark, rows, schema).write.mode("append").parquet(path)


def rows_frame(spark: SparkSession, rows: list[Row] | list[tuple], schema: StructType) -> DataFrame:
    """Local rows → one-partition DataFrame through an Arrow table: the
    engine's way to turn a driver-side list into a frame (appends, empty
    tables, rank offsets, label dictionaries).

    Every row is first checked against ``schema`` by the verifier
    ``createDataFrame(..., verifySchema=True)`` uses, so a ``None`` in a
    non-nullable field or a value of the wrong type raises here, before
    anything is written. Then ``schema.toInternal``, the conversion
    ``createDataFrame`` applies, reads each row (tuples and ``Row``s by
    position, dicts by field name) and turns timestamps and dates into the
    integers Arrow takes. ``createDataFrame(<list>)`` would parallelize the
    rows over ``defaultParallelism`` slices and convert them in a
    Python-worker stage; an Arrow table is read by the JVM directly as a
    local relation: one partition, no Python worker, no pandas and no
    silent fallback."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    internal = [schema.toInternal(row) for row in rows]
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in internal], type=f.type) for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    # A local relation scans as min(#rows, defaultParallelism) partitions.
    return spark.createDataFrame(table, schema).coalesce(1)


def table_exists(spark: SparkSession, path: str) -> bool:
    """S10: existence probe (app.py:55-72's information_schema query).
    Reads one footer, not the data."""
    try:
        spark.read.parquet(path).schema
        return True
    except Exception:
        return False


def head_rows(df: DataFrame, n: int) -> list[Row]:
    """S11: bounded driver collection — limit() BEFORE collect(), the cap
    the reference applies ad hoc (utils/imb_rating.py:59, app.py:171)."""
    return df.limit(n).collect()


# -- batch upsert (MERGE-shaped) ---------------------------------------------

def _swap_dirs(path: str, tmp: str) -> None:
    """Replace ``path`` with ``tmp`` via rename, recovering from a prior
    crashed swap first. NOT atomic (two renames — a crash between them
    leaves ``path`` absent until the next call's recovery restores it from
    ``__old``); production stores get real atomicity from a table format's
    metadata commit (Delta/Iceberg) — this is the filesystem approximation,
    made CRASH-RECOVERABLE: every entry cleans up any half-finished state."""
    import os
    import shutil

    recover_swap(path)
    old = path.rstrip("/") + "__old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def recover_swap(path: str) -> None:
    """Repair a store whose last _swap_dirs crashed between its renames:
    restore the ``__old`` backup if ``path`` is gone, or drop the stale
    backup if the swap did complete. Callers that probe ``path`` existence
    (e.g. a restarting streaming upsert sink) MUST run this first, or a
    crashed swap reads as 'no store yet' and silently truncates history."""
    import os
    import shutil

    old = path.rstrip("/") + "__old"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)


def upsert_parquet(
    spark: SparkSession, path: str, updates: DataFrame, key_cols: list[str]
) -> None:
    """MERGE-shaped upsert for a parquet store: rows in ``updates`` replace
    current rows with the same key; unmatched current rows survive.

    Plan: current ANTI-JOIN updates on the key (keep non-updated rows) →
    UNION updates → write beside → swap (see _swap_dirs for the crash
    story). One shuffle on the key. This is what a table format
    (Delta/Iceberg MERGE) does with file-level pruning on top; for
    partitioned stores, restrict the rewrite to the partitions the updates
    touch — the swap then moves only those directories."""
    current = spark.read.parquet(path)
    cond = None
    for k in key_cols:
        c = current[k] == updates[k]
        cond = c if cond is None else (cond & c)
    merged = current.join(updates, cond, "left_anti").unionByName(updates)
    tmp = path.rstrip("/") + "__upserting"
    merged.write.mode("overwrite").parquet(tmp)
    _swap_dirs(path, tmp)


# -- small-file compaction ---------------------------------------------------

def compact_table(spark: SparkSession, path: str, target_files: int = 1) -> int:
    """Rewrite an append-accumulated parquet dataset into ``target_files``
    files and swap it in place; returns the resulting file count.

    Row-level appends (insert_rows — utils/user.py:150-166's pattern) leave
    one tiny file per call; scans then pay one task + one footer read per
    file. Compaction is the standard repair: read → coalesce → write beside
    → directory swap (crash-recoverable, see _swap_dirs). The read is
    materialized BEFORE the swap (the self-overwrite caveat on
    write_table); on a real object store the swap is a manifest/metadata
    commit (Iceberg/Delta rewrite_data_files), same shape."""
    import os

    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compacting"
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    _swap_dirs(path, tmp)
    return len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )


# -- cache lifecycle (S10, utils/data_loader.py:151) ------------------------

def cache_table(df: DataFrame, name: str | None = None) -> DataFrame:
    """Persist a DataFrame (MEMORY_AND_DISK default) and optionally register
    it as a temp view so SQL sees the cached plan too. The reference caches
    nothing and re-scans JDBC per CV fold (SURVEY.md §4); iterative
    consumers (ALS, CV) call this on their input instead."""
    if name:
        df.createOrReplaceTempView(name)
    return df.cache()


def uncache_table(df: DataFrame) -> DataFrame:
    """Release one DataFrame's cached blocks (blocking=False: lazy evict)."""
    return df.unpersist()


def clear_cache(spark: SparkSession) -> None:
    """S10: drop EVERY cached table/DataFrame in the session — the
    reference's ``spark.catalog.clearCache()`` teardown
    (utils/data_loader.py:151), used between ETL phases so the next
    phase's working set isn't competing with stale blocks."""
    spark.catalog.clearCache()


# -- optional JDBC connector (S2/S5 parity; requires a JDBC driver jar) -----

def jdbc_read(spark: SparkSession, url: str, table: str, properties: dict | None = None) -> DataFrame:
    """S2: JDBC table read (utils/recommender.py:49-50). Prefer passing a
    pushdown-friendly subquery as `table` ('(SELECT ...) AS t') and
    partitionColumn/numPartitions in properties for parallel reads."""
    return spark.read.jdbc(url, table, properties=properties or {})


def jdbc_write(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict | None = None,
    batchsize: int = 10000,
) -> None:
    """S5/S6: batched JDBC sink (utils/data_loader.py:144-146 semantics:
    batchsize + rewriteBatchedStatements)."""
    props = {"batchsize": str(batchsize), **(properties or {})}
    df.write.jdbc(url, table, mode=mode, properties=props)


# ---------------------------------------------------------------------------
# Schema-evolution read (round 8)
# ---------------------------------------------------------------------------


def _register_schema_evolution() -> None:
    """Registered here (sources/) because the operator under test is the
    READER: ``mergeSchema`` reconciliation of two parquet generations
    written by different producer versions."""
    from pyspark.sql import functions as F

    from ..registry import exact_sum, query, sql_exact_sum

    @query(
        "x_schema_evolution",
        oracle=f"""
        SELECT COALESCE(CASE WHEN event_id % 2 = 0 THEN NULL
                             ELSE event_type END, '__missing__') AS event_type,
               COUNT(*) AS n_events,
               {sql_exact_sum('value', 'total_value')}
        FROM events
        GROUP BY 1 ORDER BY 1
        """,
    )
    def x_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Schema-evolution read: generation 1 of a dataset (even
        event_ids) was written by an old producer WITHOUT the event_type
        column; generation 2 (odd event_ids) carries it. The reader
        reconciles both with ``mergeSchema=true`` — gen-1 rows surface
        event_type as NULL — and the per-type ledger (missing rows bucketed
        under '__missing__') must hash-equal an oracle that simulates the
        same column history over the raw table. Certifies that adding a
        column never corrupts or drops old-generation rows/values.

        Scale shape: mergeSchema reconciles footers at planning time (at
        production scale pin the merged schema in a metastore instead of
        re-inferring per query — the read path is identical); the ledger
        is one scan + one bounded-key aggregate."""
        import tempfile

        from . import load_table

        with tempfile.TemporaryDirectory(prefix="schemaevo_", ignore_cleanup_errors=True) as d:
            ev = load_table(spark, sf_dir, "events")
            even = F.col("event_id") % 2 == 0
            ev.where(even).select("event_id", "user_id", "value").write.mode(
                "overwrite"
            ).parquet(d + "/gen1")
            ev.where(~even).select(
                "event_id", "user_id", "value", "event_type"
            ).write.mode("overwrite").parquet(d + "/gen2")
            merged = (
                spark.read.option("mergeSchema", "true")
                .parquet(d + "/gen1", d + "/gen2")
            )
            out = (
                merged.groupBy(
                    F.coalesce("event_type", F.lit("__missing__")).alias(
                        "event_type"
                    )
                )
                .agg(
                    F.count("*").alias("n_events"),
                    exact_sum(F.col("value"), "total_value"),
                )
                .orderBy("event_type")
            )
            return out.localCheckpoint(eager=True)


_register_schema_evolution()


def _register_format_roundtrip() -> None:
    """The interchange-format matrix as a CERTIFIED query (round 11):
    export_table/read_interchange were pytest-only; this puts every
    supported format's write→read fidelity under the driver's hash gate."""
    from pyspark.sql import functions as F

    from ..registry import query
    from ..sources import load_table

    #: Deterministic 5% slice — keeps the 4-format write affordable at
    #: bench scale while still exercising multi-task writes.
    mod = 20

    @query(
        "x_format_roundtrip",
        oracle=f"""
        WITH sample AS (
          SELECT event_id, user_id, event_type,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
          FROM events WHERE event_id % {mod} = 0
        ),
        stats AS (
          SELECT COUNT(*) AS n_rows,
                 CAST(bit_xor(event_id * 31 + user_id) AS BIGINT)
                   AS key_checksum,
                 CAST(SUM(value_cents) AS BIGINT) AS cents_total,
                 COUNT(DISTINCT event_type) AS n_types
          FROM sample
        )
        SELECT f.format, s.n_rows, s.key_checksum, s.cents_total, s.n_types
        FROM (VALUES ('csv'), ('json'), ('orc'), ('parquet')) f(format)
        CROSS JOIN stats s
        ORDER BY f.format
        """,
    )
    def x_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Write the SAME event slice through every interchange format
        (parquet, ORC, JSON-lines, CSV-with-header), read each back with
        the writer's schema, and emit per-format content stats. The
        oracle computes the stats ONCE from the raw table and cross-joins
        the format list — so all four rows must be identical to the
        source arithmetic: any format that drops rows, mangles a string,
        or perturbs an integer on its way through text encoding
        hash-mismatches on its own row.

        Columns are chosen to be losslessly representable in ALL four
        formats (bigints + a short string; the double goes through the
        engine's integer-cents rule BEFORE the write — raw doubles
        through CSV/JSON text round-trips are exactly the fidelity trap
        this certifies against, documented here by construction).

        Scale: each format writes its tasks in parallel and reads back
        partition-parallel (JSON/CSV splittable by line; written
        uncompressed here — gzip text would be one-task-per-file on
        read); stats are map-side aggregates. The slice predicate is
        pushed to the parquet scan."""
        import tempfile

        sample = (
            load_table(spark, sf_dir, "events")
            .where(F.col("event_id") % mod == 0)
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
                .alias("value_cents"),
            )
        )
        with tempfile.TemporaryDirectory(prefix="fmt_roundtrip_", ignore_cleanup_errors=True) as d:
            out = None
            for fmt in sorted(INTERCHANGE_FORMATS):
                path = f"{d}/{fmt}"
                export_table(sample, path, fmt)
                back = read_interchange(spark, path, fmt, schema=sample.schema)
                stats = back.agg(
                    F.count("*").alias("n_rows"),
                    F.bit_xor(
                        F.col("event_id") * 31 + F.col("user_id")
                    ).alias("key_checksum"),
                    F.sum("value_cents").alias("cents_total"),
                    F.countDistinct("event_type").alias("n_types"),
                ).select(
                    F.lit(fmt).alias("format"),
                    "n_rows",
                    "key_checksum",
                    "cents_total",
                    "n_types",
                )
                frame = stats.localCheckpoint(eager=True)  # read before the dir goes
                out = frame if out is None else out.unionAll(frame)
            return out.orderBy("format")


_register_format_roundtrip()
