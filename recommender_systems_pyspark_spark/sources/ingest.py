"""Batch ingest: schema-enforced delimited-file reader with IMDb-style
cleaning (SURVEY.md §2.1 S1 — utils/data_loader.py:115-158, rebuilt).

The reference reads gzipped TSV with explicit schemas and '\\N' nulls, then
eagerly count()s before every write (an extra full pass over non-splittable
gzip — §2.12). The engine version:
- reads lazily (no eager counts; row counts come from parquet footers later),
- cleans at the boundary ONCE: year-like digit-strings → nullable INT via
  regex-guarded cast (app.py:230-231's query-time guard moved to ingest),
  comma-packed list columns → real ArrayType (genres, app.py:355),
- lands as parquet, partitioned by a caller-chosen column — gzip TSV is a
  single-task scan per file; parquet restores parallelism for everything
  downstream. At 100 TB, ingest parallelism = number of input files, which
  is why the landing step exists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: IMDb's null sentinel (utils/data_loader.py:127).
NULL_SENTINEL = "\\N"


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    sep: str = "\t",
    null_value: str = NULL_SENTINEL,
) -> DataFrame:
    """S1: schema-enforced TSV scan with header and null sentinel. No
    inference — schema drift fails loudly at read, not silently at query."""
    return (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("nullValue", null_value)
        .schema(schema)
        .csv(path)
    )


def clean_year(col: Column) -> Column:
    """Digit-string year → nullable INT (the regex+cast guard of
    app.py:230-231, applied once at ingest instead of per query)."""
    return F.when(col.rlike(r"^[0-9]+$"), col.cast("int")).otherwise(F.lit(None))


def split_packed_list(col: Column, sep: str = ",") -> Column:
    """Comma-packed string → trimmed ArrayType(StringType), null-safe
    (genres/directors/knownForTitles, utils/data_loader.py:48,86-87,95-96)."""
    return F.when(
        col.isNotNull(), F.transform(F.split(col, sep), lambda s: F.trim(s))
    ).otherwise(F.lit(None))


def land_as_parquet(
    df: DataFrame, path: str, *, partition_by: str | None = None, mode: str = "overwrite"
) -> None:
    """Land cleaned data as parquet. partition_by chooses the pruning key
    (e.g. a date or language column) — the single highest-leverage layout
    decision for downstream scans at scale."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def read_tsv_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    sep: str = "\t",
    null_value: str = NULL_SENTINEL,
) -> tuple[DataFrame, DataFrame]:
    """S1 hardened: schema-enforced scan that SPLITS clean rows from
    malformed ones instead of silently nulling them (PERMISSIVE default)
    or killing the job (FAILFAST).

    Returns ``(clean, quarantine)``: ``clean`` has exactly ``schema``;
    ``quarantine`` carries the raw offending line for a dead-letter sink.
    At 100 TB a handful of corrupt lines per billion is CERTAIN — the
    pipeline must neither stop nor silently drop them; landing them beside
    the data (with lineage) is what makes the ingest auditable.

    Mechanics: lines are read as TEXT and parsed with ``from_csv`` in
    PERMISSIVE mode, whose ``columnNameOfCorruptRecord`` field is set
    for rows that fail schema application (wrong arity / uncastable
    values). Parsing a whole line per row — instead of the CSV
    datasource — is deliberate: the datasource's COLUMN PRUNING parses
    only the columns a query references, so a downstream aggregate
    touching just the key column never attempts the failing field, the
    corrupt marker stays null, and corrupt rows silently migrate into
    the clean side (caught in r11 when x_malformed_quarantine's
    quarantine aggregate counted 0 — the clean/quarantine SPLIT must
    not depend on which columns the consumer asks for). ``from_csv``
    takes one string column in, so no pruning can reach inside the
    parse. Both outputs come from ONE scan (the split is two lazy
    filters; at scale land both in one pass via ``df.persist()`` or a
    two-sink foreachBatch).

    PRECONDITION — one record per physical line: line-oriented text
    reading cannot reassemble RFC-4180 quoted fields containing embedded
    newlines (each text row parses alone; the fragments land in
    quarantine, visibly, never silently in clean). For quoted multi-line
    feeds use the CSV datasource with ``multiLine=true`` and force-
    reference every schema column to defeat pruning — and accept that
    ``multiLine`` makes each file a single non-splittable task.

    Header handling is POSITIONAL, not content-based (ADVICE r11): only
    the first line of each file is dropped, and only when it equals the
    expected header string. A header-equal line anywhere PAST position 0
    is data masquerading as a header — it lands in quarantine with its
    raw line, never silently dropped. A file whose first line is real
    data (headerless part-file) is parsed in full.
    """
    from pyspark.sql.types import StringType, StructField

    # StructType.add MUTATES in PySpark — build a copy, don't grow the caller's schema
    aug = StructType(schema.fields + [StructField("_corrupt_record", StringType())])
    header = sep.join(f.name for f in schema.fields)
    data_cols = [f.name for f in schema.fields]
    lines = spark.read.text(path).select(
        "value",
        F.input_file_name().alias("source_file"),
        # File-position identity for the header check, all computed
        # narrow (no shuffle): a row is its file's FIRST line iff it is
        # the first row of the block at byte offset 0. Blocks are read
        # sequentially by one task, so monotonically_increasing_id
        # within the (file, block-0) slice is minimal exactly at the
        # first physical line.
        F.expr("input_file_block_start()").alias("_block0"),
        F.monotonically_increasing_id().alias("_mono"),
    )
    # One tiny row per file (map-side-combined agg + broadcast join):
    # the minimal _mono among each file's offset-0 block rows.
    first_line = (
        lines.where(F.col("_block0") == 0)
        .groupBy("source_file")
        .agg(F.min("_mono").alias("_first_mono"))
    )
    is_first = (F.col("_block0") == 0) & (F.col("_mono") == F.col("_first_mono"))
    is_header = F.col("value") == header
    parsed = (
        lines.join(F.broadcast(first_line), "source_file", "left")
        # drop ONLY a position-0 line that equals the header
        .where(~(is_first & is_header))
        .select(
            F.from_csv(
                F.col("value"),
                aug.simpleString(),
                {
                    "sep": sep,
                    "nullValue": null_value,
                    "mode": "PERMISSIVE",
                    "columnNameOfCorruptRecord": "_corrupt_record",
                },
            ).alias("r"),
            F.col("value").alias("raw_line"),
            "source_file",
        )
        .select("r.*", "raw_line", "source_file")
    )
    # Dead-letter predicate — identical semantics to read_jsonl (ADVICE
    # r11): (a) schema-application failure, (b) stray header-equal line
    # past position 0 (parses clean on all-string schemas), (c) all-null
    # record with no corrupt marker (blank/whitespace line, or a line of
    # nothing but null sentinels — quarantine-worthy in any feed).
    all_null = F.lit(True)
    for c in data_cols:
        all_null = all_null & F.col(c).isNull()
    bad = (
        F.col("_corrupt_record").isNotNull()
        | (F.col("raw_line") == header)
        | all_null
    )
    clean = parsed.where(~bad).select(*data_cols)
    # Quarantine keeps the partially-parsed columns alongside the raw line
    # so the triage sink can see WHICH field failed.
    quarantine = parsed.where(bad).select(*data_cols, "raw_line", "source_file")
    return clean, quarantine


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines ingest with the same clean/quarantine split as
    :func:`read_tsv_quarantine` — the wire format of most document dumps
    (Common Crawl derivatives, API exports) that feed the documents table.
    Schema is explicit for the same reason as S1: inference over 100 TB is
    a full extra pass AND locks in whatever the first sampled files had.

    Text + ``from_json`` for the same reason read_tsv_quarantine uses
    text + ``from_csv``: the JSON datasource's column pruning parses
    only referenced columns, so whether a type-mismatched field marks
    the row corrupt would depend on the CONSUMER's projection — the
    clean/quarantine split must be projection-independent."""
    from pyspark.sql.types import StringType, StructField

    aug = StructType(schema.fields + [StructField("_corrupt_record", StringType())])
    lines = spark.read.text(path)
    parsed = lines.select(
        F.from_json(
            F.col("value"),
            aug.simpleString(),
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r"),
        F.col("value").alias("raw_line"),
        F.input_file_name().alias("source_file"),
    ).select("r.*", "raw_line", "source_file")
    # from_json can yield a NULL struct (every field null, no corrupt
    # marker) for unparseable lines — treat both faces as quarantine
    # (an all-null record is quarantine-worthy in a document dump anyway)
    data_cols = [f.name for f in schema.fields]
    all_null = F.lit(True)
    for c in data_cols:
        all_null = all_null & F.col(c).isNull()
    bad = F.col("_corrupt_record").isNotNull() | all_null
    clean = parsed.where(~bad).select(*data_cols)
    # Quarantine keeps the partially-parsed columns alongside the raw line
    # so the triage sink can see WHICH field failed.
    quarantine = parsed.where(bad).select(*data_cols, "raw_line", "source_file")
    return clean, quarantine


def _register_malformed_quarantine() -> None:
    """The clean/quarantine ingest split as a CERTIFIED query (round 11):
    read_tsv_quarantine was pytest-only; this puts the PERMISSIVE
    corrupt-record semantics — the split every 100 TB ingest relies on —
    under the driver's hash gate with deterministically injected
    corruption."""
    from ..registry import query
    from ..sources.loaders import load_table

    #: Feed slice and corruption rule (both replayable in the oracle).
    slice_mod = 10
    corrupt_mod, corrupt_rem = 17, 4

    @query(
        "x_malformed_quarantine",
        oracle=f"""
        WITH s AS (
          SELECT event_id, user_id, value FROM events
          WHERE event_id % {slice_mod} = 1
        ),
        good AS (SELECT * FROM s
                 WHERE event_id % {corrupt_mod} <> {corrupt_rem}),
        bad AS (SELECT * FROM s
                WHERE event_id % {corrupt_mod} = {corrupt_rem})
        SELECT (SELECT COUNT(*) FROM good) AS n_clean,
               (SELECT CAST(bit_xor(event_id) AS BIGINT) FROM good)
                 AS clean_id_xor,
               (SELECT CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                            AS BIGINT) FROM good) AS clean_cents,
               (SELECT COUNT(*) FROM bad) AS n_quarantined,
               (SELECT CAST(bit_xor(event_id) AS BIGINT) FROM bad)
                 AS quarantined_id_xor
        """,
    )
    def x_malformed_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Dead-letter ingest certification: a TSV feed with uncastable
        values injected on a deterministic key class is read through
        ``read_tsv_quarantine`` (PERMISSIVE + columnNameOfCorruptRecord);
        clean rows must parse to exactly the uncorrupted slice (count +
        id checksum + integer-cents sum of the round-tripped doubles)
        and the quarantine must hold exactly the corrupted rows WITH
        their still-parseable key columns (the triage property: a
        corrupt `value` must not destroy `event_id` — certified by the
        quarantined id checksum). Nothing silently dropped, nothing
        silently nulled.

        Scale: the writer and the split are one pass each; both outputs
        of the split come from the same scan. Double→string→double
        round-trips exactly (Java shortest-repr), so the clean cents
        sum equals raw-table arithmetic."""
        import tempfile

        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        corrupt = F.col("event_id") % corrupt_mod == corrupt_rem
        feed = (
            load_table(spark, sf_dir, "events")
            .where(F.col("event_id") % slice_mod == 1)
            .select(
                F.col("event_id").cast("string").alias("event_id"),
                F.col("user_id").cast("string").alias("user_id"),
                "event_type",
                F.when(corrupt, F.lit("oops"))
                .otherwise(F.col("value").cast("string"))
                .alias("value"),
            )
        )
        schema = StructType(
            [
                StructField("event_id", LongType()),
                StructField("user_id", LongType()),
                StructField("event_type", StringType()),
                StructField("value", DoubleType()),
            ]
        )
        with tempfile.TemporaryDirectory(prefix="quarantine_", ignore_cleanup_errors=True) as d:
            feed.write.option("header", True).option("sep", "\t").mode(
                "overwrite"
            ).csv(d + "/feed")
            clean, quar = read_tsv_quarantine(spark, d + "/feed", schema)
            out = (
                clean.agg(
                    F.count("*").alias("n_clean"),
                    F.bit_xor("event_id").alias("clean_id_xor"),
                    F.sum(
                        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
                        .cast("long")
                    ).alias("clean_cents"),
                )
                .crossJoin(
                    quar.agg(
                        F.count("*").alias("n_quarantined"),
                        F.bit_xor("event_id").alias("quarantined_id_xor"),
                    )
                )
                .localCheckpoint(eager=True)  # materialize before the dir goes
            )
            return out


_register_malformed_quarantine()
