"""Ingest + sink tests: TSV with '\\N' sentinels → cleaned parquet round
trip; overwrite/append/create-empty/exists lifecycle (S1, S5-S8, S10)."""

from __future__ import annotations

import gzip
import tempfile
from datetime import datetime

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from recommender_systems_pyspark_spark.sources.ingest import (
    clean_year,
    land_as_parquet,
    read_tsv,
    split_packed_list,
)
from recommender_systems_pyspark_spark.sources.sinks import (
    create_empty_table,
    head_rows,
    insert_rows,
    table_exists,
    write_table,
)
from tests.conftest import SF_SMOKE

TITLES_SCHEMA = StructType(
    [
        StructField("tconst", StringType()),
        StructField("titleType", StringType()),
        StructField("primaryTitle", StringType()),
        StructField("isAdult", IntegerType()),
        StructField("startYear", StringType()),
        StructField("genres", StringType()),
    ]
)

TSV = (
    "tconst\ttitleType\tprimaryTitle\tisAdult\tstartYear\tgenres\n"
    "tt0000001\tmovie\tAlpha\t0\t1995\tDrama,Comedy\n"
    "tt0000002\tshort\tBeta\t0\t\\N\t\\N\n"
    "tt0000003\tmovie\tGamma\t1\tnotayear\tHorror\n"
)


@pytest.fixture()
def tmpdir():
    with tempfile.TemporaryDirectory() as d:
        yield d


def test_tsv_ingest_cleaning_roundtrip(spark, tmpdir):
    # gzipped TSV exactly like the IMDb dumps (utils/data_loader.py:122-128)
    with gzip.open(f"{tmpdir}/titles.tsv.gz", "wt") as f:
        f.write(TSV)
    raw = read_tsv(spark, f"{tmpdir}/titles.tsv.gz", TITLES_SCHEMA)
    cleaned = raw.select(
        "tconst",
        "titleType",
        (F.col("isAdult") == 1).alias("is_adult"),  # int→bool normalization (§2.12)
        clean_year(F.col("startYear")).alias("start_year"),
        split_packed_list(F.col("genres")).alias("genres"),
    )
    land_as_parquet(cleaned, f"{tmpdir}/titles.parquet")
    back = {r.tconst: r for r in spark.read.parquet(f"{tmpdir}/titles.parquet").collect()}
    assert back["tt0000001"].start_year == 1995
    assert back["tt0000001"].genres == ["Drama", "Comedy"]
    assert back["tt0000002"].start_year is None  # \N sentinel → null
    assert back["tt0000002"].genres is None
    assert back["tt0000003"].start_year is None  # non-numeric guarded cast
    assert back["tt0000003"].is_adult is True


def test_sink_lifecycle(spark, tmpdir):
    path = f"{tmpdir}/ratings.parquet"
    schema = StructType(
        [
            StructField("user_id", StringType()),
            StructField("item_id", StringType()),
            StructField("rating", IntegerType()),
        ]
    )
    assert not table_exists(spark, path)
    create_empty_table(spark, path, schema)  # S7
    assert table_exists(spark, path)  # S10
    assert spark.read.parquet(path).count() == 0

    insert_rows(spark, path, [("u1", "i1", 5), ("u1", "i1", 4)], schema)  # S8+S6
    insert_rows(spark, path, [("u2", "i2", 3)], schema)
    df = spark.read.parquet(path)
    assert df.count() == 3  # append semantics keep duplicates (§2.12)

    # S5 overwrite: materialize first — overwriting a path the lazy plan
    # reads deletes its own input (see write_table docstring)
    kept = df.where(F.col("user_id") == "u2").collect()
    write_table(spark.createDataFrame(kept, schema), path, mode="overwrite")
    assert spark.read.parquet(path).count() == 1
    assert len(head_rows(spark.read.parquet(path), 5)) == 1  # S11


def test_write_table_rejects_bad_mode(spark, tmpdir):
    df = spark.range(1)
    with pytest.raises(ValueError, match="unsupported mode"):
        write_table(df, f"{tmpdir}/x", mode="errorifexists")


RATING_ROW_SCHEMA = StructType(
    [
        StructField("user_id", StringType(), False),
        StructField("rating", FloatType(), False),
        StructField("rated_at", TimestampNTZType(), False),
    ]
)


def _parquet_files(path):
    import os

    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


@pytest.mark.parametrize(
    "bad",
    [(None, 4.5, datetime(2024, 1, 1)), ("u1", "4.5", datetime(2024, 1, 1))],
    ids=["none_in_non_nullable", "str_in_float"],
)
def test_insert_rows_rejects_rows_off_schema(spark, tmpdir, bad):
    """Rows are checked against the schema before anything is written: a
    bad row raises and leaves the table's files as they were."""
    path = f"{tmpdir}/ratings"
    create_empty_table(spark, path, RATING_ROW_SCHEMA)
    before = _parquet_files(path)
    with pytest.raises((TypeError, ValueError)):
        insert_rows(spark, path, [bad], RATING_ROW_SCHEMA)
    assert _parquet_files(path) == before


def test_insert_rows_round_trips_one_file_per_call(spark, tmpdir):
    """Tuples and Rows both append; timestamp_ntz microseconds and float
    ratings read back exactly; each call adds exactly one parquet file
    (the per-call file ml/users.py's appends rely on)."""
    path = f"{tmpdir}/ratings"
    create_empty_table(spark, path, RATING_ROW_SCHEMA)
    calls = [
        [("u1", 4.5, datetime(2024, 2, 29, 23, 59, 59, 999999))],
        [Row(user_id="u2", rating=0.1, rated_at=datetime(1999, 12, 31, 0, 0, 0, 1))],
        [("u3", 3.0, datetime(2024, 1, 1, 12, 0, 0, 123456)), ("u3", 2.0, datetime(2024, 1, 2))],
    ]
    for rows in calls:
        before = set(_parquet_files(path))
        insert_rows(spark, path, rows, RATING_ROW_SCHEMA)
        assert len(set(_parquet_files(path)) - before) == 1
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    want = sorted(
        (u, float(np.float32(r)), ts) for rows in calls for (u, r, ts) in rows
    )
    assert got == want


def test_insert_rows_reads_timestamps_as_create_dataframe_does(spark, tmpdir):
    """A TimestampType field written through insert_rows holds the same
    instants as spark.createDataFrame(rows, schema) gives for the same
    tuple, Row and dict rows, under a non-UTC session time zone."""
    from pyspark.sql.types import TimestampType

    from recommender_systems_pyspark_spark.session import scoped_conf

    schema = StructType(
        [StructField("user_id", StringType(), False), StructField("ts", TimestampType(), True)]
    )
    rows = [
        ("u1", datetime(2024, 3, 10, 2, 30, 0, 123456)),
        Row(user_id="u2", ts=datetime(1999, 12, 31, 23, 59, 59, 999999)),
        {"ts": datetime(2024, 11, 3, 1, 30), "user_id": "u3"},
        ("u4", None),
    ]
    path = f"{tmpdir}/events"
    micros = "user_id", F.unix_micros("ts").alias("us")
    with scoped_conf(spark, {"spark.sql.session.timeZone": "America/New_York"}):
        insert_rows(spark, path, rows, schema)
        got = sorted(spark.read.parquet(path).select(*micros).collect())
        want = sorted(spark.createDataFrame(rows, schema).select(*micros).collect())
    assert got == want
    assert [r.us is None for r in got] == [False, False, False, True]


def test_insert_rows_runs_no_python_worker(spark, tmpdir, monkeypatch):
    """The frame insert_rows appends is read by the JVM from Arrow: its RDD
    lineage has no PythonRDD (createDataFrame of a Python list runs one,
    over defaultParallelism slices) and it is one partition."""
    from pyspark.sql import DataFrameWriter

    written = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written.append(self._df)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    insert_rows(spark, f"{tmpdir}/ratings", [("u1", 4.5, datetime(2024, 1, 1))], RATING_ROW_SCHEMA)
    (df,) = written
    rdd = df._jdf.queryExecution().toRdd()
    assert "PythonRDD" not in rdd.toDebugString()
    assert rdd.getNumPartitions() == 1


@pytest.mark.parametrize(
    "name",
    [
        "j7_range_join",
        "x_vocab_coverage",
        "x_bpe_train",
        "x_lda_topics",
        "x_bucketed_join",
        "x_compaction_apply",
        "x_snapshot_asof_ts",
        "x_mor_compact_e2e",
    ],
)
def test_driver_list_frames_run_no_python_worker(spark, name, monkeypatch):
    """The small frames these queries build from driver lists (price bands,
    vocabulary sizes, the learned merge table, the LDA vocabulary, the
    bucketed join's collected answer, per-source file counts, an as-of
    probe's empty answer) are Arrow local relations: no frame the query
    creates scans an RDD, which createDataFrame(<list>) would have made
    with a Python-worker stage."""
    from recommender_systems_pyspark_spark.registry import all_queries

    plans = []
    create = type(spark).createDataFrame

    def spy(self, *args, **kwargs):
        df = create(self, *args, **kwargs)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return df

    monkeypatch.setattr(type(spark), "createDataFrame", spy)
    all_queries()[name].fn(spark, SF_SMOKE)
    assert plans
    for plan in plans:
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_imdb_etl_roundtrip(spark, tmp_path):
    """End-to-end IMDb-shaped ETL (ref utils/data_loader.py:39-113,115-158):
    TSV with \\N sentinels → schema-enforced read → clean (nullable-int
    years, ArrayType genres) → parquet landing → typed read-back."""
    from pyspark.sql.types import ArrayType, IntegerType, StringType

    from recommender_systems_pyspark_spark.sources.imdb import (
        IMDB_SCHEMAS,
        ingest_imdb_table,
    )

    assert len(IMDB_SCHEMAS) == 7  # the reference's seven TSV schemas
    tsv = tmp_path / "title.basics.tsv"
    tsv.write_text(
        "tconst\ttitleType\tprimaryTitle\toriginalTitle\tisAdult\tstartYear\tendYear\truntimeMinutes\tgenres\n"
        "tt0000001\tshort\tCarmencita\tCarmencita\t0\t1894\t\\N\t1\tDocumentary,Short\n"
        "tt0000002\tmovie\tLe clown\tLe clown\t0\t\\N\t\\N\t5\tAnimation\n"
        "tt0000003\tmovie\tJunkYear\tJunkYear\t0\t19xx\t\\N\t\\N\t\\N\n"
    )
    out = str(tmp_path / "titles_parquet")
    landed = ingest_imdb_table(spark, str(tsv), "title.basics.tsv.gz", out)

    schema = {f.name: f.dataType for f in landed.schema.fields}
    assert schema["startYear"] == IntegerType()  # cleaned digit-string
    assert schema["genres"] == ArrayType(StringType())  # unpacked list

    rows = {r.tconst: r for r in landed.collect()}
    assert rows["tt0000001"].startYear == 1894
    assert rows["tt0000001"].genres == ["Documentary", "Short"]
    assert rows["tt0000002"].startYear is None  # \N sentinel → null
    assert rows["tt0000003"].startYear is None  # junk year → null, not crash
    assert rows["tt0000003"].genres is None


def test_cache_lifecycle(spark, sf_dir):
    """S10: cache/uncache/clearCache (ref utils/data_loader.py:151)."""
    from recommender_systems_pyspark_spark.sources import load_table
    from recommender_systems_pyspark_spark.sources.sinks import (
        cache_table,
        clear_cache,
        uncache_table,
    )

    df = cache_table(load_table(spark, sf_dir, "nation"), name="nation_cached")
    df.count()  # materialize
    assert df.storageLevel.useMemory
    assert spark.catalog.isCached("nation_cached")
    uncache_table(df)
    assert not df.storageLevel.useMemory
    df2 = cache_table(load_table(spark, sf_dir, "region"))
    df2.count()
    clear_cache(spark)
    assert not df2.storageLevel.useMemory


def test_upsert_parquet_merge_semantics(spark, tmp_path):
    """MERGE-shaped upsert: matched keys replaced, unmatched kept, new
    keys inserted — in one key-shuffle rewrite."""
    from recommender_systems_pyspark_spark.sources.sinks import upsert_parquet

    path = str(tmp_path / "store")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, v double"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "id long, name string, v double"
    )
    upsert_parquet(spark, path, updates, ["id"])
    got = {r.id: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema evolution: later batches may add columns; a mergeSchema read
    unions the schemas (old rows null-filled) — the append-store contract
    a long-lived pipeline needs."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 7.5)], "id long, name string, score double"
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[2] == 7.5 and rows[1] is None


def test_swap_crash_recovery(spark, tmp_path):
    """A crash between the two swap renames must not lose the store: the
    next operation (or recover_swap directly) restores the backup."""
    import os

    from recommender_systems_pyspark_spark.sources.sinks import (
        recover_swap,
        upsert_parquet,
    )

    path = str(tmp_path / "store")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)

    # simulate a crash mid-swap: path was renamed to __old, new never landed
    os.rename(path, path + "__old")
    assert not os.path.exists(path)
    recover_swap(path)
    assert {r.id for r in spark.read.parquet(path).collect()} == {1}

    # a stale completed-swap backup is cleaned up by the next upsert
    spark.createDataFrame([(9, "z")], "id long, v string").write.parquet(path + "__old")
    upsert_parquet(spark, path, spark.createDataFrame([(2, "b")], "id long, v string"), ["id"])
    assert not os.path.exists(path + "__old")
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b"}


def test_tsv_quarantine_splits_clean_from_malformed(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from recommender_systems_pyspark_spark.sources.ingest import read_tsv_quarantine

    schema = StructType([StructField("id", LongType()), StructField("name", StringType())])
    p = tmp_path / "data.tsv"
    p.write_text("id\tname\n1\talice\nnotanum\tbob\n3\tcarol\n")
    clean, quar = read_tsv_quarantine(spark, str(p), schema)
    assert sorted((r.id, r.name) for r in clean.collect()) == [(1, "alice"), (3, "carol")]
    q = quar.collect()
    assert [r.raw_line for r in q] == ["notanum\tbob"]
    assert q[0].id is None and q[0].name == "bob"  # partial parse kept for triage
    assert q[0].source_file.endswith("data.tsv")
    assert len(schema.fields) == 2  # caller's schema not mutated


def test_jsonl_quarantine_splits_clean_from_malformed(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from recommender_systems_pyspark_spark.sources.ingest import read_jsonl

    schema = StructType([StructField("id", LongType()), StructField("name", StringType())])
    p = tmp_path / "docs.jsonl"
    p.write_text('{"id": 1, "name": "alice"}\nnot json at all\n{"id": 3, "name": "carol"}\n')
    clean, quar = read_jsonl(spark, str(p), schema)
    assert sorted((r.id, r.name) for r in clean.collect()) == [(1, "alice"), (3, "carol")]
    assert [r.raw_line for r in quar.collect()] == ["not json at all"]


def test_interchange_formats_roundtrip(spark, tmp_path):
    """export_table/read_interchange round-trip every supported format.
    parquet/ORC are self-describing; json/csv re-read with the writer's
    schema (csv cannot carry nested types, so the sample stays flat)."""
    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.sources.sinks import (
        INTERCHANGE_FORMATS,
        export_table,
        read_interchange,
    )

    df = (
        spark.range(100)
        .select(
            F.col("id"),
            (F.col("id") % 7).alias("grp"),
            (F.col("id") * 1.5).alias("val"),
            F.concat(F.lit("row-"), F.col("id")).alias("name"),
        )
    )
    expected = {(r.id, r.grp, r.val, r.name) for r in df.collect()}
    for fmt in INTERCHANGE_FORMATS:
        path = str(tmp_path / f"t_{fmt}")
        export_table(df, path, fmt)
        back = read_interchange(spark, path, fmt, schema=df.schema)
        # nullability is a reader property (files come back nullable);
        # names and types must survive exactly
        assert [(f.name, f.dataType) for f in back.schema] == [
            (f.name, f.dataType) for f in df.schema
        ], fmt
        assert {tuple(r) for r in back.collect()} == expected, fmt
    import pytest

    with pytest.raises(ValueError):
        export_table(df, str(tmp_path / "nope"), "avro")


def test_versioned_snapshot_time_travel(spark, tmp_path):
    """write → publish → time travel → crash-orphan invisibility → vacuum."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from recommender_systems_pyspark_spark.sources import versioned as V

    path = str(tmp_path / "dim")
    assert V.published_version(path) is None
    with pytest.raises(FileNotFoundError):
        V.read_snapshot(spark, path)

    for n in (10, 20, 30):
        df = spark.range(n).select("id", F.lit(n).alias("gen"))
        V.write_snapshot(df, path)
    assert V.list_versions(path) == [1, 2, 3]
    assert V.published_version(path) == 3
    assert V.read_snapshot(spark, path).count() == 30          # latest
    assert V.read_snapshot(spark, path, version=1).count() == 10  # time travel

    # simulate a writer that crashed after landing data, before publish:
    # readers must not see v=4
    spark.range(5).write.parquet(os.path.join(path, "v=4"))
    assert V.published_version(path) == 3
    assert V.list_versions(path) == [1, 2, 3]
    with pytest.raises(FileNotFoundError):
        V.read_snapshot(spark, path, version=4)
    # the next successful write claims v=5 and publishes it
    v = V.write_snapshot(spark.range(50).select("id", F.lit(50).alias("gen")), path)
    assert v == 5
    assert V.read_snapshot(spark, path).count() == 50

    # vacuum keeps the last 2 published, sweeps old + the orphan
    removed = V.vacuum(path, keep_last=2)
    assert sorted(removed) == [1, 2, 4]
    assert V.list_versions(path) == [3, 5]
    assert V.read_snapshot(spark, path, version=3).count() == 30
    with pytest.raises(FileNotFoundError):
        V.read_snapshot(spark, path, version=1)


def test_artifact_store_keyed_by_input_files(spark, tmp_path):
    """.cache/ artifacts are keyed by the input directory's files, not its
    name: an unchanged directory keeps its key, a rewritten input file
    under the same directory rebuilds the artifact, two same-named
    directories with different files never share one, and a directory of
    symlinks keys like the files they point to."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from recommender_systems_pyspark_spark.sources import versioned as V

    family = "test_artifact_store"
    a, b, link = (tmp_path / d / "sf" for d in ("a", "b", "link"))
    for d in (a, b, link):
        d.mkdir(parents=True)

    def write_ids(d, n):
        pq.write_table(pa.table({"id": list(range(n))}), str(d / "t.parquet"))

    write_ids(a, 10)
    write_ids(b, 20)
    os.symlink(a / "t.parquet", link / "t.parquet")
    built = []

    def load(d):
        def build():
            built.append(d)
            return spark.read.parquet(str(d / "t.parquet"))

        return V.load_or_build(spark, family, str(d), "ids", build).count()

    key_a = V.artifact_path(family, str(a), "ids")
    try:
        assert V.artifact_path(family, str(a), "ids") == key_a
        assert V.artifact_path(family, str(b), "ids") != key_a
        assert V.artifact_path(family, str(link), "ids") == key_a
        assert (load(a), load(a), load(b)) == (10, 10, 20)
        assert built == [a, b]

        write_ids(a, 5)
        assert V.artifact_path(family, str(a), "ids") != key_a
        assert load(a) == 5
        assert built == [a, b, a]
    finally:
        shutil.rmtree(os.path.dirname(key_a), ignore_errors=True)
