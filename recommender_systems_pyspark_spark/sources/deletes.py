"""Merge-on-read deletion vectors (round 11): position + equality
deletes applied at scan time — the Iceberg-v2/Delta-DV read path.

A lakehouse delete does not rewrite data files; it writes small DELETE
FILES that readers merge at scan time:

- **position deletes** — (file, position-in-file) pairs marking
  individual rows of specific data files dead;
- **equality deletes** — predicates ("every row with source='web-7'")
  applied to all files written before the delete.

The read-side operator here is the part engines get wrong at scale: the
live set is ``data LEFT ANTI JOIN position_deletes ON (file, pos)``
followed by the equality-delete filter. The delete frame is orders of
magnitude smaller than the data (that is the point of MoR), so the
anti-join BROADCASTS the delete vector — zero data-side shuffle, scan
stays pushdown-friendly. A pathological delete vector (≈data size)
degrades to one co-keyed shuffle join, still linear; compaction
(x_compaction_apply) is the cure, not a bigger join.

Reference contrast: the app's only delete story is the full-table
JDBC overwrite (utils/data_loader.py:146) — every reload rewrites
everything; deletion vectors are the engine-grade mechanism that makes
point deletes O(|deletes|) instead of O(|table|).

The fixture has no real file manifest, so files are modeled
deterministically (``file_id = doc_id // 100``, ``pos = doc_id % 100``
— same device as x_compaction_plan) and the delete files by modular
rules the DuckDB oracle replays exactly. Precedence is defined:
position deletes apply first; equality deletes count only rows they
newly kill — every row lands in exactly one of (live, pos-deleted,
eq-deleted), so the per-file ledger sums to the file size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table

#: Rows-per-modeled-file (same granularity device as x_compaction_plan).
_FILE_ROWS = 100
#: Position-delete rule: every 13th doc starting at 3 is individually dead.
_POS_MOD, _POS_REM = 13, 3
#: Equality-delete predicate: these source partitions are recalled
#: wholesale (the "bad crawl batch" incident shape).
_EQ_SOURCES = ("src3", "src7")
_eq_tuple = "(" + ", ".join(f"'{s}'" for s in _EQ_SOURCES) + ")"


@query(
    "x_deletion_vectors",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             doc_id // {_FILE_ROWS} AS file_id,
             doc_id % {_FILE_ROWS} AS pos,
             (doc_id % {_POS_MOD} = {_POS_REM}) AS pos_dead,
             (source IN {_eq_tuple}) AS eq_dead
      FROM documents
    )
    SELECT file_id,
           COUNT(*) FILTER (WHERE NOT pos_dead AND NOT eq_dead)
             AS n_live,
           COUNT(*) FILTER (WHERE pos_dead) AS n_pos_deleted,
           COUNT(*) FILTER (WHERE NOT pos_dead AND eq_dead)
             AS n_eq_deleted,
           COALESCE(bit_xor(CASE WHEN NOT pos_dead AND NOT eq_dead
                                 THEN doc_id END), 0) AS live_checksum
    FROM base
    GROUP BY file_id
    ORDER BY file_id
    """,
)
def x_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply position + equality delete files to the documents "data
    files" at scan time and emit the per-file liveness ledger:
    (n_live, n_pos_deleted, n_eq_deleted, live_checksum). The position
    delete vector is a real second DataFrame anti-joined on
    (file_id, pos) — broadcast, because delete files are small by
    construction — not a fused filter; the oracle replays both delete
    rules arithmetically, so a precedence or join bug hash-mismatches."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") / _FILE_ROWS).cast("long").alias("file_id"),
        (F.col("doc_id") % _FILE_ROWS).alias("pos"),
        "source",
    )
    # The position-delete FILE: built as its own frame (in production
    # this is a scan of *-deletes.parquet), then broadcast into the
    # anti-join marker. Derived from the same fixture so the oracle can
    # replay it, but the JOIN is real.
    pos_deletes = (
        docs.where(F.col("doc_id") % _POS_MOD == _POS_REM)
        .select("file_id", "pos")
    )
    marked = docs.join(
        F.broadcast(pos_deletes.withColumn("_dead", F.lit(True))),
        ["file_id", "pos"],
        "left",
    ).select(
        "file_id",
        "doc_id",
        F.coalesce(F.col("_dead"), F.lit(False)).alias("pos_dead"),
        F.col("source").isin(*_EQ_SOURCES).alias("eq_dead"),
    )
    live = ~F.col("pos_dead") & ~F.col("eq_dead")
    return (
        marked.groupBy("file_id")
        .agg(
            F.count_if(live).alias("n_live"),
            F.count_if(F.col("pos_dead")).alias("n_pos_deleted"),
            F.count_if(~F.col("pos_dead") & F.col("eq_dead")).alias(
                "n_eq_deleted"
            ),
            F.coalesce(
                F.bit_xor(F.when(live, F.col("doc_id"))), F.lit(0)
            ).alias("live_checksum"),
        )
        .orderBy("file_id")
    )


# ---------------------------------------------------------------------------
# MoR lifecycle COMPOSED (round 12): delete files applied, survivors
# compacted in the SAME rewrite, result certified against the pre-rewrite
# MoR scan — "compaction is the cure" executed, not just documented.
# ---------------------------------------------------------------------------

#: Store layout for the executed MoR cycle: one real parquet file per
#: (source, per-source row_number DIV 50) — the same fragmentation
#: granularity x_compaction_apply measured as metadata-safe at sf0.1
#: (warehouse._APPLY_FILE_MOD); position deletes address (file, pos)
#: within THIS layout.
_MOR_FILE_ROWS = 50
#: Rewrite-group target (bytes of n_chars) — same bin size as the
#: executed compaction so groups pack ~3 survivor files each.
_MOR_TARGET = 40_000


def _mor_oracle() -> str:
    from ..functions.warehouse import _DOC_FP_SQL

    return f"""
    WITH base AS (
      SELECT source, doc_id, n_chars, text,
             (ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1)
               // {_MOR_FILE_ROWS} AS file_id,
             (doc_id % {_POS_MOD} = {_POS_REM}) AS pos_dead,
             (source IN {_eq_tuple}) AS eq_dead
      FROM documents
    ),
    ledger AS (
      SELECT source,
             COUNT(*) AS n_total,
             COUNT(*) FILTER (WHERE pos_dead) AS n_pos_deleted,
             COUNT(*) FILTER (WHERE NOT pos_dead AND eq_dead)
               AS n_eq_deleted,
             COUNT(*) FILTER (WHERE NOT pos_dead AND NOT eq_dead)
               AS n_live,
             COUNT(DISTINCT file_id) AS n_files_before,
             COALESCE(bit_xor(CASE WHEN NOT pos_dead AND NOT eq_dead
                                   THEN {_DOC_FP_SQL} END), 0)
               AS live_checksum
      FROM base GROUP BY source
    ),
    manifest AS (
      SELECT source, file_id,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS bytes
      FROM base WHERE NOT pos_dead AND NOT eq_dead
      GROUP BY 1, 2
    ),
    packed AS (
      SELECT source, file_id,
             CAST((SUM(bytes) OVER (
                     PARTITION BY source ORDER BY file_id
                     ROWS UNBOUNDED PRECEDING) - bytes)
                  // {_MOR_TARGET} AS BIGINT) AS group_id
      FROM manifest
    ),
    after_files AS (
      SELECT source, COUNT(DISTINCT group_id) AS n_files_after
      FROM packed GROUP BY source
    )
    SELECT l.source, n_total, n_pos_deleted, n_eq_deleted, n_live,
           n_files_before,
           COALESCE(n_files_after, 0) AS n_files_after,
           n_live AS rows_after,
           live_checksum,
           live_checksum AS checksum_after
    FROM ledger l LEFT JOIN after_files USING (source)
    ORDER BY l.source
    """


@query("x_mor_compact_e2e", oracle=_mor_oracle())
def x_mor_compact_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full merge-on-read lifecycle in one certified pass: land the
    documents table as a fragmented (source, file_id) store, write a
    position-delete file and an equality-delete predicate against it,
    then run a DELETE-AWARE compaction — one rewrite that merges the
    delete files (broadcast anti-join on (source, file_id, pos) +
    equality filter) AND bin-packs the survivors into ~target-byte
    groups via the shared cumulative-sum packer — and publish it as the
    next snapshot. Certification per source: the liveness ledger
    (n_total = n_pos_deleted + n_eq_deleted + n_live), REAL file counts
    walked from both snapshot directories, and the survivor-set
    fingerprint computed TWICE — once from the MoR scan of the
    fragmented snapshot (v1 + delete files), once re-read from the
    compacted snapshot (v2) — which the oracle predicts as one value:
    a rewrite that loses, duplicates, or resurrects a row
    hash-mismatches. Sources recalled wholesale by the equality delete
    certify the empty edge (0 live rows → 0 output files).

    Scale: the rewrite is the deletion-vector read path (broadcast
    anti-join, zero data-side shuffle) feeding one key-hash shuffle on
    (source, group_id) — exactly compact_files' shape with the delete
    merge fused in, which is how a lakehouse OPTIMIZE on a DV table
    avoids a second pass. Reference contrast: the app's only delete
    story is the full-table JDBC overwrite (utils/data_loader.py:146);
    this is the point-delete → deferred-rewrite protocol that replaces
    it at 100 TB."""
    import os
    import tempfile

    from ..functions.warehouse import (
        _doc_fingerprint,
        _file_counts,
        _pack_manifest,
    )
    from ..sources.versioned import read_snapshot, write_snapshot

    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(prefix="x_mor_compact_", ignore_cleanup_errors=True) as d:
        store = os.path.join(d, "docs_store")
        rn = F.expr(
            "row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1"
        )
        frag = docs.select(
            "source", "doc_id", "n_chars", "text", rn.alias("_rn")
        ).select(
            "source",
            "doc_id",
            "n_chars",
            "text",
            F.expr(f"CAST(_rn DIV {_MOR_FILE_ROWS} AS BIGINT)").alias("file_id"),
            F.expr(f"CAST(_rn % {_MOR_FILE_ROWS} AS BIGINT)").alias("pos"),
        ).repartition("source", "file_id")
        v1 = write_snapshot(frag, store, partition_by=("source", "file_id"))

        # The delete files: a position-delete frame (in production a scan
        # of *-deletes.parquet) and the equality predicate. Derived from
        # deterministic rules so the oracle replays them; the JOIN below
        # is real.
        snap = read_snapshot(spark, store, v1)
        pos_deletes = snap.where(
            F.col("doc_id") % _POS_MOD == _POS_REM
        ).select("source", "file_id", "pos", F.lit(True).alias("_dead"))
        marked = snap.join(
            F.broadcast(pos_deletes), ["source", "file_id", "pos"], "left"
        ).select(
            "source",
            "file_id",
            "doc_id",
            "n_chars",
            "text",
            F.coalesce(F.col("_dead"), F.lit(False)).alias("pos_dead"),
            F.col("source").isin(*_EQ_SOURCES).alias("eq_dead"),
        )
        live_cond = ~F.col("pos_dead") & ~F.col("eq_dead")
        fp = _doc_fingerprint()

        # Ledger + pre-rewrite survivor fingerprint from the MoR scan.
        ledger = marked.groupBy("source").agg(
            F.count("*").alias("n_total"),
            F.count_if(F.col("pos_dead")).alias("n_pos_deleted"),
            F.count_if(~F.col("pos_dead") & F.col("eq_dead")).alias(
                "n_eq_deleted"
            ),
            F.count_if(live_cond).alias("n_live"),
            F.coalesce(F.bit_xor(F.when(live_cond, fp)), F.lit(0)).alias(
                "live_checksum"
            ),
        )

        # Delete-aware compaction: one rewrite, delete merge fused in.
        live = marked.where(live_cond)
        plan = _pack_manifest(
            live.groupBy("source", "file_id").agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("bytes"),
            ),
            target=_MOR_TARGET,
        ).select("source", "file_id", "group_id")
        regrouped = (
            live.join(F.broadcast(plan), ["source", "file_id"])
            .select("source", "group_id", "doc_id", "n_chars", "text")
            .repartition("source", "group_id")
        )
        v2 = write_snapshot(regrouped, store, partition_by=("source", "group_id"))

        # Post-rewrite certification: re-read the published snapshot.
        after = (
            read_snapshot(spark, store, v2)
            .groupBy("source")
            .agg(
                F.count("*").alias("rows_after"),
                F.bit_xor(_doc_fingerprint()).alias("checksum_after"),
            )
        )
        out = (
            ledger.join(F.broadcast(_file_counts(spark, store, v1, v2)), "source")
            .join(after, "source", "left")
            .select(
                "source",
                "n_total",
                "n_pos_deleted",
                "n_eq_deleted",
                "n_live",
                "n_files_before",
                "n_files_after",
                F.coalesce(F.col("rows_after"), F.lit(0)).alias("rows_after"),
                "live_checksum",
                F.coalesce(F.col("checksum_after"), F.lit(0)).alias(
                    "checksum_after"
                ),
            )
            .orderBy("source")
        )
        return out.localCheckpoint(eager=True)  # materialize before the dir goes
