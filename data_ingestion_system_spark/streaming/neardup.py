"""Incremental near-duplicate dedup ingestion — MinHash-LSH across batches.

The reference's pipeline dedups each batch against the stored corpus by
exact key (reference: src/ingestion/pipeline.py:201-216). A training-data
pipeline at 100 TB needs the *near*-dup version of the same loop: a new
document is rejected when it is a near-duplicate (Jaccard >= threshold)
of anything already accepted, not just byte-identical. This module runs
the dedup/minhash.py pipeline incrementally inside foreachBatch:

- state = two append-only parquet stores for ACCEPTED docs only:
  (doc_id, band_key) — the LSH index — and (doc_id, token) — shingle
  sets for exact Jaccard verification. Both are what a batch job would
  recompute from the corpus; keeping them incremental makes each batch
  cost O(batch x matched buckets), never O(corpus).
- per batch: drop near-dups of the stored corpus (band-key join against
  the index, exact Jaccard on candidates only), then near-dups within
  the batch (keep the smallest doc_id of each verified pair), then
  append survivors + their index rows + an audit row.
- replay-safe like ingest.dedup_insert_batch: the audit row is the
  commit marker — a replayed batch_id is skipped outright. Crash
  MID-batch (r9): state writes land in per-batch `batch_id=<n>`
  partition dirs with mode=overwrite, so a replay of a batch that died
  between its state writes and its audit marker OVERWRITES the partial
  attempt instead of appending a second copy, and the store reads
  exclude the in-flight batch's own leftover partition — no
  double-accept, no self-rejection. `accepted_docs` is the committed
  read view (target partitions whose audit marker exists).

At scale the band-key join shuffles only (doc_id, band_key) pairs and
the token join only candidate docs' shingles; accepted-state appends are
partitioned by batch via file layout. Nothing about the corpus ever
sits in driver memory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_ingestion_system_spark.dedup.minhash import (
    JACCARD_THRESHOLD,
    band_keys,
    candidate_pairs,
    minhash_signatures,
    token_sets,
    verified_pairs,
)
from data_ingestion_system_spark.schemas import NEARDUP_AUDIT
from data_ingestion_system_spark.tables import local_rows_df


@dataclass
class NearDupPaths:
    source_dir: str      # landing files (document batches)
    target_dir: str      # accepted documents
    bands_dir: str       # LSH index of accepted docs: (doc_id, band_key)
    tokens_dir: str      # shingle sets of accepted docs: (doc_id, token)
    audit_dir: str       # one row per batch
    checkpoint_dir: str


def _dir_has_parquet(path: str) -> bool:
    # recursive: state dirs hold per-batch `batch_id=<n>` partition subdirs
    if not os.path.isdir(path):
        return False
    return any(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def _migrate_legacy_flat(path: str) -> None:
    """Move pre-partitioned (flat append) state files into a
    ``batch_id=-1`` partition dir, giving the store ONE layout: Spark
    cannot read a dir that mixes root-level files with partition
    subdirs, which is exactly what the first partitioned write into a
    legacy store would create. -1 means 'committed before the
    partitioned layout existed' — every such row was appended by a
    batch whose audit marker already landed. File renames, no data
    rewrite (local/HDFS; an object-store deployment would copy)."""
    if not os.path.isdir(path):
        return
    flat = [f for f in os.listdir(path) if f.endswith(".parquet")]
    if not flat:
        return
    dest = os.path.join(path, "batch_id=-1")
    os.makedirs(dest, exist_ok=True)
    for f in flat:
        os.rename(os.path.join(path, f), os.path.join(dest, f))
        crc = os.path.join(path, f".{f}.crc")
        if os.path.exists(crc):
            os.rename(crc, os.path.join(dest, f".{f}.crc"))


def neardup_insert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    paths: NearDupPaths,
    threshold: float = JACCARD_THRESHOLD,
) -> None:
    """foreachBatch body: reject near-dups vs the accepted corpus, then
    within the batch (smallest doc_id of a verified pair wins), append
    survivors and their index state, record the audit row (with the
    batch's wall seconds, so scale probes read per-batch cost from the
    operator's own audit instead of inferring it from totals).

    Job chain per batch (one job per materialization; stores are read
    with declared or partition-pruned schemas):

    1. replay check: a pruned scan of the audit's batch_id column;
    2. `batch`, its token sets and band keys are checkpointed lazily:
       `fetched = batch.count()` materializes the deduplicated batch,
       the token and band relations are materialized by the first job
       that reads them — no separate eager-checkpoint job each;
    3. `remaining` (after the band-key join and exact Jaccard against
       the stored corpus) and `survivors` (after the within-batch pass)
       are lazy checkpoints too, each materialized by the `count()` the
       audit needs — so both are pinned before any state write;
    4. survivor, band and token writes into this batch's partitions,
       then the audit marker, a JVM-side LocalRelation
       (`tables.local_rows_df`) that needs no Python worker."""
    import time as _time

    t0 = _time.perf_counter()
    for d in (paths.target_dir, paths.bands_dir, paths.tokens_dir):
        _migrate_legacy_flat(d)
    if _dir_has_parquet(paths.audit_dir):
        already = (
            spark.read.schema(NEARDUP_AUDIT)
            .parquet(paths.audit_dir)
            .filter(F.col("batch_id") == int(batch_id))
            .select("batch_id")
            .collect()  # one scan job; at most this batch's one marker row
        )
        if already:
            return

    batch = batch_df.dropDuplicates(["doc_id"]).localCheckpoint(eager=False)
    fetched = batch.count()
    toks = token_sets(batch).localCheckpoint(eager=False)
    bands = band_keys(minhash_signatures(toks)).localCheckpoint(eager=False)

    if _dir_has_parquet(paths.bands_dir):
        # exclude this batch's own partition: a replay of a mid-batch
        # crash would otherwise find the partial attempt's index rows in
        # the store and reject every doc as a near-dup of itself (then
        # overwrite the partition with nothing — silent data loss). The
        # filter is a pruned partition scan, not a data read. A store
        # written by the pre-partitioned (flat append) layout has no
        # batch_id column — those rows are all committed prior batches.
        store_bands = spark.read.parquet(paths.bands_dir)
        if "batch_id" in store_bands.columns:
            store_bands = store_bands.filter(F.col("batch_id") != int(batch_id))
        store_bands = store_bands.select("doc_id", "band_key")
        cross = (
            bands.alias("n")
            .join(store_bands.alias("s"), F.col("n.band_key") == F.col("s.band_key"))
            .select(
                F.col("s.doc_id").alias("doc_a"), F.col("n.doc_id").alias("doc_b")
            )
            .distinct()
        )
        # exact Jaccard needs both sides' shingles: batch tokens plus the
        # stored shingles of ONLY the candidate store docs (semi-join —
        # the index, not the corpus, bounds what gets read)
        store_toks = spark.read.parquet(paths.tokens_dir)
        if "batch_id" in store_toks.columns:
            store_toks = store_toks.filter(F.col("batch_id") != int(batch_id))
        store_toks = store_toks.select("doc_id", "token").join(
            cross.select(F.col("doc_a").alias("doc_id")).distinct(), "doc_id", "left_semi"
        )
        # distinct: a re-delivered doc_id appears in BOTH sides of the
        # union with identical shingles; duplicates would double n_common
        dup_vs_store_ids = (
            verified_pairs(toks.unionByName(store_toks).distinct(), cross, threshold, n_docs=0)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        remaining = batch.join(dup_vs_store_ids, "doc_id", "left_anti").localCheckpoint(
            eager=False
        )
    else:
        remaining = batch
    after_store = remaining.count()

    rtoks = toks.join(remaining.select("doc_id"), "doc_id", "left_semi")
    rbands = bands.join(remaining.select("doc_id"), "doc_id", "left_semi")
    within = verified_pairs(rtoks, candidate_pairs(rbands, n_docs=0), threshold, n_docs=0)
    drop_ids = within.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = remaining.join(drop_ids, "doc_id", "left_anti").localCheckpoint(eager=False)
    inserted = survivors.count()

    # state writes go to per-batch partition dirs with OVERWRITE: a
    # replayed mid-batch crash replaces its own partial attempt instead
    # of appending a second copy (the audit marker below stays the
    # commit point — it is written LAST, plain append, one row)
    sub = f"batch_id={int(batch_id)}"
    survivors.write.mode("overwrite").parquet(os.path.join(paths.target_dir, sub))
    keep = survivors.select("doc_id")
    bands.join(keep, "doc_id", "left_semi").write.mode("overwrite").parquet(
        os.path.join(paths.bands_dir, sub)
    )
    toks.join(keep, "doc_id", "left_semi").write.mode("overwrite").parquet(
        os.path.join(paths.tokens_dir, sub)
    )
    audit = local_rows_df(
        spark,
        [
            (
                int(batch_id),
                fetched,
                fetched - after_store,
                after_store - inserted,
                inserted,
                round(_time.perf_counter() - t0, 3),
            )
        ],
        NEARDUP_AUDIT,
    )
    _append_audit(audit, paths.audit_dir)


def _append_audit(audit: DataFrame, audit_dir: str) -> None:
    """The commit point of a batch — kept as a seam so the chaos test
    can inject a crash BETWEEN the state writes and the marker."""
    audit.write.mode("append").parquet(audit_dir)


def accepted_docs(
    spark: SparkSession,
    paths: NearDupPaths,
    schema: StructType | None = None,
) -> DataFrame:
    """Committed read view of the accepted corpus: target partitions
    whose audit commit marker exists. After a mid-batch crash the target
    dir can hold one uncommitted `batch_id=<n>` partition (the audit row
    is written last); resuming the stream overwrites it, but a reader
    that runs BEFORE the resume must not see it. The audit is one row
    per batch — the semi-join broadcasts.

    A fresh deployment (or a crash before batch 0's first target write)
    has no target files at all: with ``schema`` given this returns the
    empty committed view; without it there is nothing to infer a schema
    from, so it raises a clear ValueError instead of Spark's
    PATH_NOT_FOUND."""
    if not _dir_has_parquet(paths.target_dir):
        if schema is not None:
            return spark.createDataFrame([], schema)
        raise ValueError(
            f"near-dup target {paths.target_dir} has no committed state yet; "
            "pass schema= for an empty committed view"
        )
    target = spark.read.parquet(paths.target_dir)
    if "batch_id" not in target.columns:
        # pre-partitioned (flat append) layout: every written row was
        # committed at its batch's audit-marker skip level
        return target
    if not _dir_has_parquet(paths.audit_dir):
        return target.limit(0).drop("batch_id")
    # batch_id=-1 is the migrated legacy partition — committed by
    # construction (see _migrate_legacy_flat)
    committed = (
        spark.read.schema(NEARDUP_AUDIT)
        .parquet(paths.audit_dir)
        .select("batch_id")
        .union(spark.range(1).select(F.lit(-1).cast("long").alias("batch_id")))
    )
    return (
        target.withColumn("batch_id", F.col("batch_id").cast("long"))
        .join(F.broadcast(committed), "batch_id", "left_semi")
        .drop("batch_id")
    )


def run_neardup_ingestion(
    spark: SparkSession,
    paths: NearDupPaths,
    schema: StructType,
    threshold: float = JACCARD_THRESHOLD,
    max_files_per_trigger: int | None = 1,
):
    """Drain pending document files through the incremental near-dup
    filter (Trigger.AvailableNow, one landing file per micro-batch by
    default — the reference's --once drain loop shape)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(paths.source_dir)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        neardup_insert_batch(spark, batch_df, batch_id, paths, threshold)

    query = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", paths.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
