"""Event-driven / incremental-batch semantics (SURVEY.md §2.10).

The reference is delta-notified micro-batch: a POST /delta containing an
insert (?task, adms:status, scheduled) fires one pipeline run for that
task (`AppController.java:27-45`, constants `Constants.java:4-10`). Our
distributed analog has two parts:

* ``scheduled_tasks_from_delta`` — the P1 insert-filter over a delta
  patch DataFrame, IRI-for-IRI with the reference;
* ``IncrementalLedger`` — "new work = source rows not in the processed
  ledger" (the Iceberg snapshot-diff analog): each batch processes ONLY
  unseen doc_ids, appends outputs + ledger rows atomically-enough for
  rerun-idempotence, and re-presenting an already-processed corpus is a
  no-op. Combined with lineage.py this gives the north_rule's resumable
  incremental pipeline.

Crash-replay protocol (VERDICT r2 #5 — bounded, not O(total history)):

1. an INTENT row (doc_id, batch_id) lands in ``_inflight`` BEFORE any
   output append;
2. outputs append under a ``batch_id=<run_id>`` partition;
3. ``mark`` appends the processed rows LAST.

A batch is *in doubt* iff any of its inflight docs is missing from the
processed ledger — exactly the crash window between (2) and (3). Replay
dedup therefore anti-joins ONLY the in-doubt batch partitions of the
output tables (parquet partition pruning on batch_id); in the no-crash
steady state the in-doubt set is empty and the output tables are never
read at all. The per-batch cost is O(ledger keys), not O(output rows) —
on a long-lived warehouse the ledgers stay narrow key tables (and are
periodically compactable: inflight rows of fully-processed batches are
dead), while r2's code re-read the full wide output tables every batch.

Scale notes: the ledgers are key tables pruned by the same bucket(doc_id)
partitioning as every other per-doc table; all path probes go through the
Hadoop FileSystem seam (fs.py), so the warehouse may live on any
Hadoop-supported filesystem. No Structured Streaming is needed (the
reference has no event-time/watermark semantics to honor, SURVEY §2.10):
incremental batch over an append-only table IS the semantics.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harvesting_validator_spark import fs
from harvesting_validator_spark.runtime import local_frame

# IRI-for-IRI with Constants.java:4-10
TASK_HARVESTING_FILTERING = (
    "http://lblod.data.gift/id/jobs/concept/TaskOperation/filtering"
)
SUBJECT_STATUS = "http://www.w3.org/ns/adms#status"
STATUS_SCHEDULED = "http://redpencil.data.gift/id/concept/JobStatus/scheduled"

DELTA_SCHEMA = (
    "op string, subj string, pred string, obj_value string, obj_kind string"
)


def scheduled_tasks_from_delta(deltas: DataFrame) -> DataFrame:
    """`delta.getInsertsFor(adms:status, scheduled)` (AppController.java:30-33):
    subjects of inserted triples whose (pred, obj) mark a scheduled task.

    Deliberate deviation: the reference inspects only the FIRST delta
    object in the POST body (`deltas.stream().findFirst()`,
    AppController.java:30) — later patches in the same notification are
    silently dropped. We process every row; at batch scale there is no
    'first'."""
    return (
        deltas.filter(
            (F.col("op") == "insert")
            & (F.col("pred") == SUBJECT_STATUS)
            & (F.col("obj_value") == STATUS_SCHEDULED)
        )
        .select(F.col("subj").alias("task"))
        .distinct()
    )


class IncrementalLedger:
    """Processed-docs + in-flight-intent ledgers backing incremental runs."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.processed_path = fs.join(warehouse, "_processed")
        self.inflight_path = fs.join(warehouse, "_inflight")
        self.watermarks_path = fs.join(warehouse, "_watermarks")

    def _read(self, path: str, schema: str) -> DataFrame:
        if not fs.exists(self.spark, path):
            return local_frame(self.spark, [], schema)
        return self.spark.read.parquet(path)

    def read(self) -> DataFrame:
        # doc_id dtype follows whatever the caller's source table uses
        # (binary sha256 bytes under the repo convention); the empty-table
        # schema below only matters before the first mark()
        self._migrate_legacy_processed()
        return self._read(
            self.processed_path, "doc_id binary, run_id string, processed_at double"
        )

    def _migrate_legacy_processed(self) -> None:
        """One-time in-place upgrade of a pre-r4 processed ledger
        (ADVICE r4 #4): the old layout wrote UNPARTITIONED part files at
        the ledger root with hex-string doc_ids; mixed with the current
        run_id-partitioned binary layout it is unreadable (conflicting
        directory structures + dtype mismatch). On first contact, move
        the root part files aside, rewrite them into run_id partitions
        (doc_id re-encoded via unhex), and drop the aside dir.

        Crash-safe at-least-once: the aside dir is the restart marker —
        a crash mid-rewrite leaves it in place and the next read resumes
        the rewrite. A resumed rewrite can duplicate ledger rows, which
        is harmless here (the ledger is consumed via anti-joins on
        doc_id and distinct batch_id sets)."""
        aside = self.processed_path + ".legacy_migrating"
        # one-time per instance: after a pass finds neither legacy part
        # files nor an aside dir, every further read()/mark() skips the
        # driver-side directory listings entirely (a long-lived
        # warehouse pays them against a possibly-remote object store)
        if getattr(self, "_legacy_clean", False):
            return
        if fs.exists(self.spark, self.processed_path):
            legacy = [
                n for n in fs.listdir(self.spark, self.processed_path)
                if n.startswith("part-")
                and fs.is_file(self.spark, fs.join(self.processed_path, n))
            ]
            if legacy:
                if not fs.exists(self.spark, aside):
                    fs.mkdirs(self.spark, aside)
                for n in legacy:
                    fs.rename(
                        self.spark,
                        fs.join(self.processed_path, n),
                        fs.join(aside, n),
                    )
        if fs.exists(self.spark, aside):
            old = self.spark.read.parquet(aside)
            if dict(old.dtypes).get("doc_id") == "string":
                old = old.withColumn("doc_id", F.unhex("doc_id"))
            (
                old.select("doc_id", "run_id", "processed_at")
                .write.mode("append")
                .partitionBy("run_id")
                .parquet(self.processed_path)
            )
            fs.delete(self.spark, aside, recursive=True)
        self._legacy_clean = True

    def read_inflight(self) -> DataFrame:
        return self._read(self.inflight_path, "doc_id binary, batch_id string")

    def read_watermarks(self) -> DataFrame:
        return self._read(
            self.watermarks_path,
            "run_id string, high_watermark double, committed_at double",
        )

    def new_docs(
        self, sources: DataFrame, watermark_col: str | None = None
    ) -> DataFrame:
        """Source rows whose doc_id has never been processed.

        Without a watermark column this is the full-ledger anti-join —
        O(history) per batch, correct for any source table.

        With ``watermark_col`` (a source column that is MONOTONE over
        appends — ingest timestamp, snapshot id, commit sequence; NON-
        STRICT monotonicity is the contract, ties are allowed) the read
        emulates an Iceberg snapshot diff (VERDICT r3 ask #7):

        * rows strictly below the committed high-watermark are already
          processed by the append-only contract — pruned with a plain
          column filter, NO join, NO ledger read. Rows AT the watermark
          stay candidates: under non-strict monotonicity a row appended
          after a run commits may carry exactly hw, and a strict filter
          would lose it forever (ADVICE r4 #2);
        * the anti-join safety net (for rows at the boundary value and
          for runs that marked docs but crashed before committing their
          watermark) reads ONLY the processed ledger's run_id partitions
          not yet strictly covered — a run is prunable once its committed
          watermark is BELOW the global hw (all its docs fail the
          ``>= hw`` filter); the boundary run(s) whose watermark equals
          hw stay in the anti-join so their hw-valued docs dedupe.

        Per-batch cost is O(new rows) + O(boundary run) + O(crash
        window), independent of corpus history — the property that keeps
        a years-old 100 TB warehouse's intake as cheap as day one's."""
        if watermark_col is None:
            if not fs.exists(self.spark, self.processed_path):
                return sources  # first run: no ledger, no join (and no
                # dtype coupling to the empty-schema placeholder)
            seen = self.read().select("doc_id")
            return sources.join(seen, "doc_id", "left_anti")
        wms = self.read_watermarks().collect()  # tiny: one row per run
        hw = max((r.high_watermark for r in wms), default=None)
        # cover a run by its NEWEST watermark: a re-submitted --run-id
        # carries one row per commit, and covering it via an older row
        # would prune the partition that dedupes the hw-valued docs its
        # latest commit already processed (review-wave fix)
        run_max: dict = {}
        for r in wms:
            if r.run_id not in run_max or r.high_watermark > run_max[r.run_id]:
                run_max[r.run_id] = r.high_watermark
        covered = [rid for rid, m in run_max.items() if m < hw]
        candidates = (
            sources
            if hw is None
            else sources.filter(F.col(watermark_col) >= F.lit(hw))
        )
        if not fs.exists(self.spark, self.processed_path):
            return candidates
        # run_id is the ledger's PARTITION column: this filter prunes at
        # the file-listing level (PartitionFilters in the scan node), so
        # covered run directories are never opened
        uncovered = (
            self.read()
            .filter(~F.col("run_id").isin(covered) if covered else F.lit(True))
            .select("doc_id")
        )
        return candidates.join(uncovered, "doc_id", "left_anti")

    def record_intent(self, doc_ids: DataFrame, run_id: str) -> None:
        """Step 1 of the replay protocol: persist (doc_id, batch_id)
        BEFORE any output append, so a crashed attempt is identifiable."""
        doc_ids.select("doc_id").distinct().select(
            "doc_id", F.lit(run_id).alias("batch_id")
        ).write.mode("append").parquet(self.inflight_path)

    def in_doubt_batches(self, current_run_id: str) -> list[str]:
        """batch_ids with intent rows whose docs never reached the
        processed ledger — i.e. attempts that may have crashed between
        output append and mark. Ledger-keys-only join; empty in the
        steady state."""
        if not fs.exists(self.spark, self.inflight_path):
            return []
        doubt = self.read_inflight().filter(F.col("batch_id") != current_run_id)
        if fs.exists(self.spark, self.processed_path):
            doubt = doubt.join(self.read().select("doc_id"), "doc_id", "left_anti")
        return [r.batch_id for r in doubt.select("batch_id").distinct().collect()]

    def mark(self, doc_ids: DataFrame, run_id: str) -> None:
        self._migrate_legacy_processed()  # never append into a legacy layout
        rows = doc_ids.select("doc_id").distinct().select(
            "doc_id",
            F.lit(run_id).alias("run_id"),
            F.lit(time.time()).alias("processed_at"),
        )
        # run_id partitions are the "run window" the snapshot-diff path
        # prunes on (new_docs): keep them physical directories
        rows.write.mode("append").partitionBy("run_id").parquet(
            self.processed_path
        )

    def record_watermark(self, run_id: str, high_watermark: float) -> None:
        """Step 4 (after mark): commit the batch's source high-watermark.
        From here on, this run's ledger partition is pruned from every
        future new_docs anti-join; rows at or below the watermark are
        excluded by the column filter alone."""
        local_frame(
            self.spark, [(run_id, float(high_watermark), time.time())],
            "run_id string, high_watermark double, committed_at double",
        ).write.mode("append").parquet(self.watermarks_path)

    def compact_inflight(self) -> int:
        """Drop intent rows whose docs are fully processed — dead entries
        that can never re-enter the in-doubt window. Keeps the inflight
        table at exactly the in-doubt set (empty in the steady state), so
        its per-batch read stays O(crash window) instead of growing one
        row per doc ever processed. Returns the number of rows kept."""
        if not fs.exists(self.spark, self.inflight_path):
            return 0
        live = self.read_inflight()
        if fs.exists(self.spark, self.processed_path):
            live = live.join(self.read().select("doc_id"), "doc_id", "left_anti")
        tmp = self.inflight_path + ".compacting"
        live.write.mode("overwrite").parquet(tmp)
        n = self.spark.read.parquet(tmp).count()
        fs.delete(self.spark, self.inflight_path, recursive=True)
        fs.rename(self.spark, tmp, self.inflight_path)
        return n


def process_incremental(
    spark: SparkSession,
    sources: DataFrame,
    shapes_turtle: str,
    warehouse: str,
    run_id: str | None = None,
    watermark_col: str | None = None,
):
    """One incremental batch: validate ONLY unseen docs, append their
    verdicts/valid-triples under a batch_id=<run_id> output partition,
    mark them processed. Returns (n_new_docs, verdicts_df_for_this_batch).

    watermark_col: monotone source column enabling the snapshot-diff
    intake path (see IncrementalLedger.new_docs)."""
    from harvesting_validator_spark.plans.pipeline import (
        add_doc_id,
        run_validation,
    )

    run_id = run_id or uuid.uuid4().hex[:12]
    ledger = IncrementalLedger(spark, warehouse)
    batch = ledger.new_docs(add_doc_id(sources), watermark_col=watermark_col)
    n_new = batch.count()
    if n_new == 0:
        return 0, None

    # intent first (crash-replay protocol step 1), then find attempts in
    # doubt — replay dedup below reads ONLY those output partitions
    ledger.record_intent(batch.select("doc_id"), run_id)
    doubt = ledger.in_doubt_batches(run_id)

    run = run_validation(spark, batch, shapes_turtle)
    _append_batch(
        spark, run.verdicts, fs.join(warehouse, "verdicts"), run_id, doubt
    )
    _append_batch(
        spark, run.valid_triples, fs.join(warehouse, "valid_triples"),
        run_id, doubt,
    )
    ledger.mark(batch.select("doc_id"), run_id)
    if watermark_col is not None:
        hw = batch.agg(F.max(watermark_col).alias("hw")).first().hw
        if hw is not None:
            # commits AFTER mark: a crash in between leaves this run's
            # partition uncovered, where the bounded anti-join finds it
            ledger.record_watermark(run_id, float(hw))
    # keep the intent ledger at exactly the in-doubt set (cheap: both
    # ledgers are narrow key tables; a crash between mark and here just
    # leaves dead rows for the next batch's compaction)
    ledger.compact_inflight()
    return n_new, run.verdicts


def _append_batch(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    run_id: str,
    doubt: list[str],
) -> None:
    """Append under batch_id=<run_id>, dropping rows whose doc_id already
    landed in a committed write of an in-doubt attempt. The existence
    probe is scoped to the in-doubt batch partitions (parquet partition
    pruning on batch_id); with no attempts in doubt the table is not read
    at all. (Each parquet write is atomic via the Hadoop commit protocol;
    at cluster scale an Iceberg MERGE with a single-table commit replaces
    this pattern.)"""
    out = anti_in_doubt(spark, df, path, doubt)
    out.withColumn("batch_id", F.lit(run_id)).write.mode("append").partitionBy(
        "batch_id"
    ).parquet(path)


def anti_in_doubt(
    spark: SparkSession, df: DataFrame, path: str, doubt: list[str]
) -> DataFrame:
    """Drop rows whose doc_id exists in `path` under an in-doubt batch
    partition (replay dedupe, bounded to the crash window)."""
    if not doubt or not fs.exists(spark, path):
        return df
    seen = (
        spark.read.parquet(path)
        .filter(F.col("batch_id").isin(doubt))
        .select("doc_id")
        .distinct()
    )
    return df.join(seen, "doc_id", "left_anti")
