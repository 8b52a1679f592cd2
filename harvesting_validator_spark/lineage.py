"""Run/stage lineage, metrics, and checkpoint-resume (SURVEY.md §2.10, §7
stage 3).

Reference analog: the task status machine scheduled -> busy ->
success/failed with error records (`PipelineService.java:46-56`,
`TaskService.java:293-304`, status IRIs `Constants.java:7-10`) and the
result-container/file lineage rows (`SPARQL/append-task-result-file.sparql`,
`write-ttl-file.sparql:8-31`). Here:

* every pipeline stage materializes its output to
  ``{warehouse}/{run_id}/{stage}`` (parquet; Iceberg-table analog behind
  the same seam as graph.py) and appends one lineage row per output
  partition: (run_id, stage, partition_id, status, started_at,
  finished_at, n_rows, wall_ms, error);
* re-running the same run_id SKIPS stages whose lineage says success and
  whose output exists — the ``/retry`` endpoint analog
  (`AppController.java:47-51`) is simply re-invoking with the same run_id;
* failures record status=failed plus an abbreviated error message
  (`StringUtils.abbreviate(msg, 1024)` analog, `PipelineService.java:55`)
  and re-raise.

Determinism: stage outputs are pure functions of inputs (deterministic IDs
everywhere, C4), so a resumed run produces byte-identical tables. The
lineage table itself is append-only; readers take the LATEST row per
(run_id, stage, partition_id) by started_at tiebreak attempt counter.

One lineage read per runner: a CheckpointedRunner loads its run's rows
once, when it starts, and answers ``stage_status``/``next_attempt`` from
them. Every row it records is appended to the table before the stage
moves on, and added to those rows, so after a crash the table holds
everything the run got to. This assumes a single writer per run_id,
which ``next_attempt``'s read-then-append rests on anyway: two drivers
sharing a run_id would pick the same attempt number. A LineageStore
built without a run_id reads the table on every call.
"""

from __future__ import annotations

import time
import traceback
import uuid
from collections import namedtuple
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harvesting_validator_spark import fs
from harvesting_validator_spark.runtime import local_frame

STATUS_SCHEDULED = "scheduled"
STATUS_BUSY = "busy"
STATUS_SUCCESS = "success"
STATUS_FAILED = "failed"

_LINEAGE_SCHEMA = (
    "run_id string, stage string, partition_id int, status string, "
    "attempt int, started_at double, finished_at double, n_rows bigint, "
    "wall_ms double, error string"
)
LineageRow = namedtuple(
    "LineageRow", [c.split()[0] for c in _LINEAGE_SCHEMA.split(", ")]
)


def abbreviate(msg: str, n: int = 1024) -> str:
    return msg if len(msg) <= n else msg[: n - 3] + "..."


def latest_status_in(rows: Iterable[LineageRow], stage: str) -> str | None:
    """Status of the stage's latest summary marker (partition_id = -1):
    max attempt, then max finished_at, so the terminal marker supersedes
    the BUSY marker written at stage start under the same attempt."""
    markers = [r for r in rows if r.stage == stage and r.partition_id == -1]
    if not markers:
        return None
    return max(markers, key=lambda r: (r.attempt, r.finished_at)).status


def next_attempt_in(rows: Iterable[LineageRow], stage: str) -> int:
    """One past the highest attempt recorded for the stage (1 if none)."""
    return max((r.attempt for r in rows if r.stage == stage), default=0) + 1


class LineageStore:
    """Append-only lineage + metrics table under {warehouse}/_lineage.

    Writes go through the driver as tiny parquet appends (a few rows per
    stage); reads aggregate latest-attempt status. At cluster scale this
    is an Iceberg table with snapshot isolation; the storage seam is this
    class only.

    Given a ``run_id``, the store reads that run's rows once here and
    answers ``stage_status``/``next_attempt`` for the run from them,
    adding every row it appends (single writer per run_id, see the
    module docstring). Other runs, and stores built without a run_id,
    are answered from the table.
    """

    def __init__(self, spark: SparkSession, warehouse: str,
                 run_id: str | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self.path = fs.join(warehouse, "_lineage")
        self.run_id = run_id
        self._run_rows = self._rows(run_id) if run_id is not None else None

    def _rows(self, run_id: str, stage: str | None = None) -> list[LineageRow]:
        df = self.read().filter(F.col("run_id") == run_id)
        if stage is not None:
            df = df.filter(F.col("stage") == stage)
        return [LineageRow(*r) for r in df.select(*LineageRow._fields).collect()]

    def _rows_for(self, run_id: str, stage: str) -> list[LineageRow]:
        if run_id == self.run_id:
            return self._run_rows
        return self._rows(run_id, stage)

    def _append(self, rows: list[LineageRow]) -> None:
        df = local_frame(self.spark, rows, _LINEAGE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path)
        if self._run_rows is not None:
            self._run_rows.extend(r for r in rows if r.run_id == self.run_id)

    def read(self) -> DataFrame:
        if not fs.exists(self.spark, self.path):
            return local_frame(self.spark, [], _LINEAGE_SCHEMA)
        return self.spark.read.parquet(self.path)

    def latest(self) -> DataFrame:
        """Latest row per (run_id, stage, partition_id): max attempt, then
        max finished_at (terminal markers supersede the BUSY marker written
        at stage start under the same attempt)."""
        from pyspark.sql.window import Window

        w = Window.partitionBy("run_id", "stage", "partition_id").orderBy(
            F.desc("attempt"), F.desc("finished_at")
        )
        return (
            self.read()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def stage_status(self, run_id: str, stage: str) -> str | None:
        return latest_status_in(self._rows_for(run_id, stage), stage)

    def next_attempt(self, run_id: str, stage: str) -> int:
        return next_attempt_in(self._rows_for(run_id, stage), stage)

    def record_stage(
        self,
        run_id: str,
        stage: str,
        status: str,
        attempt: int,
        started_at: float,
        per_partition: list[tuple[int, int]] | None = None,
        error: str | None = None,
    ) -> None:
        now = time.time()
        wall = (now - started_at) * 1000.0
        total = sum(n for _, n in per_partition) if per_partition else 0
        # summary marker row (partition_id = -1) always present; it is what
        # stage_status consults, so terminal markers supersede BUSY ones
        parts = [(-1, total)] + list(per_partition or [])
        self._append(
            [
                LineageRow(
                    run_id, stage, int(pid), status, attempt,
                    started_at, now, int(n), wall,
                    abbreviate(error) if error else None,
                )
                for pid, n in parts
            ]
        )


class CheckpointedRunner:
    """Executes named stages idempotently with resume-from-checkpoint."""

    def __init__(self, spark: SparkSession, warehouse: str,
                 run_id: str | None = None, tables=None):
        from harvesting_validator_spark.warehouse import stage_store

        self.spark = spark
        self.warehouse = warehouse
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.store = LineageStore(spark, warehouse, self.run_id)
        # table-format seam (warehouse.py): Iceberg tables when a catalog
        # is configured on the session, parquet dirs otherwise
        self.tables = tables or stage_store(spark, warehouse)
        self.skipped: list[str] = []
        self.executed: list[str] = []

    def _out(self, stage: str) -> str:
        return fs.join(self.warehouse, self.run_id, stage)

    def read_stage(self, name: str) -> DataFrame:
        return self.tables.read(self.run_id, name)

    def stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Run (or skip) one stage; returns the materialized output DF."""
        if (
            self.store.stage_status(self.run_id, name) == STATUS_SUCCESS
            and self.tables.exists(self.run_id, name)
        ):
            self.skipped.append(name)
            return self.tables.read(self.run_id, name)

        attempt = self.store.next_attempt(self.run_id, name)
        t0 = time.time()
        self.store.record_stage(
            self.run_id, name, STATUS_BUSY, attempt, t0
        )
        try:
            df = build()
            self.tables.write(df, self.run_id, name)
            written = self.tables.read(self.run_id, name)
            per_part = [
                (r.pid, r.n)
                for r in written.groupBy(
                    F.spark_partition_id().alias("pid")
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ] or [(-1, 0)]
            self.store.record_stage(
                self.run_id, name, STATUS_SUCCESS, attempt, t0, per_part
            )
            self.executed.append(name)
            return written
        except Exception:
            self.store.record_stage(
                self.run_id,
                name,
                STATUS_FAILED,
                attempt,
                t0,
                error=traceback.format_exc(),
            )
            raise

    def metrics(self) -> dict:
        rows = (
            self.store.latest()
            .filter(F.col("run_id") == self.run_id)
            .groupBy("stage", "status")
            .agg(
                # marker row (-1) carries the stage total; pid>=0 rows are
                # the per-partition breakdown
                F.sum(
                    F.when(F.col("partition_id") == -1, F.col("n_rows"))
                ).alias("rows"),
                F.max("wall_ms").alias("wall_ms"),
                F.sum(
                    F.when(F.col("partition_id") >= 0, 1).otherwise(0)
                ).alias("n_partitions"),
            )
            .collect()
        )
        return {
            r.stage: {
                "status": r.status,
                "rows": r.rows,
                "wall_ms": r.wall_ms,
                "n_partitions": r.n_partitions,
            }
            for r in rows
        }


TASK_STAGE = "__task__"


def task_status(store: LineageStore, run_id: str) -> str | None:
    """Run-level status (the reference's task status machine,
    `PipelineService.java:46-56`): scheduled -> busy -> success/failed."""
    return store.stage_status(run_id, TASK_STAGE)


def run_validation_checkpointed(
    spark: SparkSession,
    sources: DataFrame,
    shapes_turtle: str,
    warehouse: str,
    run_id: str | None = None,
    strict: bool = False,
    tables=None,
) -> CheckpointedRunner:
    """The validation pipeline as resumable stages. Each stage is a pure
    function of materialized predecessors, so a crash between stages
    resumes exactly where it stopped (north_rule checkpoint demand).
    strict mirrors the reference's shacl.strictModeFiltering toggle (see
    operators/filtering.py::split_valid_error)."""
    from harvesting_validator_spark.plans.pipeline import add_doc_id
    from harvesting_validator_spark.shacl.parse import parse_shapes_turtle

    runner = CheckpointedRunner(spark, warehouse, run_id, tables=tables)
    shapes = parse_shapes_turtle(shapes_turtle)
    src = add_doc_id(sources)

    # task-level status machine around the stage sequence
    t0 = time.time()
    attempt = runner.store.next_attempt(runner.run_id, TASK_STAGE)
    runner.store.record_stage(runner.run_id, TASK_STAGE, STATUS_BUSY, attempt, t0)
    try:
        _run_stages(runner, spark, src, shapes, strict=strict)
    except Exception:
        runner.store.record_stage(
            runner.run_id, TASK_STAGE, STATUS_FAILED, attempt, t0,
            error=traceback.format_exc(),
        )
        raise
    runner.store.record_stage(
        runner.run_id, TASK_STAGE, STATUS_SUCCESS, attempt, t0
    )
    return runner


def run_kg_checkpointed(
    spark: SparkSession,
    sources: DataFrame,
    shapes_turtle: str,
    warehouse: str,
    run_id: str | None = None,
    link_threshold: float = 0.9,
    tables=None,
) -> CheckpointedRunner:
    """The FULL north-star pipeline as resumable stages: validation stages
    plus mentions -> link edges -> canonical mapping -> deduplicated
    canonical graph, each materialized with per-partition lineage."""
    from pyspark.sql import functions as F

    from harvesting_validator_spark.kg.canonicalize import canonical_mapping
    from harvesting_validator_spark.kg.graph import dedup_graph, rewrite_to_canonical
    from harvesting_validator_spark.kg.linking import (
        block_candidates,
        extract_mentions,
        link_edges,
    )
    from harvesting_validator_spark.kg.normalize import normalize_triples

    runner = run_validation_checkpointed(
        spark, sources, shapes_turtle, warehouse, run_id, tables=tables
    )
    valid = runner.read_stage("valid_triples")
    verdicts = runner.read_stage("verdicts")
    conforming = verdicts.filter(F.col("conforms")).select("doc_id")
    triples = normalize_triples(valid.join(conforming, "doc_id", "left_semi"))

    mentions = runner.stage("mentions", lambda: extract_mentions(triples))
    edges = runner.stage(
        "link_edges",
        lambda: link_edges(block_candidates(mentions), threshold=link_threshold),
    )
    mapping = runner.stage(
        "canonical_mapping",
        lambda: canonical_mapping(mentions.select("entity"), edges),
    )
    runner.stage(
        "canonical_graph",
        lambda: dedup_graph(rewrite_to_canonical(triples, mapping)),
    )
    return runner


def _run_stages(runner: CheckpointedRunner, spark, src, shapes,
                strict: bool = False) -> None:
    from harvesting_validator_spark.operators.filtering import (
        conformance_verdicts,
        report_triples,
        split_valid_error,
    )
    from harvesting_validator_spark.shacl.compile import compute_focus, validate
    from harvesting_validator_spark.sources.rdf_parse import parse_sources_to_triples

    triples_and_errors = runner.stage(
        "parse",
        lambda: parse_sources_to_triples(src, with_errors=False),
    )
    parse_errors = runner.stage(
        "parse_errors",
        lambda: parse_sources_to_triples(src, with_errors=True)[1],
    )
    violations = runner.stage(
        "validate", lambda: validate(triples_and_errors, shapes, spark)
    )
    runner.stage(
        "verdicts",
        lambda: conformance_verdicts(
            src.select("doc_id"), violations, parse_errors
        ),
    )
    focus = compute_focus(triples_and_errors, shapes, spark)
    valid_err = [None, None]

    def _split(i):
        def build():
            if valid_err[0] is None:
                valid_err[0], valid_err[1] = split_valid_error(
                    triples_and_errors, focus, violations, strict=strict
                )
            return valid_err[i]

        return build

    runner.stage("valid_triples", _split(0))
    runner.stage("error_triples", _split(1))
    runner.stage("report", lambda: report_triples(violations))
