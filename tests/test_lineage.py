"""Checkpoint/resume + lineage metrics (SURVEY.md §5 test 5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from harvesting_validator_spark.lineage import (
    STATUS_FAILED,
    STATUS_SUCCESS,
    TASK_STAGE,
    CheckpointedRunner,
    LineageStore,
    run_validation_checkpointed,
)
from harvesting_validator_spark.sources.synthetic import (
    APPLICATION_PROFILE,
    ENTITY_PROFILE,
    generate_entity_sources,
    generate_sources,
)


def assert_rows_match_table(runner: CheckpointedRunner) -> None:
    """The runner answers stage_status/next_attempt from the rows it
    loaded at start plus the rows it appended; a fresh table-reading
    store must give the same answers for every stage of the run."""
    fresh = LineageStore(runner.spark, runner.warehouse)
    stages = {
        r.stage
        for r in fresh.read().filter(F.col("run_id") == runner.run_id)
        .select("stage").distinct().collect()
    }
    for stage in stages | {TASK_STAGE, "never_ran"}:
        assert runner.store.stage_status(runner.run_id, stage) == (
            fresh.stage_status(runner.run_id, stage)
        ), stage
        assert runner.store.next_attempt(runner.run_id, stage) == (
            fresh.next_attempt(runner.run_id, stage)
        ), stage


def test_stage_skip_on_resume(spark, tmp_path):
    wh = str(tmp_path / "wh")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).select(F.col("id").alias("x"))

    r1 = CheckpointedRunner(spark, wh, run_id="run1")
    out1 = r1.stage("s1", build)
    assert out1.count() == 5 and calls["n"] == 1
    assert r1.executed == ["s1"]

    r2 = CheckpointedRunner(spark, wh, run_id="run1")
    out2 = r2.stage("s1", build)
    assert out2.count() == 5
    assert calls["n"] == 1  # not rebuilt
    assert r2.skipped == ["s1"]

    # a different run_id re-executes
    r3 = CheckpointedRunner(spark, wh, run_id="run2")
    r3.stage("s1", build)
    assert calls["n"] == 2


def test_failure_recorded_and_retry(spark, tmp_path):
    wh = str(tmp_path / "wh")
    boom = {"on": True}

    def build():
        if boom["on"]:
            raise ValueError("synthetic stage failure")
        return spark.range(3).select(F.col("id").alias("x"))

    r = CheckpointedRunner(spark, wh, run_id="runf")
    with pytest.raises(ValueError):
        r.stage("fragile", build)
    assert_rows_match_table(r)
    store = LineageStore(spark, wh)
    assert store.stage_status("runf", "fragile") == STATUS_FAILED
    err = (
        store.latest()
        .filter(F.col("status") == STATUS_FAILED)
        .select("error")
        .first()
        .error
    )
    assert "synthetic stage failure" in err

    # retry = same run_id after the fault clears (AppController./retry analog)
    boom["on"] = False
    r2 = CheckpointedRunner(spark, wh, run_id="runf")
    assert r2.store.next_attempt("runf", "fragile") == 2
    assert r2.stage("fragile", build).count() == 3
    assert store.stage_status("runf", "fragile") == STATUS_SUCCESS
    assert_rows_match_table(r2)


def test_checkpointed_pipeline_resume_identical(spark, tmp_path):
    wh = str(tmp_path / "wh")
    sources = generate_sources(spark, 40)

    r1 = run_validation_checkpointed(
        spark, sources, APPLICATION_PROFILE, wh, run_id="pipe"
    )
    assert r1.skipped == []
    v1 = {tuple(r) for r in spark.read.parquet(f"{wh}/pipe/verdicts").collect()}

    # resume: every stage skips, outputs identical
    r2 = run_validation_checkpointed(
        spark, sources, APPLICATION_PROFILE, wh, run_id="pipe"
    )
    assert r2.executed == []
    assert set(r2.skipped) == {
        "parse", "parse_errors", "validate", "verdicts",
        "valid_triples", "error_triples", "report",
    }
    v2 = {tuple(r) for r in spark.read.parquet(f"{wh}/pipe/verdicts").collect()}
    assert v1 == v2

    # per-partition metrics exist for every stage
    m = r2.metrics()
    assert set(m) >= {"parse", "validate", "verdicts"}
    assert all(v["status"] == STATUS_SUCCESS for v in m.values())
    assert m["verdicts"]["rows"] == 40

    # run-level status machine landed on success
    from harvesting_validator_spark.lineage import task_status

    assert task_status(LineageStore(spark, wh), "pipe") == STATUS_SUCCESS


def test_kg_checkpointed_resume(spark, tmp_path):
    from harvesting_validator_spark.lineage import run_kg_checkpointed

    wh = str(tmp_path / "wh")
    sources = generate_entity_sources(spark, 30, n_entities=3)

    r1 = run_kg_checkpointed(spark, sources, ENTITY_PROFILE, wh, run_id="kg1")
    assert "canonical_graph" in r1.executed
    g1 = {tuple(r) for r in spark.read.parquet(f"{wh}/kg1/canonical_graph").collect()}
    assert len(g1) == 9  # 3 entities x 3 deduplicated triples

    r2 = run_kg_checkpointed(spark, sources, ENTITY_PROFILE, wh, run_id="kg1")
    assert r2.executed == []
    assert {"mentions", "link_edges", "canonical_mapping", "canonical_graph"} <= set(
        r2.skipped
    )
    g2 = {tuple(r) for r in spark.read.parquet(f"{wh}/kg1/canonical_graph").collect()}
    assert g1 == g2
    m = r2.metrics()
    assert m["canonical_graph"]["rows"] == 9


def test_mid_pipeline_resume_validation_then_kg(spark, tmp_path):
    """Crash-equivalent: a run that finished only the validation stages is
    later resumed by the KG job — validation stages skip, KG stages run."""
    from harvesting_validator_spark.lineage import (
        run_kg_checkpointed,
        run_validation_checkpointed,
    )

    wh = str(tmp_path / "wh")
    sources = generate_entity_sources(spark, 30, n_entities=3)

    r1 = run_validation_checkpointed(spark, sources, ENTITY_PROFILE, wh, "mid")
    assert "report" in r1.executed and "mentions" not in r1.executed

    r2 = run_kg_checkpointed(spark, sources, ENTITY_PROFILE, wh, "mid")
    assert set(r2.skipped) >= {"parse", "validate", "verdicts", "valid_triples"}
    assert {"mentions", "link_edges", "canonical_mapping", "canonical_graph"} <= set(
        r2.executed
    )
    assert spark.read.parquet(f"{wh}/mid/canonical_graph").count() == 9
    assert_rows_match_table(r2)
    assert r2.store.next_attempt("mid", TASK_STAGE) == 3


def test_stage_reads_no_lineage(spark, tmp_path):
    """Job-count guard: a runner answers stage_status/next_attempt from
    the rows it loaded at start, so one stage costs only its BUSY append,
    the stage write, the per-partition count and its SUCCESS append. A
    per-stage lineage read coming back adds jobs and fails here."""
    sc = spark.sparkContext
    runner = CheckpointedRunner(spark, str(tmp_path / "wh"), run_id="jobs")
    group = "lineage-job-count"
    sc.setJobGroup(group, "one runner.stage")
    try:
        runner.stage("tiny", lambda: spark.range(3).toDF("x"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # measured with Spark 4.1.2: BUSY append, stage write, read-back schema
    # inference, per-partition count (2 jobs), SUCCESS append. The
    # per-stage stage_status + next_attempt reads cost 3 more (9 in all).
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 6
