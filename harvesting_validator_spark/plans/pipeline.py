"""End-to-end validation pipeline assembly (SURVEY.md §3.1 re-expressed).

Reference lifecycle: delta -> task -> paged file fetch -> parse Turtle ->
SHACL validate per model -> split valid/error/report -> write NT files +
lineage (`AppController.java:27-45` ... `FilteringService.java:60-91`).

Spark lifecycle: sources DF -> mapInPandas parse -> triples DF (cached,
repartitioned by doc_id so validate/filter/split reuse one exchange) ->
violations DF (Catalyst predicates) -> verdicts + valid/error/report DFs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harvesting_validator_spark.operators.filtering import (
    conformance_verdicts,
    report_triples,
    split_valid_error,
)
from harvesting_validator_spark.runtime import persistent_rdd_ids, unpersist_rdds
from harvesting_validator_spark.shacl.compile import compute_focus, validate
from harvesting_validator_spark.shacl.parse import parse_shapes_turtle
from harvesting_validator_spark.sources.rdf_parse import parse_sources_to_triples


@dataclass
class ValidationRun:
    sources: DataFrame
    triples: DataFrame
    parse_errors: DataFrame
    focus: DataFrame
    violations: DataFrame
    verdicts: DataFrame
    valid_triples: DataFrame
    error_triples: DataFrame
    report: DataFrame
    _persisted: list = None  # type: ignore[assignment]

    def cleanup(self) -> None:
        """Unpersist every intermediate this run cached. Call once the
        run's outputs are materialized (written / collected) — looping
        callers (streaming foreachBatch, bench suites) otherwise
        accumulate cached DataFrames in executor storage."""
        for df in self._persisted or []:
            df.unpersist()


def add_doc_id(sources: DataFrame) -> DataFrame:
    """doc_id = raw sha256 BYTES of (repo, path, commit) — binary, not the
    hex string: the column rides every row of the corpus-wide exchange
    and every keyed join, and the 32-byte form is half the shuffle width
    (measured 2.36x local[32] validate throughput,
    BENCH.md §6). `hex_doc_id` re-derives the exact
    old string ids at driver/report edges."""
    if "doc_id" in sources.columns:
        return sources
    return sources.withColumn(
        "doc_id",
        F.unhex(F.sha2(F.concat_ws("\x1f", "repo", "path", "commit"), 256)),
    )


def hex_doc_id(df: DataFrame, col: str = "doc_id") -> DataFrame:
    """Edge conversion: binary doc_id -> the lowercase sha256 hex string
    (identical to the pre-binary ids). Apply AFTER aggregation/joins so
    the narrow binary form does all the heavy lifting."""
    return df.withColumn(col, F.lower(F.hex(col)))


def content_sha_invariant(sources: DataFrame) -> DataFrame:
    """Per-row invariant vs the source (BASELINE.json input_hint):
    content sha256 recorded alongside doc_id; equality is asserted by
    re-deriving from the source table. Edge output: hex ids."""
    return hex_doc_id(
        add_doc_id(sources).select(
            "doc_id", F.sha2(F.col("content"), 256).alias("content_sha256")
        )
    )


@dataclass
class KgRun:
    validation: "ValidationRun"
    mentions: DataFrame
    candidates: DataFrame
    edges: DataFrame
    mapping: DataFrame
    graph: DataFrame
    _persisted: list = None  # type: ignore[assignment]
    _checkpoint_ids: set = None  # type: ignore[assignment]
    _spark: SparkSession = None  # type: ignore[assignment]

    def cleanup(self) -> None:
        """Unpersist this run's caches (including the validation stage's)
        AND the union-find loop's final localCheckpoint — checkpoint RDDs
        have no DataFrame-level unpersist, so they are tracked by id
        (runtime.py). After cleanup, this run's DataFrames must not be
        re-evaluated: a released checkpoint cannot be recomputed."""
        for df in self._persisted or []:
            df.unpersist()
        if self._spark is not None and self._checkpoint_ids:
            unpersist_rdds(self._spark, self._checkpoint_ids)
        self.validation.cleanup()


def run_kg_construction(
    spark: SparkSession,
    sources: DataFrame,
    shapes_turtle: str,
    link_threshold: float = 0.9,
    n_salt: int = 1,
    blocking: str = "minhash",
) -> KgRun:
    """North-star extension (SURVEY.md §7 stage 4): conforming documents ->
    IRI-normalized triple extraction -> mention detection -> blocking ->
    Arrow-batched link scoring -> union-find canonicalization ->
    deduplicated (subj, pred, obj) canonical graph.

    blocking: 'minhash' (LSH bands over the attribute token set) or 'key'
    (exact blocking on strong identifying keys). Choose 'key' when strong
    keys exist — minhash banding over LOW-ENTROPY attribute text (short
    bundles sharing most tokens across distinct entities) degenerates
    toward quadratic candidates; shingling longer text or raising the
    rows-per-band restores selectivity when no keys are available."""
    from harvesting_validator_spark.kg.canonicalize import canonical_mapping
    from harvesting_validator_spark.kg.graph import dedup_graph, rewrite_to_canonical
    from harvesting_validator_spark.kg.linking import (
        block_candidates,
        block_candidates_by_key,
        extract_mentions,
        link_edges,
    )
    from harvesting_validator_spark.kg.normalize import normalize_triples

    validation = run_validation(spark, sources, shapes_turtle)
    persisted: list = []
    conforming = validation.verdicts.filter(F.col("conforms")).select("doc_id")
    triples = normalize_triples(
        validation.valid_triples.join(conforming, "doc_id", "left_semi")
    ).persist()
    persisted.append(triples)

    # r6: mentions feed three consumers (the blocking chain, the
    # canonical-mapping's all-entities side, and the run's own export);
    # without a persist each consumer re-runs the two-scan pivot over
    # triples (profiled ~1.6s per recompute at sf1.0). The full-width
    # count honors the house persist invariant — every in-pipeline
    # consumer is column-pruned, and a pruned first scan does not
    # reliably serve later full-width readers (run.mentions export).
    mentions = extract_mentions(triples).persist()
    persisted.append(mentions)
    mentions.count()
    if blocking == "key":
        candidates = block_candidates_by_key(mentions)
    else:
        candidates = block_candidates(mentions, n_salt=n_salt)
    edges = link_edges(candidates, threshold=link_threshold)
    # the union-find loop leaves ONE eager localCheckpoint resident (its
    # final label table); snapshot around the call so cleanup() can
    # release it — the in-loop intermediates are already released by
    # connected_components itself
    pre_cp = persistent_rdd_ids(spark)
    mapping = canonical_mapping(
        mentions.select("entity"), edges
    ).persist()
    checkpoint_ids = persistent_rdd_ids(spark) - pre_cp
    persisted.append(mapping)
    graph = dedup_graph(rewrite_to_canonical(triples, mapping))
    return KgRun(
        validation=validation,
        mentions=mentions,
        candidates=candidates,
        edges=edges,
        mapping=mapping,
        graph=graph,
        _persisted=persisted,
        _checkpoint_ids=checkpoint_ids,
        _spark=spark,
    )


def run_validation(
    spark: SparkSession,
    sources: DataFrame,
    shapes_turtle: str,
    cache: bool = True,
    strict: bool = False,
) -> ValidationRun:
    """strict mirrors the reference's shacl.strictModeFiltering env toggle
    (default false, `application.yml:7`): see split_valid_error."""
    shapes = parse_shapes_turtle(shapes_turtle)
    sources = add_doc_id(sources)
    persisted: list = []
    triples, parse_errors, raw = parse_sources_to_triples(
        sources, with_errors=True, return_raw=True,
        # one exchange for the whole stage graph: every downstream op is
        # keyed on a doc_id-prefixed superset (see parse_sources_to_triples)
        repartition_by_doc=cache,
    )
    if cache:
        # persist the raw parse output: the triples AND parse-error branches
        # are filters over one cached Arrow-parse materialization
        raw.persist()
        persisted.append(raw)
    focus = compute_focus(triples, shapes, spark)
    if cache:
        focus = focus.persist()
        persisted.append(focus)
    violations = validate(triples, shapes, spark, focus=focus,
                          cache_intermediate=cache, persisted=persisted)
    if cache:
        # persist + force a full-width materialization: downstream
        # consumers (verdicts / splits / report) otherwise each trigger a
        # recompute of the whole constraint plan — empirically the cache
        # is only reliably reused once it has been scanned full-width
        violations = violations.persist()
        persisted.append(violations)
        violations.count()
    verdicts = conformance_verdicts(
        sources.select("doc_id"), violations, parse_errors
    )
    valid, error = split_valid_error(triples, focus, violations, strict=strict)
    report = report_triples(violations)
    return ValidationRun(
        sources=sources,
        triples=triples,
        parse_errors=parse_errors,
        focus=focus,
        violations=violations,
        verdicts=verdicts,
        valid_triples=valid,
        error_triples=error,
        report=report,
        _persisted=persisted,
    )
