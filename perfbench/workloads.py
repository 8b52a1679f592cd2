"""The benchmark's workloads: seeded set-up, the timed op, the answer check,
and the layer-by-layer replay used by the traced run.

validate_pages  one `jobs/validate_job.main` run (parse -> SHACL -> split
                -> report, every stage stored through the lineage runner)
                over a page corpus in five RDF formats, ~30% violating.
kg_entities     `run_kg_construction(blocking="key")` + `materialize_graph`
                over an entity corpus with heavy-tailed duplicate groups
                and chain-linked groups.

Not timed here: `jobs/validate_job.py --kg` (`lineage.run_kg_checkpointed`)
hard-wires minhash blocking, which goes quadratic on entity corpora with
strong keys (10k docs gave 27.6M candidate pairs and took 167 s on a
4-core box). kg_entities follows the blocking rule documented at
`plans.pipeline.run_kg_construction` and uses key blocking instead.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time

from pyspark.sql import functions as F

from corpus import SOURCE_SCHEMA, entity_corpus, page_corpus
from layertrace import task_skew

# Sizes, from timings on a 4-core box. A validate_job op took ~25 s at 200
# pages and 21-37 s at 10k and 30k: its 74 Spark jobs are mostly fixed
# driver cost. A kg op grows with candidate pairs: ~13 s at 1k entity docs,
# ~21 s at 3k (63k pairs), 18-30 s at 5k with groups capped at 400 (164k
# pairs), ~48 s at 20k capped at 1000 (1.1M pairs). Larger inputs would not
# fit a run in the benchmark's time budget.
PAGE_DOCS = 10000
ENTITY_DOCS = 2000
# The first op in a JVM runs up to twice as long as the next ones (JIT, and
# codegen, whose cache later ops with the same plans hit). Set-up runs the
# workload's pipeline once over a small corpus of its own to pay that.
PAGE_WARM_DOCS = 200
ENTITY_WARM_DOCS = 500


def _write(spark, rows, path: str) -> None:
    spark.createDataFrame(rows, SOURCE_SCHEMA).write.mode("overwrite").parquet(path)


class ValidatePages:
    name = "validate_pages"

    def __init__(self, spark, work: str, seed: int):
        from harvesting_validator_spark.sources.synthetic import APPLICATION_PROFILE

        self.spark, self.work = spark, work
        self.profile = APPLICATION_PROFILE
        self.corpus = page_corpus(seed, PAGE_DOCS)
        self.warm = page_corpus(seed, PAGE_WARM_DOCS, tag="warm")
        self.src = os.path.join(work, "pages")
        self.warm_src = os.path.join(work, "pages_warm")
        self.docs = len(self.corpus.rows)
        self.sizes = {"docs": self.docs, "triples": self.corpus.triples}

    def write_inputs(self) -> None:
        _write(self.spark, self.warm.rows, self.warm_src)
        _write(self.spark, self.corpus.rows, self.src)

    def warm_op(self) -> None:
        """The in-memory pipeline (plans.pipeline.run_validation) over the
        small corpus: it compiles and runs the job's parse, SHACL and
        filtering plans in ~12 s. A job op as warm-up costs ~38 s and left
        the next job op no faster: on a 4-core box, 10k pages, the first
        timed op took 30.7 s and 30.0 s after this warm-up, 29.5 s and
        29.1 s after a job op, and later ops 24-34 s after either."""
        from harvesting_validator_spark.plans.pipeline import run_validation

        run = run_validation(self.spark, self.spark.read.parquet(self.warm_src),
                             self.profile)
        for df in (run.verdicts, run.valid_triples, run.error_triples, run.report):
            df.count()
        run.cleanup()

    def op(self, k: int):
        from jobs.validate_job import main

        wh, run_id = os.path.join(self.work, f"wh{k}"), f"op{k}"
        # the job prints its own summary line; the benchmark owns stdout
        with contextlib.redirect_stdout(io.StringIO()):
            rc = main(["--sources", self.src, "--warehouse", wh, "--run-id", run_id])
        if rc != 0:
            raise RuntimeError(f"validate_job exited {rc}")
        return wh, run_id

    def check(self, result) -> list[str]:
        """Per-doc verdict, violation, valid, error and report-triple counts
        read back from the job's warehouse stages."""
        from harvesting_validator_spark.warehouse import stage_store

        wh, run_id = result
        tables = stage_store(self.spark, wh)
        hexid = F.lower(F.hex("doc_id")).alias("d")
        got = {r.d: [r.conforms, r.n_violations, 0, 0, 0]
               for r in tables.read(run_id, "verdicts")
               .select(hexid, "conforms", "n_violations").collect()}
        for pos, stage in ((2, "valid_triples"), (3, "error_triples"), (4, "report")):
            for r in tables.read(run_id, stage).groupBy(hexid).count().collect():
                got.setdefault(r.d, [None, None, 0, 0, 0])[pos] = r["count"]
        want = self.corpus.expect
        bad = [d for d in set(want) | set(got)
               if tuple(got.get(d, ())) != want.get(d)]
        self.valid_share = sum(1 for v in got.values() if v[0]) / max(1, len(got))
        shutil.rmtree(wh, ignore_errors=True)
        return [f"{len(bad)} of {len(want)} docs differ, e.g. {d}: "
                f"got {got.get(d)} want {want.get(d)}" for d in bad[:1]]

    def traced_op(self, tr, k: int):
        """The job's own sequence (lineage.run_validation_checkpointed and
        _run_stages), one layer at a time: each stage's frame is built and
        forced in its layer's span, then stored by the lineage runner, and
        the next stage reads the stored copy back, as in the job."""
        from harvesting_validator_spark.lineage import (
            STATUS_BUSY, STATUS_SUCCESS, TASK_STAGE, CheckpointedRunner)
        from harvesting_validator_spark.operators.filtering import (
            conformance_verdicts, report_triples, split_valid_error)
        from harvesting_validator_spark.plans.pipeline import add_doc_id
        from harvesting_validator_spark.shacl.compile import compute_focus, validate
        from harvesting_validator_spark.shacl.parse import parse_shapes_turtle
        from harvesting_validator_spark.sources.rdf_parse import (
            parse_sources_to_triples)

        spark = self.spark
        wh, run_id = os.path.join(self.work, f"wh{k}"), f"op{k}"
        rows = self.stage_rows = {}

        def stage(layer: str, name: str, build):
            with tr.layer(layer):
                df = tr.force(layer, build())
            rows[name] = tr.rows_of[id(df)]
            with tr.layer("lineage"):
                stored = runner.stage(name, lambda: df)
                df.unpersist()
            tr.rows["lineage"] += rows[name]
            return stored

        with tr.layer("lineage"):
            runner = CheckpointedRunner(spark, wh, run_id)
            attempt = runner.store.next_attempt(run_id, TASK_STAGE)
            t0 = time.time()
            runner.store.record_stage(run_id, TASK_STAGE, STATUS_BUSY, attempt, t0)
        with tr.layer("shacl"):
            shapes = parse_shapes_turtle(self.profile)
        src = add_doc_id(spark.read.parquet(self.src))
        triples = stage("rdf_parse", "parse",
                        lambda: parse_sources_to_triples(src, with_errors=False))
        errors = stage("rdf_parse", "parse_errors",
                       lambda: parse_sources_to_triples(src, with_errors=True)[1])
        violations = stage("shacl", "validate",
                           lambda: validate(triples, shapes, spark))
        stage("filtering", "verdicts", lambda: conformance_verdicts(
            src.select("doc_id"), violations, errors))
        # the job leaves focus unpersisted, so both split stages recompute
        # it inside the filtering layer
        with tr.layer("shacl"):
            focus = compute_focus(triples, shapes, spark)
        with tr.layer("filtering"):
            valid, error = split_valid_error(triples, focus, violations)
        stage("filtering", "valid_triples", lambda: valid)
        stage("filtering", "error_triples", lambda: error)
        stage("filtering", "report", lambda: report_triples(violations))
        with tr.layer("lineage"):
            runner.store.record_stage(run_id, TASK_STAGE, STATUS_SUCCESS, attempt, t0)
            runner.metrics()
        return wh, run_id

    def trace_counts(self, tr) -> None:
        """Nothing to count: the traced op counted every stage it stored."""

    def extras(self, tasks) -> dict:
        return {
            "rdf_parse.triples_per_doc": self.stage_rows["parse"] / self.docs,
            "shacl.violations": self.stage_rows["validate"],
            "shacl.task_skew": task_skew(tasks.get("shacl", [])),
            "filtering.valid_share": self.valid_share,
            "lineage.write_mb": sum(t[5] for t in tasks.get("lineage", [])) / 2 ** 20,
        }


class KgEntities:
    name = "kg_entities"

    def __init__(self, spark, work: str, seed: int):
        from harvesting_validator_spark.sources.synthetic import ENTITY_PROFILE

        self.spark, self.work = spark, work
        self.profile = ENTITY_PROFILE
        self.corpus = entity_corpus(seed, ENTITY_DOCS)
        self.warm = entity_corpus(seed, ENTITY_WARM_DOCS)
        self.src = os.path.join(work, "entities")
        self.warm_src = os.path.join(work, "entities_warm")
        self.docs = len(self.corpus.rows)
        c = self.corpus
        self.sizes = {"docs": self.docs, "groups": c.groups, "chains": c.chain_groups,
                      "largest_group": c.max_group, "candidates": c.candidates,
                      "hot_key_candidates": c.max_group * (c.max_group - 1) // 2}

    def write_inputs(self) -> None:
        _write(self.spark, self.warm.rows, self.warm_src)
        _write(self.spark, self.corpus.rows, self.src)

    def _build(self, src: str, k: int):
        from harvesting_validator_spark.kg.graph import materialize_graph
        from harvesting_validator_spark.plans.pipeline import run_kg_construction

        out = os.path.join(self.work, f"graph{k}")
        run = run_kg_construction(self.spark, self.spark.read.parquet(src),
                                  self.profile, blocking="key")
        materialize_graph(run.graph, out)
        return run.mapping, out, run.cleanup

    def warm_op(self) -> None:
        """One op over the small corpus: it compiles the linking and
        union-find plans. Warming up on the timed input instead cost ~6 s
        more and left the timed op no faster."""
        _, out, release = self._build(self.warm_src, 0)
        release()
        shutil.rmtree(out)

    def op(self, k: int):
        return self._build(self.src, k)

    def check(self, result) -> list[str]:
        """Canonical-graph rows and the entity -> canonical mapping against
        the generator's groups."""
        mapping, out, release = result
        problems = []
        rows = self.spark.read.parquet(out).count()
        if rows != self.corpus.graph_rows:
            problems.append(f"graph rows {rows} != {self.corpus.graph_rows}")
        got = dict(mapping.select("entity", "canonical").collect())
        want = self.corpus.canonical
        wrong = sum(1 for e in set(got) | set(want) if got.get(e) != want.get(e))
        if wrong:
            problems.append(f"{wrong} of {len(want)} entities mapped wrongly")
        comps = len(set(got.values()))
        if comps != self.corpus.groups:
            problems.append(f"{comps} components != {self.corpus.groups} groups")
        release()
        shutil.rmtree(out, ignore_errors=True)
        return problems

    def traced_op(self, tr, k: int):
        """run_kg_construction + materialize_graph, one layer at a time.
        Forced are the frames the op itself persists (raw parse, focus,
        violations, normalized triples, mentions, mapping), plus the link
        edges: they have one consumer, so forcing them adds a cache write
        but no recompute, and keeps blocking and scoring in kg.linking.
        The filtering frames are only planned in their span; their jobs
        run inside kg.normalize, as in the op."""
        from harvesting_validator_spark.kg.canonicalize import canonical_mapping
        from harvesting_validator_spark.kg.graph import (
            dedup_graph, materialize_graph, rewrite_to_canonical)
        from harvesting_validator_spark.kg.linking import (
            block_candidates_by_key, extract_mentions, link_edges)
        from harvesting_validator_spark.kg.normalize import normalize_triples
        from harvesting_validator_spark.operators.filtering import (
            conformance_verdicts, split_valid_error)
        from harvesting_validator_spark.plans.pipeline import add_doc_id
        from harvesting_validator_spark.shacl.compile import compute_focus, validate
        from harvesting_validator_spark.shacl.parse import parse_shapes_turtle
        from harvesting_validator_spark.sources.rdf_parse import (
            parse_sources_to_triples)

        spark = self.spark
        src = add_doc_id(spark.read.parquet(self.src))
        with tr.layer("rdf_parse"):
            triples, errors, raw = parse_sources_to_triples(
                src, with_errors=True, return_raw=True, repartition_by_doc=True)
            tr.force("rdf_parse", raw)
        with tr.layer("shacl"):
            shapes = parse_shapes_turtle(self.profile)
            focus = tr.force("shacl", compute_focus(triples, shapes, spark))
            violations = tr.force("shacl", validate(triples, shapes, spark,
                                                    focus=focus, persisted=[]))
        with tr.layer("filtering"):
            verdicts = conformance_verdicts(src.select("doc_id"), violations, errors)
            valid = split_valid_error(triples, focus, violations)[0]
        with tr.layer("kg.normalize"):
            conforming = verdicts.filter(F.col("conforms")).select("doc_id")
            ktriples = tr.force("kg.normalize", normalize_triples(
                valid.join(conforming, "doc_id", "left_semi")))
        with tr.layer("kg.linking"):
            mentions = tr.force("kg.linking", extract_mentions(ktriples))
            candidates = block_candidates_by_key(mentions)
            edges = tr.force("kg.linking", link_edges(candidates))
        with tr.layer("kg.canonicalize"):
            mapping = tr.force("kg.canonicalize",
                               canonical_mapping(mentions.select("entity"), edges))
        out = os.path.join(self.work, f"graph{k}")
        with tr.layer("kg.graph"):
            rewritten = rewrite_to_canonical(ktriples, mapping)
            materialize_graph(dedup_graph(rewritten), out)
        self._traced = dict(verdicts=verdicts, candidates=candidates,
                            edges=tr.rows_of[id(edges)], rewritten=rewritten,
                            out=out, violations=tr.rows_of[id(violations)],
                            raw=tr.rows_of[id(raw)])
        return mapping, out, spark.catalog.clearCache

    def trace_counts(self, tr) -> None:
        """Counts for the extras, taken after the traced op."""
        t = self._traced
        graph = tr.rows["kg.graph"] = self.spark.read.parquet(t["out"]).count()
        self.counts = {
            "valid_share": t["verdicts"].filter(F.col("conforms")).count() / self.docs,
            "candidates": t["candidates"].count(),
            "dedup_ratio": graph / max(1, t["rewritten"].count()),
        }

    def extras(self, tasks) -> dict:
        t, c = self._traced, self.counts
        return {
            "rdf_parse.triples_per_doc": t["raw"] / self.docs,
            "shacl.violations": t["violations"],
            "shacl.task_skew": task_skew(tasks.get("shacl", [])),
            "filtering.valid_share": c["valid_share"],
            "kg.linking.candidates": c["candidates"],
            "kg.linking.edges_per_candidate": t["edges"] / max(1, c["candidates"]),
            "kg.linking.task_skew": task_skew(tasks.get("kg.linking", [])),
            "kg.graph.dedup_ratio": c["dedup_ratio"],
        }


WORKLOADS = {w.name: w for w in (ValidatePages, KgEntities)}
