"""Streaming incremental KG canonicalization (foreachBatch).

The batch engine resolves entities with a full union-find over all edges
(`kg/canonicalize.py`); the incremental engine folds one batch of new
edges into an existing mapping (`merge_components`). This module runs
that incremental step PER MICRO-BATCH of a source-document stream — the
end-to-end steady-state KG build: documents stream in, each batch links
only against the (key-pruned slice of the) accumulated mention index,
and the canonical mapping converges to exactly what a one-shot batch
run over everything seen so far would produce.

Why foreachBatch and not a stateful operator: union-find state is a
GLOBAL equivalence relation — a merge can relabel entities owned by any
state partition, which keyed per-group state
(`applyInPandasWithState`) cannot express. foreachBatch is Spark's
sanctioned surface for exactly this (stream → transactional batch sink
with cross-key logic); the mapping/mention tables play the role of the
state store.

Per-batch cost is bounded (the scale contract):

* the mention index is probed with a left_semi on the batch's strong
  keys — only index rows sharing a key with the batch are read into the
  join (partition-prunable when the index is bucketed by key);
* `merge_components` runs the pointer-jumping loop ONLY on the
  projected delta graph;
* the mapping rewrite is a full overwrite here (parquet has no MERGE);
  at cluster scale an Iceberg/Delta MERGE INTO on the relabeled keys
  replaces it — documented trade, same semantics.

Crash safety: foreachBatch gives at-least-once; every step here is a
deterministic function of (accumulated tables, batch), and re-running a
batch is idempotent (same keys appended → distinct'd on read; same
merge → same mapping), matching the repo's rerun-equals-run invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harvesting_validator_spark import fs
from harvesting_validator_spark.runtime import local_frame

MENTIONS_SCHEMA = (
    "entity string, attr_text string, strong_keys array<string>, key string"
)
MAPPING_SCHEMA = "entity string, canonical string"


class CanonicalStreamState:
    """Warehouse-backed tables the stream folds into."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.mentions_path = fs.join(warehouse, "_stream_mentions")
        self.mapping_path = fs.join(warehouse, "_stream_mapping")

    def _read(self, path: str, schema: str) -> DataFrame:
        if not fs.exists(self.spark, path):
            return local_frame(self.spark, [], schema)
        return self.spark.read.parquet(path)

    def mentions(self) -> DataFrame:
        # distinct on read: at-least-once foreachBatch may append a
        # batch's rows twice; mentions are value-identical on replay
        return self._read(self.mentions_path, MENTIONS_SCHEMA).distinct()

    def mapping(self) -> DataFrame:
        # the primary may be missing inside write_mapping's swap window
        # (crash between rename-aside and rename-in): fall back to the
        # backup so an at-least-once replay folds into the FULL history,
        # never a batch-only mapping (ADVICE r4 #1)
        if not fs.exists(self.spark, self.mapping_path) and fs.exists(
            self.spark, self.mapping_path + ".bak"
        ):
            return self.spark.read.parquet(self.mapping_path + ".bak")
        return self._read(self.mapping_path, MAPPING_SCHEMA)

    def write_mapping(self, mapping: DataFrame) -> None:
        """Swap in the new mapping with the two-rename pattern
        (ParquetStageStore.compact): write aside → rename current to
        .bak → rename tmp in → delete .bak. Every crash window leaves a
        readable full mapping: before the first rename the primary is
        intact; between the renames mapping() reads the .bak; after the
        second rename the new primary is in place (a stale .bak is
        deleted on the next successful swap). The old delete-then-rename
        had a window with NO mapping at all, and foreachBatch replay
        would then have overwritten history with batch-only entries."""
        tmp = self.mapping_path + ".next"
        bak = self.mapping_path + ".bak"
        mapping.write.mode("overwrite").parquet(tmp)
        if fs.exists(self.spark, self.mapping_path):
            # a stale .bak is only deletable while the primary exists —
            # if the primary is missing we are recovering from a crashed
            # swap and the .bak IS the mapping until the new primary lands
            if fs.exists(self.spark, bak):
                fs.delete(self.spark, bak, recursive=True)
            fs.rename(self.spark, self.mapping_path, bak)
        fs.rename(self.spark, tmp, self.mapping_path)
        if fs.exists(self.spark, bak):
            fs.delete(self.spark, bak, recursive=True)

    def append_mentions(self, keyed: DataFrame) -> None:
        keyed.write.mode("append").parquet(self.mentions_path)


def _keyed_mentions(mentions: DataFrame) -> DataFrame:
    return mentions.select(
        "entity", "attr_text", "strong_keys",
        F.explode("strong_keys").alias("key"),
    ).dropDuplicates(["entity", "key"])


def make_canonicalize_batch_fn(warehouse: str):
    """Returns fn(batch_df, batch_id) for ``writeStream.foreachBatch``.

    batch_df: micro-batch of source docs
    (repo, path, commit, lang, content)."""
    from harvesting_validator_spark.kg.canonicalize import merge_components
    from harvesting_validator_spark.kg.linking import (
        extract_mentions,
        link_edges,
    )
    from harvesting_validator_spark.kg.normalize import normalize_triples
    from harvesting_validator_spark.sources.rdf_parse import (
        parse_sources_to_triples,
    )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = CanonicalStreamState(spark, warehouse)
        triples = normalize_triples(parse_sources_to_triples(batch_df))
        m_b = _keyed_mentions(
            extract_mentions(triples).select(
                "entity", "attr_text", "strong_keys"
            )
        )
        if m_b.isEmpty():
            return
        batch_keys = m_b.select("key").distinct()
        # index probe bounded by the batch's keys (left_semi), never a
        # full index scan
        idx = state.mentions().join(batch_keys, "key", "left_semi")
        pool = m_b.unionByName(idx).dropDuplicates(["entity", "key"])
        a, b = pool.alias("a"), pool.alias("b")
        candidates = (
            a.join(
                b,
                (F.col("a.key") == F.col("b.key"))
                & (F.col("a.entity") < F.col("b.entity")),
            )
            .select(
                F.col("a.entity").alias("entity_a"),
                F.col("b.entity").alias("entity_b"),
                F.col("a.attr_text").alias("text_a"),
                F.col("b.attr_text").alias("text_b"),
                F.col("a.strong_keys").alias("keys_a"),
                F.col("b.strong_keys").alias("keys_b"),
            )
            .dropDuplicates(["entity_a", "entity_b"])
        )
        edges = link_edges(candidates, threshold=0.9)
        # fold: new entities (even edge-less ones) enter the mapping as
        # themselves; merge_components relabels whatever the edges touch
        mapping = state.mapping()
        singletons = (
            m_b.select("entity")
            .distinct()
            .join(mapping.select("entity"), "entity", "left_anti")
            .select("entity", F.col("entity").alias("canonical"))
        )
        merged = merge_components(
            mapping.unionByName(singletons), edges
        )
        state.write_mapping(merged)
        state.append_mentions(m_b)

    return fn


def canonicalize_stream(
    sources_stream: DataFrame,
    warehouse: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Wire a (repo, path, commit, lang, content) source stream into the
    incremental canonicalization sink. Returns the StreamingQuery.
    available_now=True drains what has landed and terminates — the
    batch-driven test/cron mode; pass False for a long-lived stream."""
    writer = sources_stream.writeStream.foreachBatch(
        make_canonicalize_batch_fn(warehouse)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
