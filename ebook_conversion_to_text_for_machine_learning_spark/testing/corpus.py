"""Distributed synthetic corpus generation for benchmarks.

``spark.range(n)`` → ``mapInArrow`` → one deterministic document per index
(seeded per ``(seed, index)``), encoded by the extraction kernel's span
codec — generation itself scales with the cluster instead of
bottlenecking on the driver.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
    INPUT_SCHEMA,
    docs_batch,
)
from ebook_conversion_to_text_for_machine_learning_spark.testing.fixtures import (
    make_doc,
)


def corpus_spans_df(
    spark: SparkSession, n_docs: int, *, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    base = spark.range(n_docs)
    if partitions:
        base = base.repartition(partitions)

    def gen(batches):
        for batch in batches:
            yield docs_batch([make_doc(i, seed) for i in batch.column(0).to_pylist()])

    return base.mapInArrow(gen, schema=INPUT_SCHEMA)


def write_corpus(
    spark: SparkSession, path: str, n_docs: int, *, seed: int = 42, partitions: int = 64
) -> None:
    corpus_spans_df(spark, n_docs, seed=seed, partitions=partitions).write.mode(
        "overwrite"
    ).parquet(path)


def planted_embeddings(
    spark: SparkSession,
    n: int,
    dim: int,
    *,
    n_clusters: int = 64,
    noise: float = 0.2,
    seed: int = 7,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic clustered embeddings with PLANTED nearest neighbors.

    The driver embeddings table is near-random (top-5 cosine ≈ 0.40 vs a
    0.28 p99 background — BENCH/NOTES.md), the regime where no sublinear
    index can look good and recall regressions are invisible. This
    generator plants structure: ``n_clusters`` unit centers, each vector
    ``normalize(center + noise · g/√dim)`` with ``g`` drawn per
    ``(seed, vec_id)`` — so within-cluster cosine ≈ 1/(1+noise²) while
    cross-cluster cosine stays near the random background, and every
    probe's true top-k lies inside its own cluster. Cluster membership is
    ``(i · 0x9E3779B1) mod n_clusters`` (a multiplicative scramble), NOT
    ``i mod n_clusters`` — ``ivf_centroids`` samples every stride-th id,
    and a stride sharing a factor with a round-robin layout would sample
    the whole codebook from a handful of clusters.

    Same distributed shape as ``corpus_spans_df`` (``spark.range`` → one
    generator call per Arrow batch, per-row determinism, no driver loop),
    but through ``mapInPandas``: ``perfbench`` drives this generator
    without a JVM by faking ``range(n).mapInPandas``.
    """
    import numpy as np
    import pandas as pd

    centers = np.random.default_rng(seed).standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    scale = noise / float(np.sqrt(dim))

    base = spark.range(n)
    if partitions:
        base = base.repartition(partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids = batch["id"].to_numpy()
            vecs = []
            for i in ids:
                c = centers[(int(i) * 0x9E3779B1) % n_clusters]
                g = np.random.default_rng([seed, int(i)]).standard_normal(dim)
                v = c + scale * g
                vecs.append((v / np.linalg.norm(v)).astype(np.float32))
            yield pd.DataFrame({"vec_id": ids, "embedding": vecs})

    return base.mapInPandas(gen, schema="vec_id long, embedding array<float>")
