"""What one rep of a workload runs, and how its output is checked.

A rep is what a user of the pipeline waits for: ``near_dup_clusters`` over
the whole cached input (bench.py's shape), up to the clusters and verified
pairs in hand. Every rep's output is compared with the single-node oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

INPUT_PARTITIONS = 8  # bench.py's data-sized partition count at these sizes


def load(spark, path: str):
    """The docs frame, cached and filled."""
    docs = spark.read.parquet(path).repartition(INPUT_PARTITIONS).persist()
    docs.count()
    return docs


def signatures(docs):
    """The pipeline's signature frame: chunk -> shingle -> MinHash in one
    Arrow pass, its only Python UDF stage (as near_dup_clusters builds it)."""
    from fastcdc_rs_spark.operators.minhash import chunk_minhash_signatures
    from fastcdc_rs_spark.pipeline import DedupConfig

    cfg = DedupConfig()
    return chunk_minhash_signatures(
        docs, cfg.chunker(), k=cfg.shingle_k, n_perms=cfg.n_perms,
        bands=cfg.bands, rows=cfg.rows, seed=cfg.minhash_seed,
    ).drop("n_units")


def warm(docs) -> None:
    """Start the Python workers and load the kernel: one signature pass."""
    signatures(docs).write.format("noop").mode("overwrite").save()


def rep(docs) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(clusters, verified pairs) of one pipeline run."""
    from fastcdc_rs_spark.cache import release_all
    from fastcdc_rs_spark.pipeline import DedupConfig, near_dup_clusters

    clusters, verified, _ = near_dup_clusters(docs, DedupConfig())
    cl = clusters.toPandas()
    vp = verified.select("a", "b").toPandas()
    verified.unpersist()
    release_all()
    return cl, vp


def check(inputs, clusters: pd.DataFrame, pairs: pd.DataFrame) -> list[str]:
    """Problems with one output; empty when it matches the oracle."""
    problems = []
    ids = clusters["doc_id"].to_numpy(dtype=np.int64)
    n = inputs.n_docs
    if len(ids) != n or not np.array_equal(np.sort(ids), np.arange(n)):
        problems.append(f"{len(ids)} labels for {n} docs, not one label per doc")
    else:
        got = clusters.sort_values("doc_id")["cluster_id"].to_numpy(dtype=np.int64)
        bad = int((got != inputs.oracle_clusters).sum())
        if bad:
            problems.append(f"{bad} docs labelled unlike the oracle")
    got_pairs = np.unique(pairs[["a", "b"]].to_numpy(dtype=np.int64).reshape(-1, 2), axis=0)
    if len(got_pairs) != len(pairs):
        problems.append(f"{len(pairs) - len(got_pairs)} repeated verified pairs")
    want = inputs.oracle_pairs
    if got_pairs.shape != want.shape or not np.array_equal(got_pairs, want):
        problems.append(
            f"verified pairs differ from the oracle ({len(got_pairs)} vs {len(want)})"
        )
    return problems


def cluster_ids(inputs, clusters: pd.DataFrame) -> np.ndarray:
    """Cluster id by doc_id (docs missing from ``clusters`` stay singletons)."""
    out = np.arange(inputs.n_docs, dtype=np.int64)
    ids = clusters["doc_id"].to_numpy(dtype=np.int64)
    ok = (ids >= 0) & (ids < inputs.n_docs)
    out[ids[ok]] = clusters["cluster_id"].to_numpy(dtype=np.int64)[ok]
    return out
