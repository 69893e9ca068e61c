"""Seeded workload inputs, their single-node oracle, and seeded-truth quality.

Every input is a pure function of (workload, seed, size) and of the source
files that generate it and compute its oracle. Inputs are cached under the
work directory together with the oracle's verified pairs and clusters, keyed
by all of these, so a repeated (workload, seed) on the same tree pays
generation and the oracle once, and a tree whose generator, config, kernel
or oracle differs never reads another tree's cache. The program under test
only ever sees the written parquet files.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import json
import os
from multiprocessing import get_context

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Files the cached inputs and oracle results are computed from (relative to
# the repository root): the corpus generator, DedupConfig's defaults, the
# kernel the oracle chunks and signs with, the oracle itself, and this file.
SOURCE_GLOBS = (
    "fastcdc_rs_spark/corpus.py",
    "fastcdc_rs_spark/pipeline.py",
    "fastcdc_rs_spark/kernel/*.py",
    "fastcdc_rs_spark/kernel/*.c",
    "tests/oracle.py",
    "perfbench/inputs.py",
)

# Docs per workload: large enough that work growing with the input is about
# 30% of a warm pipeline_mixed rep at local[4] (the rest is the pipeline's
# per-job floor), small enough that generation, the oracle, a cold set-up and
# three reps fit in about a minute. pipeline_unique is smaller because its
# generator makes 1.4x the corpus and the oracle chunks every doc.
SIZES = {"pipeline_mixed": 12000, "pipeline_unique": 10000}
# Leaf tables: the size of TESTDATA.md's sf0.01 tables (500 short docs, 500 vectors).
LEAF_DOCS = 500
LEAF_VECS = 500
LEAF_DIM = 64

_PARTS = 8  # parquet files per docs table: the reader's input partitions


def _corpus(n_docs: int, seed: int) -> pd.DataFrame:
    from fastcdc_rs_spark.corpus import corpus_pandas

    return corpus_pandas(n_docs=n_docs, seed=seed, mean_words=400)


def _fill_rows(n: int, seed: int) -> pd.DataFrame:
    """``n`` rows of the corpus' unique/boiler fill: the same doc sizes as
    ``corpus_pandas``, with no seeded duplicates.

    The fill is what follows the duplicate-bearing rows in ``corpus_pandas``
    (about 74% of it), so a larger corpus is generated and filtered."""
    pdf = _corpus(int(n / 0.7) + 64, seed)
    fill = pdf[pdf["dup_kind"].isin(["unique", "boiler"])]
    if len(fill) < n:
        raise RuntimeError(f"fill generator produced {len(fill)} < {n} rows")
    return fill.iloc[:n]


GENERATORS = {
    "pipeline_mixed": _corpus,
    "pipeline_unique": _fill_rows,
}


# ---------------------------------------------------------------- oracle

def _units_slice(texts: list[str]) -> list[np.ndarray]:
    import oracle  # tests/oracle.py (on the worker's sys.path)
    from fastcdc_rs_spark.pipeline import DedupConfig

    return oracle.oracle_unit_hashes(texts, DedupConfig())


def _pool_init(paths: list[str]) -> None:
    import sys

    sys.path[:0] = paths


def oracle_result(root: str, doc_ids: list[int], texts: list[str]):
    """tests/oracle.py's ``oracle_pipeline`` on the generated docs.

    Its per-doc chunking (``oracle_unit_hashes``, the sequential numpy
    chunker) runs once per distinct text, spread over a small spawn pool;
    the rest of the oracle runs unchanged in this process."""
    import sys

    paths = [root, os.path.join(root, "tests")]
    sys.path[:0] = [p for p in paths if p not in sys.path]
    import oracle
    from fastcdc_rs_spark.pipeline import DedupConfig

    distinct = list(dict.fromkeys(texts))
    n_proc = min(4, os.cpu_count() or 1)
    step = (len(distinct) + n_proc * 4 - 1) // (n_proc * 4)
    slices = [distinct[i:i + step] for i in range(0, len(distinct), step)]
    pool = get_context("spawn").Pool(n_proc, _pool_init, (paths,))
    try:
        parts = pool.map(_units_slice, slices)
    finally:
        pool.close()
        pool.join()
    # the spawn pool started a resource tracker, which ignores SIGTERM and
    # would otherwise outlive this run's processes: release the pool's
    # semaphores, then close the tracker now
    del pool
    gc.collect()
    from multiprocessing import resource_tracker

    getattr(resource_tracker._resource_tracker, "_stop", lambda: None)()
    by_text = dict(zip(distinct, (u for part in parts for u in part)))
    units = [by_text[t] for t in texts]

    original = oracle.oracle_unit_hashes
    oracle.oracle_unit_hashes = lambda _texts, _cfg: units
    try:
        _, verified, clusters = oracle.oracle_pipeline(doc_ids, texts, DedupConfig())
    finally:
        oracle.oracle_unit_hashes = original
    return verified, clusters


# ---------------------------------------------------------------- cache

class Inputs:
    """One workload's generated input, as written for the program."""

    def __init__(self, path: str):
        self.path = path
        self.docs_path = os.path.join(path, "docs")
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        self.n_docs = meta["n_docs"]
        self.n_bytes = meta["n_bytes"]
        truth = pq.read_table(os.path.join(path, "truth.parquet")).to_pandas()
        self.truth = truth  # doc_id, dup_kind, true_cluster
        o = np.load(os.path.join(path, "oracle.npz"))
        self.oracle_pairs = o["pairs"]        # (k, 2) int64, a < b, sorted
        self.oracle_clusters = o["clusters"]  # cluster_id by doc_id

    def texts(self) -> list[str]:
        return pq.read_table(self.docs_path, columns=["text"]).column("text").to_pylist()


def _write_docs(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(pdf), _PARTS + 1).astype(int)
    for i in range(_PARTS):
        part = pdf.iloc[bounds[i]:bounds[i + 1]]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def source_key(root: str) -> str:
    """Hash of every file in SOURCE_GLOBS: part of each cache entry's name."""
    h = hashlib.sha256()
    for pattern in SOURCE_GLOBS:
        for path in sorted(glob.glob(os.path.join(root, pattern))):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def load_inputs(root: str, work: str, workload: str, seed: int) -> Inputs:
    n = SIZES[workload]
    path = os.path.join(work, "inputs", f"{workload}-s{seed}-n{n}-{source_key(root)}")
    if os.path.exists(os.path.join(path, "meta.json")):
        return Inputs(path)
    tmp = path + f".tmp{os.getpid()}"
    pdf = GENERATORS[workload](n, seed).reset_index(drop=True)
    pdf["doc_id"] = np.arange(len(pdf), dtype=np.int64)
    texts = pdf["text"].tolist()
    verified, clusters = oracle_result(root, pdf["doc_id"].tolist(), texts)
    _write_docs(pdf[["doc_id", "text"]], os.path.join(tmp, "docs"))
    pq.write_table(
        pa.Table.from_pandas(
            pdf[["doc_id", "dup_kind", "true_cluster"]], preserve_index=False
        ),
        os.path.join(tmp, "truth.parquet"),
    )
    pairs = np.array(sorted(verified), dtype=np.int64).reshape(-1, 2)
    cl = np.array([clusters[d] for d in range(len(pdf))], dtype=np.int64)
    np.savez(os.path.join(tmp, "oracle.npz"), pairs=pairs, clusters=cl)
    n_bytes = int(sum(len(t.encode("utf-8")) for t in texts))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"n_docs": len(pdf), "n_bytes": n_bytes}, f)
    os.replace(tmp, path)
    return Inputs(path)


# ---------------------------------------------------------------- quality

def _pairs_within(groups: pd.Series) -> int:
    sizes = groups.value_counts().to_numpy(dtype=np.int64)
    return int((sizes * (sizes - 1) // 2).sum())


def quality(truth: pd.DataFrame, cluster_id: np.ndarray) -> dict:
    """Seeded-truth quality of one clustering (``cluster_id`` by doc_id).

    pair_recall: share of same-``true_cluster`` doc pairs that share a
    predicted cluster (1.0 when the input seeds no pairs).
    boiler_isolated: share of ``boiler`` precision-control docs left as
    singletons; 1 - boiler_isolated is the false-merge rate.
    """
    df = truth.assign(pred=cluster_id[truth["doc_id"].to_numpy()])
    true_pairs = _pairs_within(df["true_cluster"])
    hit_pairs = _pairs_within(df["true_cluster"].astype(str) + "/" + df["pred"].astype(str))
    recall = hit_pairs / true_pairs if true_pairs else 1.0
    sizes = df["pred"].map(df["pred"].value_counts())
    boiler = df["dup_kind"] == "boiler"
    merged = int((sizes[boiler] > 1).sum())
    n_boiler = int(boiler.sum())
    return {
        "pair_recall": recall,
        "boiler_isolated": 1.0 - merged / n_boiler if n_boiler else 1.0,
        "false_merges": merged,
    }


# ---------------------------------------------------------------- leaves

_LEAF_VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query a key window row table stream merge data big "
    "vector join index shuffle plan cache task stage node disk page byte"
).split()


def load_leaf_tables(root: str, work: str, seed: int) -> str:
    """``documents`` and ``embeddings`` tables shaped like TESTDATA.md's
    sf0.01 tables (short word-soup docs with exact and near copies;
    clustered vectors with near-duplicate copies)."""
    path = os.path.join(work, "inputs", f"leaves-s{seed}-{source_key(root)}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    vocab = np.array(_LEAF_VOCAB)
    langs = np.array(["en", "en", "de", "fr", "es", "zh"])
    texts: list[str] = []
    for i in range(LEAF_DOCS):
        r = rng.random()
        if i > 10 and r < 0.08:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.2:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(vocab))
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(8, 90)))))
    docs = pa.table({
        "doc_id": pa.array(np.arange(LEAF_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([str(langs[i % len(langs)]) for i in range(LEAF_DOCS)]),
        "source": pa.array([f"src{i % 20}" for i in range(LEAF_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(docs, os.path.join(tmp, "documents.parquet"))

    centers = rng.normal(size=(10, LEAF_DIM)).astype(np.float32)
    labels = rng.integers(0, 10, LEAF_VECS).astype(np.int32)
    vecs = centers[labels] + rng.normal(scale=0.6, size=(LEAF_VECS, LEAF_DIM)).astype(np.float32)
    for i in range(20, LEAF_VECS, 10):  # near-duplicate vectors
        vecs[i] = vecs[i - 7] + rng.normal(scale=0.01, size=LEAF_DIM).astype(np.float32)
        labels[i] = labels[i - 7]
    emb = pa.table({
        "vec_id": pa.array(np.arange(LEAF_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    pq.write_table(emb, os.path.join(tmp, "embeddings.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.replace(tmp, path)
    return path
