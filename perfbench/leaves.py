"""The bench.py query leaves over the seeded leaf tables, each timed in its
own job group, with results checked against the DuckDB oracle. Leaves with
no SQL twin are checked against a single-node computation instead: the
sequential chunker plus the in-process signature kernels for the
kernel-backed leaves, tests/oracle.py for ``dedup_clusters``, exact cosines
for the approximate vector leaves."""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

# bench.py's query leaves (its 16th, pipeline_synthetic, is the pipeline
# workloads themselves)
QUERY_LEAVES = (
    "chunks", "minhash_bands", "simhash", "token_stats", "bpe_token_stats",
    "quality_scores", "doc_fingerprint", "exact_dedup_flags", "ngram_jaccard",
    "ngram_jaccard_capped", "substring_pairs", "embedding_topk_ivf",
    "dedup_clusters", "dedup_clusters_sql",
)
BANDED = "embedding_near_dups_banded"
LEAVES = QUERY_LEAVES + (BANDED,)
BANDED_THRESHOLD = 0.8
# tests/test_operators_misc.py's recall floor for IVF on clustered vectors
IVF_MIN_RECALL = 0.9


def _banded(spark, leaf_dir: str):
    from fastcdc_rs_spark.operators.knn import cosine_near_duplicates_banded

    emb = spark.read.parquet(f"{leaf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    # bench.py's configuration
    return cosine_near_duplicates_banded(
        emb, threshold=BANDED_THRESHOLD, dim=dim, bands=8, rows_per_band=10,
        bucket_cap=64,
    )


def _norm_value(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return int(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return float(f"{float(v):.6g}")
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_value(x) for x in v)
    try:
        return float(f"{float(v):.6g}")  # Decimal
    except (TypeError, ValueError):
        return str(v)


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_norm_value(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows vs oracle {len(want)}"]
    g, w = _rows(got), _rows(want)
    bad = sum(a != b for a, b in zip(g, w))
    return [f"{bad} rows differ from the oracle"] if bad else []


def _duckdb(leaf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        path = os.path.join(leaf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _signed(h: int) -> int:
    """A u64 bit pattern as Spark's signed long."""
    return h - (1 << 64) if h >= 1 << 63 else h


def _unit_hashes(texts: list[str], chunker) -> list[list[tuple[int, int, int]]]:
    """Sequential single-doc chunker: [(hash, offset, length)] per doc."""
    from fastcdc_rs_spark.kernel import chunk_bytes

    return [chunk_bytes(t.encode("utf-8"), chunker) for t in texts]


def _expected(name: str, docs: pd.DataFrame) -> pd.DataFrame | None:
    """The kernel-backed leaves' rows, computed in-process without Spark."""
    from __spark_entry__ import CFG, TINY

    from fastcdc_rs_spark.kernel.signatures import signature_batch, simhash_batch

    ids, texts = docs["doc_id"].tolist(), docs["text"].tolist()
    if name == "chunks":
        return pd.DataFrame(
            [(d, i, _signed(h), off, ln)
             for d, cs in zip(ids, _unit_hashes(texts, TINY))
             for i, (h, off, ln) in enumerate(cs)],
            columns=["doc_id", "chunk_idx", "hash", "offset", "length"],
        )
    units = [np.array([h for h, _, _ in cs], dtype=np.uint64)
             for cs in _unit_hashes(texts, CFG.chunker())]
    if name == "minhash_bands":
        _, bands = signature_batch(units, k=CFG.shingle_k, n_perms=CFG.n_perms,
                                   bands=CFG.bands, rows=CFG.rows, seed=CFG.minhash_seed)
        return pd.DataFrame(
            [(d, b, int(v)) for d, row in zip(ids, bands.view(np.int64))
             for b, v in enumerate(row)],
            columns=["doc_id", "band_id", "band_hash"],
        )
    if name == "simhash":  # q_simhash's default seed
        return pd.DataFrame({"doc_id": ids, "simhash": simhash_batch(units).view(np.int64)})
    return None


def _unit(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.float64)
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def _topk_check(got: pd.DataFrame, con, exact_sql: str) -> list[str]:
    """IVF top-k: the same shape as the exact top-k (``embedding_topk``'s
    SQL twin), every cosine exact, ranks in cosine order, and recall of the
    exact neighbours at least IVF_MIN_RECALL."""
    want = con.execute(exact_sql).fetchdf()
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} vs exact top-k {sorted(want.columns)}"]
    emb = con.execute("SELECT vec_id, embedding FROM embeddings").fetchdf()
    v = _unit(np.stack(emb["embedding"].to_numpy()))
    row = {d: i for i, d in enumerate(emb["vec_id"])}
    problems = []
    exact = np.array([v[row[q]] @ v[row[x]] for q, x in zip(got["query_id"], got["vec_id"])])
    if np.abs(exact - got["cosine"].to_numpy(dtype=np.float64)).max(initial=0) > 1e-4:
        problems.append("cosines differ from the exact ones")
    hits = total = 0
    for q, w in want.groupby("query_id"):
        g = got[got["query_id"] == q].sort_values("rank")
        if len(g) != len(w) or g["vec_id"].duplicated().any():
            problems.append(f"query {q}: {len(g)} neighbours, not {len(w)} distinct")
        if (np.diff(g["cosine"].to_numpy(dtype=np.float64)) > 1e-9).any():
            problems.append(f"query {q}: ranks not in cosine order")
        hits += len(set(g["vec_id"]) & set(w["vec_id"]))
        total += len(w)
    if total and hits / total < IVF_MIN_RECALL:
        problems.append(f"recall {hits / total:.2f} < {IVF_MIN_RECALL} of the exact top-k")
    return problems


def _kernel_check(name: str, got: pd.DataFrame, leaf_dir: str, con, sql) -> list[str]:
    """Leaves with no SQL twin."""
    import pyarrow.parquet as pq

    if got.empty:
        return ["no rows"]
    docs = pq.read_table(os.path.join(leaf_dir, "documents.parquet")).to_pandas()
    want = _expected(name, docs)
    if want is not None:
        return compare(got, want)
    if name == "embedding_topk_ivf":
        return _topk_check(got, con, sql["embedding_topk"])
    if name == "dedup_clusters":
        from oracle import oracle_pipeline

        from fastcdc_rs_spark.pipeline import DedupConfig

        _, _, clusters = oracle_pipeline(docs["doc_id"].tolist(), docs["text"].tolist(),
                                         DedupConfig())
        if dict(zip(got["doc_id"], got["cluster_id"])) != clusters:
            return ["clusters differ from the single-node oracle"]
        return []
    if name == BANDED:
        emb = pq.read_table(os.path.join(leaf_dir, "embeddings.parquet")).to_pandas()
        v = _unit(np.stack(emb["embedding"].to_numpy()))
        row = {d: i for i, d in enumerate(emb["vec_id"])}
        a, b = got.columns[0], got.columns[1]
        cos = np.array([v[row[x]] @ v[row[y]] for x, y in zip(got[a], got[b])])
        if (cos < BANDED_THRESHOLD - 1e-4).any():
            return ["pairs below the cosine threshold"]
        return []
    return [f"no check for {name}"]


def run_leaves(spark, layers, leaf_dir: str, tally, log) -> dict[str, float]:
    """One pass over the leaves; returns each leaf's wall (plan, run and
    collect), and records each result's check in ``tally``."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sql = entry.oracle_sql()
    con = _duckdb(leaf_dir)
    walls: dict[str, float] = {}
    try:
        for name in LEAVES:
            group = f"query.{name}"
            if name == BANDED:
                got = layers.run(group, lambda: _banded(spark, leaf_dir).toPandas())
            else:
                got = layers.run(group, lambda n=name: qs[n](spark, leaf_dir).toPandas())
            walls[name] = layers.wall[group]
            if name in sql:
                problems = compare(got, con.execute(sql[name]).fetchdf())
            else:
                problems = _kernel_check(name, got, leaf_dir, con, sql)
            tally.record(group, problems)
    finally:
        con.close()
    from fastcdc_rs_spark.cache import release_all

    release_all()
    log("leaves:", {k: round(v, 3) for k, v in walls.items()})
    return walls
