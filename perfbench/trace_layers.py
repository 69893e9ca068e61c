"""The traced run: per-layer metrics, timed from outside each layer.

Each layer is called through its public entry point, its output is
materialized before the next layer starts, and its Spark jobs are tagged
with a job group. A local event log, parsed after the session stops, gives
each group's shuffle bytes, spill, task skew and job count. The same
workload also runs untraced in this process first, so the run reports the
tracing overhead (traced wall / untraced wall).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import host
import leaves
import workloads
from inputs import load_leaf_tables

UNTRACED_REPS = 3
# BASELINE.md's reference band for the chunk scan (1.25 GB/s measured in round 2)
BASELINE_CHUNK_MB_S = "1200-2100"
KERNEL_BATCH = 2048  # the session's Arrow batch: what one UDF call sees


class Layers:
    """Job-group tagging and wall times of one traced session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}

    def run(self, group: str, thunk):
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            return thunk()
        finally:
            self.wall[group] = self.wall.get(group, 0.0) + time.perf_counter() - t0
            self.sc.setJobGroup("untagged", "untagged")


# ---------------------------------------------------------------- kernel

def kernel_micro(inputs) -> dict:
    """Single-core, in-process kernel throughput on the workload's docs,
    batched as the Arrow UDF sees them (no Spark)."""
    from fastcdc_rs_spark.kernel.batch import chunk_batch_columnar
    from fastcdc_rs_spark.kernel.signatures import signature_batch
    from fastcdc_rs_spark.pipeline import DedupConfig

    cfg = DedupConfig()
    chunker = cfg.chunker()
    bufs = [np.frombuffer(t.encode("utf-8"), dtype=np.uint8) for t in inputs.texts()]
    batches = [bufs[i:i + KERNEL_BATCH] for i in range(0, len(bufs), KERNEL_BATCH)]

    def chunk_all():
        return [chunk_batch_columnar(b, chunker) for b in batches]

    chunked = chunk_all()  # warm (page faults, .so load)
    unit_lists = [np.split(h, np.cumsum(c)[:-1]) for c, h, _, _ in chunked]

    def sig_all():
        for lists in unit_lists:
            signature_batch(lists, k=cfg.shingle_k, n_perms=cfg.n_perms,
                            bands=cfg.bands, rows=cfg.rows, seed=cfg.minhash_seed)

    def timed(fn, min_s=0.5):
        """Median pass time over passes filling at least ``min_s``."""
        out = []
        while len(out) < 3 or sum(out) < min_s:
            t0 = time.perf_counter()
            fn()
            out.append(time.perf_counter() - t0)
        return statistics.median(out)

    sig_all()
    chunk_s = timed(chunk_all)
    sig_s = timed(sig_all)
    units = sum(int(c.sum()) for c, _, _, _ in chunked)
    return {
        "chunk_s": chunk_s,
        "sig_s": sig_s,
        "kernel.chunk_mb_per_s": inputs.n_bytes / 1e6 / chunk_s,
        "kernel.sig_docs_per_s": inputs.n_docs / sig_s,
        "kernel.units_per_doc": units / inputs.n_docs,
    }


# ---------------------------------------------------------------- pipeline

def traced_layers(layers: Layers, docs):
    """The pipeline, layer by layer, each output materialized."""
    import pyspark.sql.functions as F

    from fastcdc_rs_spark.operators.components import connected_components
    from fastcdc_rs_spark.operators.lsh import candidate_pairs
    from fastcdc_rs_spark.operators.verify import verify_pairs
    from fastcdc_rs_spark.pipeline import DedupConfig

    cfg = DedupConfig()

    def signatures():
        s = workloads.signatures(docs).persist()
        s.count()
        return s

    signed = layers.run("minhash", signatures)
    bands_df = signed.select("doc_id", F.posexplode("bands").alias("band_id", "band_hash"))

    def lsh():
        p, m = candidate_pairs(bands_df, bucket_cap=cfg.bucket_cap)
        caches = p._graft_caches
        p = p.persist()
        return p, m, caches, p.count()

    pairs, bucket_metrics, lsh_caches, n_cand = layers.run("lsh", lsh)
    buckets = layers.run("lsh_metrics", lambda: bucket_metrics.first().asDict())

    def verify():  # near_dup_clusters' arguments
        v = verify_pairs(
            pairs, signed.select("doc_id", "shingles"), threshold=cfg.threshold,
            hub_degree_cap=cfg.verify_hub_cap,
            hub_pair_bcast_max=cfg.verify_hub_pair_bcast_max,
            hub_bids_bcast_max=cfg.verify_hub_bids_bcast_max,
        )
        caches = getattr(v, "_graft_caches", [])
        v = v.persist()
        return v, caches, v.count()

    verified, verify_caches, n_verified = layers.run("verify", verify)

    def cc():
        c = connected_components(verified, vertices=docs.select("doc_id"))
        return c.toPandas(), c._graft_cc_stats

    clusters, cc_stats = layers.run("cc", cc)
    vp = verified.select("a", "b").toPandas()
    for df in (verified, pairs, signed, *lsh_caches, *verify_caches):
        df.unpersist()
    return clusters, vp, {
        "lsh.max_bucket": int(buckets["max_bucket"] or 0),
        "lsh.capped_docs": int(buckets["capped_docs"] or 0),
        "lsh.candidate_pairs": n_cand,
        "verify.yield": n_verified / n_cand if n_cand else 0.0,
        "cc.edges": n_verified,
        "cc.rounds": int(cc_stats.get("cc_rounds", 0)),
    }


def checkpointed_job(spark, layers: Layers, inputs, work: str):
    """``run_dedup_job`` into a fresh root (every stage written, through the
    job's unfused two-UDF signature path), then the same call again, which
    resumes every stage from its checkpoint. Returns (MB written, clusters,
    verified pairs, whether every stage resumed)."""
    from jobs.dedup_job import run_dedup_job

    from fastcdc_rs_spark.pipeline import DedupConfig

    out = os.path.join(work, "jobs", "traced")
    shutil.rmtree(out, ignore_errors=True)
    layers.run("checkpoint", lambda: run_dedup_job(spark, inputs.docs_path, out, DedupConfig()))
    written = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(out, "stages", "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    summary = layers.run(
        "checkpoint_resume",
        lambda: run_dedup_job(spark, inputs.docs_path, out, DedupConfig()),
    )
    resumed = all(e["action"] == "resumed" for e in summary["stages"])
    stages = os.path.join(out, "stages")
    cl = pq.read_table(os.path.join(stages, "clusters", "data")).to_pandas()
    vp = pq.read_table(os.path.join(stages, "verified", "data"), columns=["a", "b"]).to_pandas()
    shutil.rmtree(out, ignore_errors=True)
    return written / 1e6, cl, vp, resumed


# ---------------------------------------------------------------- event log

def group_stats(event_dir: str) -> dict[str, dict]:
    """Per job group: jobs, shuffle bytes written, disk spill, and task skew
    (max / median task time of the group's busiest stage)."""
    (path,) = [p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
               if os.path.isfile(p)]
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[int, list[float]] = {}
    shuffle: dict[str, int] = {}
    spill: dict[str, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "untagged")
                jobs[g] = jobs.get(g, 0) + 1
                for s in ev["Stage IDs"]:
                    stage_group[s] = g
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sid = ev["Stage ID"]
                g = stage_group.get(sid, "untagged")
                tasks.setdefault(sid, []).append(info["Finish Time"] - info["Launch Time"])
                w = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                shuffle[g] = shuffle.get(g, 0) + w
                spill[g] = spill.get(g, 0) + m.get("Disk Bytes Spilled", 0)
    out = {}
    for g in jobs:
        stages = [s for s, sg in stage_group.items() if sg == g and tasks.get(s)]
        skew = 1.0
        if stages:
            busiest = max(stages, key=lambda s: sum(tasks[s]))
            med = statistics.median(tasks[busiest])
            skew = max(tasks[busiest]) / med if med > 0 else 1.0
        out[g] = {
            "jobs": jobs[g],
            "shuffle_mb": shuffle.get(g, 0) / 1e6,
            "spill_mb": spill.get(g, 0) / 1e6,
            "task_skew": skew,
        }
    return out


# ---------------------------------------------------------------- the run

def traced_run(args, inputs, tmp: str, tally, run) -> dict:
    """Untraced reps for the overhead base, then the traced session."""
    # untraced: the reps as the end-to-end run times them
    spark, docs, _ = run.setup(inputs, tmp, tally)
    probe_before = host.host_probe(spark, run.CORES)
    untraced = [run.run_rep(docs, inputs, tally, f"untraced rep {i}")[0]
                for i in range(UNTRACED_REPS)]
    docs.unpersist()
    spark.stop()
    run.log("untraced reps:", [round(w, 3) for w in untraced])

    kernel = kernel_micro(inputs)
    run.log("kernel:", {k: round(v, 3) for k, v in kernel.items()},
            f"(BASELINE.md chunk-scan band: {BASELINE_CHUNK_MB_S} MB/s/core)")

    event_dir = os.path.join(run.WORK, "events", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(event_dir, ignore_errors=True)
    leaf_dir = load_leaf_tables(run.ROOT, run.WORK, args.seed)
    spark, docs, _ = run.setup(inputs, tmp, tally, event_dir, warm_reps=0)
    workloads.warm(docs)  # Python workers up before the first traced layer
    layers = Layers(spark)
    clusters, vp, counts = traced_layers(layers, docs)
    tally.record("traced layers", workloads.check(inputs, clusters, vp))
    docs.unpersist()

    written_mb, job_cl, job_vp, resumed = checkpointed_job(spark, layers, inputs, run.WORK)
    tally.record("checkpointed job", workloads.check(inputs, job_cl, job_vp))
    tally.record("job resume", [] if resumed else ["a stage recomputed"])

    leaf_walls = leaves.run_leaves(spark, layers, leaf_dir, tally, run.log)
    probe_after = host.host_probe(spark, run.CORES)
    run.log(f"host.probe_s before/after: {probe_before:.3f} / {probe_after:.3f}")
    spark.stop()
    groups = group_stats(event_dir)
    shutil.rmtree(event_dir, ignore_errors=True)

    def g(name, key):
        return groups.get(name, {}).get(key, 0)

    wall = layers.wall
    traced_wall = sum(wall[k] for k in ("minhash", "lsh", "verify", "cc"))
    m = {
        "kernel.chunk_mb_per_s": (kernel["kernel.chunk_mb_per_s"], "MB/s"),
        "kernel.sig_docs_per_s": (kernel["kernel.sig_docs_per_s"], "docs/s"),
        "kernel.units_per_doc": (kernel["kernel.units_per_doc"], "count"),
        "minhash.stage_s": (wall["minhash"], "s"),
        "minhash.boundary_s": (
            wall["minhash"] * run.CORES - kernel["chunk_s"] - kernel["sig_s"], "s"),
        "minhash.task_skew": (g("minhash", "task_skew"), "ratio"),
        "lsh.stage_s": (wall["lsh"], "s"),
        "lsh.shuffle_mb": (g("lsh", "shuffle_mb"), "MB"),
        "lsh.spill_mb": (g("lsh", "spill_mb"), "MB"),
        "lsh.task_skew": (g("lsh", "task_skew"), "ratio"),
        "lsh.jobs": (g("lsh", "jobs"), "count"),
        "lsh.max_bucket": (counts["lsh.max_bucket"], "count"),
        "lsh.capped_docs": (counts["lsh.capped_docs"], "count"),
        "lsh.candidate_pairs": (counts["lsh.candidate_pairs"], "count"),
        "verify.stage_s": (wall["verify"], "s"),
        "verify.shuffle_mb": (g("verify", "shuffle_mb"), "MB"),
        "verify.task_skew": (g("verify", "task_skew"), "ratio"),
        "verify.jobs": (g("verify", "jobs"), "count"),
        "verify.yield": (counts["verify.yield"], "share"),
        "cc.stage_s": (wall["cc"], "s"),
        "cc.jobs": (g("cc", "jobs"), "count"),
        "cc.edges": (counts["cc.edges"], "count"),
        "cc.rounds": (counts["cc.rounds"], "count"),
        "checkpoint.write_s": (wall["checkpoint"], "s"),
        "checkpoint.written_mb": (written_mb, "MB"),
        "checkpoint.resume_s": (wall["checkpoint_resume"], "s"),
    }
    for name, w in leaf_walls.items():
        m[f"query.{name}_s"] = (w, "s")
    m["host.probe_s"] = (statistics.median([probe_before, probe_after]), "s")
    m["trace.overhead"] = (traced_wall / statistics.median(untraced), "ratio")
    return m
