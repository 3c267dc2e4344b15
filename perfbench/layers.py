"""Standalone layer timings for the traced run.

Each shared builder runs alone over the sf0.1 corpus to a noop sink, so
a regression in one builder shows up against that builder and not only
against the dozens of registry queries that share it.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

import gen
from chronobase_spark import catalog
from chronobase_spark.dedup import cdc, cluster, minhash
from chronobase_spark.functions import multimodal, similarity, text

LAYER_SF = 0.1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, fn, clear: bool = True) -> float:
    """Wall time of one call of ``fn``, by default with the cache cleared
    first. The traced run times builders after its workload, on a warm
    session; one call each keeps the run inside its time limit."""
    if clear:
        spark.catalog.clearCache()
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def measure(spark, rec, run_dir: str) -> dict:
    sf_dir = gen.write_corpus(f"{run_dir}/layer_corpus", LAYER_SF)
    docs = catalog.table(spark, sf_dir, "documents")
    emb = catalog.table(spark, sf_dir, "embeddings")
    m: dict[str, float] = {}

    def scan_all():
        for t in catalog.TABLES:
            _noop(catalog.table(spark, sf_dir, t))

    spark.sparkContext.setJobGroup("layer-catalog", "catalog scans")
    m["catalog.scan_s"] = _timed(spark, scan_all)
    tasks = 0
    for j in rec.group_jobs("layer-catalog"):
        info = spark.sparkContext.statusTracker().getJobInfo(j)
        for s in info.stageIds if info else ():
            st = spark.sparkContext.statusTracker().getStageInfo(s)
            tasks += st.numTasks if st else 0
    m["catalog.scan_tasks"] = tasks

    spark.sparkContext.setJobGroup("layer-builders", "builder timings")
    builders = {
        "functions.tokens_s": lambda: _noop(docs.select(text.tokens(F.col("text")).alias("t"))),
        "functions.token_features_s": lambda: _noop(
            docs.select(text.token_features(F.col("text")).alias("f"))),
        "functions.arrow_udf_s": lambda: _noop(
            multimodal.decode_stub(multimodal.to_payload(docs))),
        "functions.topk_cosine_s": lambda: _noop(
            similarity.topk_cosine(emb.filter(F.col("vec_id") < 32), emb, 10)),
        "dedup.shingles_s": lambda: _noop(minhash.shingle_table(docs)),
        "dedup.md5_bands_s": lambda: _noop(minhash.md5_band_table(docs)),
        "dedup.minhash_sig_s": lambda: _noop(minhash.minhash_signature(docs)),
        "dedup.band_join_s": lambda: _noop(minhash.minhash_md5_pairs(docs)),
        "dedup.cdc_bounds_s": lambda: _noop(cdc.with_chunk_bounds(docs)),
    }
    for name, fn in builders.items():
        with rec.layer(name[:-2]):
            m[name] = _timed(spark, fn)

    sig = minhash.minhash_signature(docs).persist()
    cands = minhash.lsh_candidates(sig).count()
    verified = minhash.minhash_dedup_pairs(docs).count()
    sig.unpersist()
    m["dedup.lsh_candidates"] = cands
    m["dedup.lsh_verified_ratio"] = verified / max(cands, 1)

    edges = minhash.minhash_md5_pairs(docs).select("doc_a", "doc_b").persist()
    edges.count()
    spark.sparkContext.setJobGroup("layer-components", "connected components")
    with rec.layer("dedup.components"):
        m["dedup.components_s"] = _timed(
            spark, lambda: _noop(cluster.connected_components_star(edges)), clear=False)
    m["dedup.components_jobs"] = len(rec.group_jobs("layer-components"))
    edges.unpersist()
    return m
