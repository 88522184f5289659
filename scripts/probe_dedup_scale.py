"""Dedup-chain scale probe (round-3 VERDICT #7): synthesize a 10×-sf0.1
documents table (50k docs ≈ sf1) with planted near-dup structure, run the
PRODUCTION dedup chain — minhash sketch → banded-LSH bucket_pairs →
connected components — and record wall time + total shuffle read/write
bytes per stage, proving the round-3 bucket_pairs restructure holds
another decade of scale.

Usage: PYTHONPATH=/root/repo python scripts/probe_dedup_scale.py [n_docs]
Prints one JSON line; numbers land in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VOCAB = ("spark line column order small sort fast value scan hash slow group "
         "batch part query agg table stream filter customer key window join "
         "vector the a data row index merge shard block cache disk net cpu "
         "plan code gen read write push prune skew salt probe build").split()


def synth_docs(spark, n_docs: int):
    """Deterministic word-salad corpus, sf-testdata-shaped: ~40-token
    docs over a small vocabulary. Every third 5-doc group is a
    template-farm cluster — its 5 members share one seed and each
    member mutates ONE distinct token position — so the LSH chain sees
    real structure (shared-band buckets, 10 pairs per cluster,
    5-member components, ~33% near-dup mass); the rest are unique."""
    from pyspark.sql import functions as F

    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    vocab_sql = "array({})".format(
        ", ".join(f"'{w}'" for w in VOCAB))
    # token t of doc d = vocab[xxhash64(seed, t) % |V|]; clustered docs
    # share seed = group start and swap position 5 + (d%5)
    expr = f"""
    array_join(
      transform(sequence(0, 39), t ->
        CASE WHEN (doc_id DIV 5) % 3 = 0 AND t = 5 + CAST(doc_id % 5 AS INT)
             THEN concat('mut', CAST(doc_id % 5 AS STRING))
             ELSE element_at({vocab_sql},
                  CAST(pmod(xxhash64(CAST(
                    CASE WHEN (doc_id DIV 5) % 3 = 0
                         THEN doc_id - (doc_id % 5) ELSE doc_id END AS STRING),
                    CAST(t AS STRING)), {len(VOCAB)}) AS INT) + 1)
        END), ' ')
    """
    return base.selectExpr("doc_id", f"{expr} AS text")


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def shuffle_totals(ui: str) -> tuple[int, int]:
    app = _rest(f"{ui}/api/v1/applications")[0]["id"]
    stages = _rest(f"{ui}/api/v1/applications/{app}/stages?status=complete")
    rd = sum(s.get("shuffleReadBytes", 0) for s in stages)
    wr = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    return rd, wr


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    from ycrawl_spark import graph, textops
    from ycrawl_spark.session import get_spark

    spark = get_spark(app_name="probe_dedup_scale",
                      extra_conf={"spark.ui.enabled": "true"})
    ui = "http://localhost:4040"
    try:
        docs = synth_docs(spark, n_docs)
        docs.write.mode("overwrite").parquet("/tmp/probe_docs")
        docs = spark.read.parquet("/tmp/probe_docs")

        rd0, wr0 = shuffle_totals(ui)
        t0 = time.time()
        pairs = textops.minhash_lsh_candidates(
            docs, n_perm=16, bands=4, k=4, bucket_cap=10_000)
        pairs = pairs.localCheckpoint(eager=True)
        n_pairs = pairs.count()
        t_pairs = round(time.time() - t0, 2)
        rd1, wr1 = shuffle_totals(ui)

        t1 = time.time()
        comp = graph.connected_components(
            pairs.selectExpr("doc_a AS src", "doc_b AS dst"))
        n_nodes = comp.count()
        n_comp = comp.select("component").distinct().count()
        t_cc = round(time.time() - t1, 2)
        rd2, wr2 = shuffle_totals(ui)

        print(json.dumps({
            "n_docs": n_docs,
            "lsh_pairs": {"n_pairs": n_pairs, "sec": t_pairs,
                          "shuffle_read_mb": round((rd1 - rd0) / 2**20, 1),
                          "shuffle_write_mb": round((wr1 - wr0) / 2**20, 1)},
            "connected_components": {
                "n_nodes": n_nodes, "n_components": n_comp, "sec": t_cc,
                "shuffle_read_mb": round((rd2 - rd1) / 2**20, 1),
                "shuffle_write_mb": round((wr2 - wr1) / 2**20, 1)},
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
