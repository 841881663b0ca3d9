#!/usr/bin/env python
"""Core-count scaling probe on a replicated dataset (round-10 verdict
item #2): at sf0.1 the suite measures fixed per-query machinery — the
driver's own 8-core run BEAT its 32-core run — so local bench deltas
cannot evidence that the operators parallelize. This probe builds a
key-shifted N× replica of the sf0.1 dataset (same layout, same schema),
then times REGISTRY queries against it at whatever core count
$SPARK_GRAFT_CPUS says; running it twice (8 vs 32) yields the core-
scaling ratio per query on data big enough for compute to dominate.

Replication is deterministic (no RNG): copy i shifts every key column by
i*10^9 (disjoint key spaces — joins/groups scale with data), and
documents.text gets a per-copy token suffix ("word" → "word~i", copy 0
untouched) so cross-copy shingle/band collisions do not quadratically
explode the dedup families — each copy is its own near-dup universe,
which is what a genuinely larger corpus looks like. nation/region stay
1× (dimensions).

Usage:
    python tools/scale_core_probe.py --build 10 --out /tmp/crane_sfx10
    SPARK_GRAFT_SF_DIR=/tmp/crane_sfx10 SPARK_GRAFT_CPUS=8 \
        python tools/scale_core_probe.py --runs 2 [--json-out f.json] [q ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crane_stream_processing_spark.catalog import load_table  # noqa: E402
from crane_stream_processing_spark.session import get_spark  # noqa: E402
from scale_probe import replicate  # noqa: E402

# Key columns to shift per table; documents.text additionally perturbed.
SHIFTS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
    "documents": ["doc_id"],
}
COPY_ONLY = ["nation", "region"]

# Default probe set: the compute-bound families the 100 TB story rests
# on (dedup minhash/winnow/semantic, sim Gram/PCA/ANN, mm decode+band,
# text LM, graph joins) plus named machinery-bound exemplars
# (recursive CTE — ~24 inherently sequential engine-driven steps;
# stream_curate_pipeline — micro-batch lifecycle; q1 — one scan).
DEFAULT_QUERIES = [
    "dedup_minhash_lsh_jaccard",
    "dedup_minhash_calibration",
    "dedup_substring_window_pairs",
    "dedup_semantic_prune",
    "dedup_cluster_canonical",
    "sim_embedding_covariance",
    "sim_pca_power_topdir",
    "sim_cosine_topk",
    "sim_ivfpq_topk",
    "sim_ivf_kmeans_topk",
    "mm_ahash_hamming_near_pairs",
    "mm_png_ahash",
    "text_bigram_lm_logprob",
    "graph_triangle_count_brand",
    "graph_pagerank_nation",
    "sql_recursive_order_chain",
    "stream_curate_pipeline",
    "q1_pricing_summary",
]


def build(n: int, out_dir: str, src: str) -> None:
    spark = get_spark("scale_core_build")
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in SHIFTS.items():
        df = replicate(
            load_table(spark, src, name), n, cols,
            perturb_text=(name == "documents"),
        )
        # events.ts arrives normalized TIMESTAMP_LTZ; write micros so the
        # replica reads back with the same catalog contract as any
        # generated dataset (load_table handles either stored type).
        df.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
        print(f"built {name} x{n}", flush=True)
    for name in COPY_ONLY:
        load_table(spark, src, name).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
        print(f"copied {name}", flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--build", type=int, default=0)
    ap.add_argument("--out", default="/tmp/crane_sfx10")
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    if args.build:
        build(args.build, args.out, args.src)
        return

    from bench import force, warm_up
    from crane_stream_processing_spark.inventory import (
        REGISTRY,
        fixture_seconds,
        release_query_caches,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", args.out)
    names = args.queries or DEFAULT_QUERIES
    spark = get_spark("scale_core_probe")

    warm_up(spark, sf_dir)

    out: dict[str, float] = {}
    for name in names:
        best = None
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"scale_core:{name}")
            f0 = fixture_seconds()
            t0 = time.perf_counter()
            force(REGISTRY[name].fn(spark, sf_dir))
            wall = time.perf_counter() - t0
            op = max(wall - (fixture_seconds() - f0), 0.0)
            best = op if best is None else min(best, op)
            release_query_caches(spark)
        spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 4)
        print(f"{best:8.3f}  {name}", flush=True)

    result = {
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "sf_dir": sf_dir,
        "total": round(sum(out.values()), 3),
        "queries": out,
    }
    print(json.dumps(result))
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(result, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
