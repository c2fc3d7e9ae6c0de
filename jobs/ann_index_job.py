"""spark-submit entry: checkpointed, resumable IVFADC ANN index build +
batch probe over an embeddings table — the billion-vector similarity-search
chain as committed table artifacts.

    tools/package.sh
    spark-submit --py-files dist/tilematrix_spark.zip \
        jobs/ann_index_job.py \
        --input /root/testdata/sf0.01/embeddings.parquet \
        --output /tmp/ann_index [--n-centroids 16 --nprobe 2 --topk 3]

Stages (each committed atomically with row-count/latency lineage; rerunning
resumes at the first uncommitted stage — a crashed index build never
recomputes or re-encodes committed work):
  1. centroids — deterministic INTEGER coarse quantizer: the quantized
                 (floor(v*1000+0.5)) vectors of the first --n-centroids
                 ids, persisted as ``cell int, centroid array<long>`` rows
                 so every later stage — and every later probe or append
                 job — reads the SAME quantizer
  2. codebooks — residual PQ codebooks (id-derived, integer-exact)
  3. index     — one row per corpus vector: (vec_id, _cell, codes) with
                 codes = PQ code of the residual vs its cell centroid —
                 m-byte codes instead of raw vectors (the 32x compression
                 pass); at cluster scale this is the only full-corpus job,
                 and it is a single narrow projection + one Arrow kernel
  4. topk      — batch probe of the COMMITTED index for the first
                 --n-queries ids: nprobe cells per query, per-(query, cell)
                 residual ADC ranking

Prints one JSON line of per-stage metrics.

New vectors are appended incrementally — Θ(|batch|), frozen quantizers,
exactly-once replay — by jobs/ann_update_job.py against this job's output.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tilematrix_spark.functions import similarity as sim
from tilematrix_spark.io import StageJob


def run(spark: SparkSession, args) -> dict:
    """Build (or resume) the IVFADC index pipeline (Jégou et al. 2011 §IV);
    importable for in-process tests — ``args`` is any namespace with the
    CLI fields."""
    emb = spark.read.parquet(args.input)

    def build_centroids(s, read_stage):
        cq = sim.det_coarse_centroids(
            emb, args.n_centroids, id_col=args.id_col, vec_col=args.vec_col
        )
        rows = [(i, [int(x) for x in cq[i]]) for i in range(len(cq))]
        return s.createDataFrame(rows, "cell int, centroid array<long>")

    def build_codebooks(s, read_stage):
        books = sim.pq_residual_codebooks(
            emb, sim.int_centroids_from_rows(read_stage("centroids")),
            m=args.m, k=args.k, id_col=args.id_col, vec_col=args.vec_col,
        )
        rows = [
            (j, c, [int(x) for x in books[j][c]])
            for j in range(args.m)
            for c in range(args.k)
        ]
        return s.createDataFrame(rows, "j int, c int, cent array<long>")

    def build_index(s, read_stage):
        books = sim.codebooks_from_rows(read_stage("codebooks"))
        cq = sim.int_centroids_from_rows(read_stage("centroids"))
        slim = emb.select(F.col(args.id_col), F.col(args.vec_col).alias("_cv"))
        return sim.with_ivf_pq_residual(slim, books, cq, "_cv")

    def build_topk(s, read_stage):
        books = sim.codebooks_from_rows(read_stage("codebooks"))
        cq = sim.int_centroids_from_rows(read_stage("centroids"))
        queries = emb.filter(F.col(args.id_col) < args.n_queries).select(
            F.col(args.id_col).alias("qid"), F.col(args.vec_col)
        )
        return sim.ivf_pq_residual_probe(
            queries, read_stage("index"), books, cq,
            k=args.topk, nprobe=args.nprobe,
            query_id="qid", corpus_id=args.id_col, q_vec=args.vec_col,
        )

    job = StageJob(
        spark,
        args.output,
        [
            ("centroids", build_centroids),
            ("codebooks", build_codebooks),
            # partitioned by cell: probe jobs read only matching partitions
            ("index", build_index, ["_cell"]),
            ("topk", build_topk),
        ],
        config={
            "m": args.m, "k": args.k,
            "n_centroids": args.n_centroids, "nprobe": args.nprobe,
        },
    )
    executed = job.run()
    return {"executed": executed, "metrics": job.metrics()}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--m", type=int, default=8)
    p.add_argument("--k", type=int, default=16)
    p.add_argument("--n-centroids", type=int, default=16)
    p.add_argument("--nprobe", type=int, default=2)
    p.add_argument("--topk", type=int, default=3)
    p.add_argument("--n-queries", type=int, default=32)
    args = p.parse_args()

    spark = SparkSession.builder.appName("tmx_ann_index_job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    print(json.dumps(run(spark, args), sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
