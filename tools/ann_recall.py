"""ANN recall harness: quantify LSH / IVF quality against exact brute
force — recall@k over a probe set, plus candidate-scan fractions for
IVF (the sublinearity evidence).

Two sections:
- fixture: IVF over the sf embeddings table (dim 64).  NOTE the fixture
  vectors are pure random noise (max pairwise cosine ~0.46, no cluster
  structure), so approximate recall on them is a FLOOR, not a ceiling.
- dim-1024 synthetic: seeded clustered Gaussians (the geometry real
  text-embedding corpora actually have, and the regime the reference's
  HNSW m=64/ef=500 index serves, /root/reference/app/main.py:272-277).
  Grids: LSH numHashTables x bucketLength; IVF nprobe.

Usage: python tools/ann_recall.py [sf_dir] [n_probes] [k]
Prints one JSON line per section plus a markdown table for SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from semantic_query_engine_spark.operators.ann import (  # noqa: E402
    build_ivf,
    ivf_knn_join,
)
from semantic_query_engine_spark.operators.retrieval import knn_join  # noqa: E402
from semantic_query_engine_spark.session import get_spark  # noqa: E402
from semantic_query_engine_spark.sources.fixtures import load_table  # noqa: E402


def clustered_vectors(spark, n: int, dim: int, n_centers: int, sigma: float, seed: int):
    """Seeded clustered Gaussian vectors, L2-normalized — deterministic
    synthetic stand-in for an embedding corpus (unit sphere, cluster
    structure).  Returns a DataFrame (vec_id long, embedding array<double>)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_centers, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.integers(0, n_centers, size=n)
    # noise scaled by 1/sqrt(dim) so its NORM is ~sigma at any width —
    # per-component sigma would give noise norm sigma*sqrt(dim), which at
    # dim 1024 (~11x the unit center) erases the cluster structure the
    # fixture exists to model
    pts = centers[assign] + (sigma / np.sqrt(dim)) * rng.normal(size=(n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def topk_sets(df, k: int, probe_col="probe_id", id_col="vec_id") -> dict[int, set]:
    sets: dict[int, set] = {}
    for r in df.collect():
        sets.setdefault(r[probe_col], set()).add(r[id_col])
    return sets


def recall(exact: dict[int, set], approx: dict[int, set]) -> float:
    vals = [
        len(exact[p] & approx.get(p, set())) / len(exact[p]) for p in exact
    ]
    return round(sum(vals) / len(vals), 4)


def lsh_knn_join(probes, index, k: int, num_tables: int, bucket_length: float):
    """Batch LSH kNN: approxSimilarityJoin on normalized vectors (bucket
    equality candidates), then exact-cosine rank per probe.  The batch
    twin of operators/ann.py:lsh_topk."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    from semantic_query_engine_spark.functions.vectors import l2_normalize

    def featurize(df, id_name):
        return df.select(
            F.col("vec_id").alias(id_name),
            array_to_vector(
                l2_normalize("embedding").cast("array<double>")
            ).alias("features"),
        )

    fi = featurize(index, "vec_id")
    fp = featurize(probes, "probe_id")
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=42,
    ).fit(fi)
    # threshold 2.0 = the unit-sphere diameter: candidate generation is
    # therefore ONLY bucket collisions, no distance pre-filter help
    pairs = model.approxSimilarityJoin(fp, fi, 2.0, distCol="dist").select(
        F.col("datasetA.probe_id").alias("probe_id"),
        F.col("datasetB.vec_id").alias("vec_id"),
        "dist",
    ).localCheckpoint()
    n_candidates = pairs.count()
    w = Window.partitionBy("probe_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    topk = (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select("probe_id", "vec_id")
    )
    return topk, n_candidates


def eval_dim1024(spark, out: list[dict], table_lines: list[str]) -> None:
    """Recall/cost grid at the reference's embedding width, across three
    cluster-noise regimes (noise NORM = sigma vs unit centers):
    - 0.35: tight clusters — real text-embedding geometry
    - 1.00: overlapping clusters — hard but structured
    - 2.00: noise-dominated — adversarial floor (no index can win)
    For LSH the cost column is the measured candidate-pair fraction
    (candidates / n_probes*n_index) — recall without that number is
    meaningless, since threshold-2.0 bucket collisions can approach a
    full scan.  For IVF it is nprobe/n_clusters (exact by construction:
    partition pruning)."""
    n, dim, n_centers = 2000, 1024, 20
    n_probe_rows, ks = 20, (3, 10)
    for sigma in (0.35, 1.0, 2.0):
        allv = clustered_vectors(
            spark, n + n_probe_rows, dim, n_centers, sigma, seed=7
        )
        probes = allv.filter(F.col("vec_id") < n_probe_rows).select(
            F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
        )
        index = allv.filter(F.col("vec_id") >= n_probe_rows).localCheckpoint()

        exact = {k: topk_sets(knn_join(probes, index, k=k), k) for k in ks}

        # --- LSH grid ---
        for num_tables in (3, 10):
            for bucket_length in (0.5, 2.0):
                rec, n_cand = {}, 0
                for k in ks:
                    approx_df, n_cand = lsh_knn_join(
                        probes.select(
                            F.col("probe_id").alias("vec_id"),
                            F.col("probe_vec").alias("embedding"),
                        ),
                        index,
                        k,
                        num_tables,
                        bucket_length,
                    )
                    rec[k] = recall(exact[k], topk_sets(approx_df, k))
                cand_frac = round(n_cand / (n_probe_rows * n), 4)
                row = {
                    "method": "lsh",
                    "dim": dim,
                    "sigma": sigma,
                    "numHashTables": num_tables,
                    "bucketLength": bucket_length,
                    "recall_at_3": rec[3],
                    "recall_at_10": rec[10],
                    "candidate_fraction": cand_frac,
                }
                out.append(row)
                table_lines.append(
                    f"| {sigma} | LSH | tables={num_tables}, bucketLen={bucket_length} "
                    f"| {rec[3]:.3f} | {rec[10]:.3f} | {100*cand_frac:.1f}% of index scanned |"
                )

        # --- IVF grid ---
        n_clusters = 20
        assigned, centroids = build_ivf(index, n_clusters=n_clusters)
        assigned = assigned.localCheckpoint()
        for nprobe in (1, 2, 4):
            rec = {}
            for k in ks:
                approx = topk_sets(
                    ivf_knn_join(probes, assigned, centroids, k=k, nprobe=nprobe), k
                )
                rec[k] = recall(exact[k], approx)
            row = {
                "method": "ivf",
                "dim": dim,
                "sigma": sigma,
                "n_clusters": n_clusters,
                "nprobe": nprobe,
                "recall_at_3": rec[3],
                "recall_at_10": rec[10],
                "scan_fraction": round(nprobe / n_clusters, 4),
            }
            out.append(row)
            table_lines.append(
                f"| {sigma} | IVF | clusters={n_clusters}, nprobe={nprobe} "
                f"| {rec[3]:.3f} | {rec[10]:.3f} | {100*nprobe/n_clusters:.0f}% of index scanned |"
            )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_probes = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    spark = get_spark("ann-recall")

    # --- fixture section (dim 64, random noise: recall FLOOR) ---
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    index = emb.filter(F.col("vec_id") >= n_probes)
    n_index = index.count()
    exact_sets = topk_sets(knn_join(probes, index, k=k), k)

    n_clusters = 16
    assigned, centroids = build_ivf(index, n_clusters=n_clusters)
    fixture_out: dict[str, object] = {
        "section": "fixture_noise",
        "sf_dir": sf_dir,
        "n_index": n_index,
        "n_probes": n_probes,
        "k": k,
        "n_clusters": n_clusters,
    }
    for nprobe in (2, 4, 8):
        approx_sets = topk_sets(
            ivf_knn_join(probes, assigned, centroids, k=k, nprobe=nprobe), k
        )
        fixture_out[f"ivf_recall_at_{k}_nprobe{nprobe}"] = recall(
            exact_sets, approx_sets
        )
        fixture_out[f"ivf_scan_fraction_nprobe{nprobe}"] = round(
            nprobe / n_clusters, 4
        )
    print(json.dumps(fixture_out))

    # --- dim-1024 clustered section ---
    rows: list[dict] = []
    table_lines: list[str] = [
        "| noise sigma | Method | Params | recall@3 | recall@10 | Cost (measured) |",
        "|---|---|---|---|---|---|",
    ]
    eval_dim1024(spark, rows, table_lines)
    print(json.dumps({"section": "dim1024_clustered", "rows": rows}))
    print("\n".join(table_lines))


if __name__ == "__main__":
    main()
