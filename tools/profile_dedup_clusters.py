"""Stage-level wall-clock breakdown of ``dedup_clusters``
(VERDICT r5 item 5 / r6 item 7): where do its ~6 s at sf0.1 actually
go — LSH pair generation, the exact-group contraction, the CC rounds,
or fixed per-round overhead?

    python tools/profile_dedup_clusters.py [sf_dir]

Prints one JSON object with per-stage seconds and per-CC-round
seconds.  Each stage calls the SAME factored helper the registered
query uses (``_exact_rep_frame`` / ``_contracted_edges`` /
``connected_components`` / ``_expand_labels`` — see
``operators/dedup._doc_cluster_labels``), so the profiler cannot
drift from the production pipeline; it only inserts materialization
boundaries between the shared stages to time them.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

import pyspark.sql.functions as F
from pyspark.sql import Window

from ml_feature_store_enterprise_grade_spark.operators import dedup as D
from ml_feature_store_enterprise_grade_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("profile_dedup_clusters")
    out: dict = {"sf_dir": sf_dir}

    t0 = time.perf_counter()
    rep = D._exact_rep_frame(spark, sf_dir)
    out["n_docs"] = rep.count()
    out["t_rep_window"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    edges = D._contracted_edges(spark, sf_dir, rep).localCheckpoint()
    out["n_contracted_edges"] = edges.count()
    out["t_lsh_pairs_and_edge_remap"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    vertices = rep.select(F.col("rep").alias("doc_id")).distinct()
    out["n_contracted_vertices"] = vertices.count()
    out["t_vertices_distinct"] = round(time.perf_counter() - t0, 3)

    round_times: list = []
    t0 = time.perf_counter()
    rep_labels = D.connected_components(
        vertices, edges, round_times=round_times
    ).withColumnRenamed("doc_id", "rep")
    out["n_labeled"] = rep_labels.count()
    out["t_cc_total"] = round(time.perf_counter() - t0, 3)
    out["cc_round_times"] = round_times

    t0 = time.perf_counter()
    labels = D._expand_labels(rep, rep_labels)
    clusters = labels.withColumnRenamed("label", "cluster_id")
    w = Window.partitionBy("cluster_id")
    final = clusters.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )
    final.write.format("noop").mode("overwrite").save()
    out["t_expand_and_size_window"] = round(time.perf_counter() - t0, 3)

    out["t_total"] = round(
        out["t_rep_window"]
        + out["t_lsh_pairs_and_edge_remap"]
        + out["t_vertices_distinct"]
        + out["t_cc_total"]
        + out["t_expand_and_size_window"],
        3,
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
