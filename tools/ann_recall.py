"""ANN recall audit (VERDICT r5 #8): measured recall@k for every
approximate similarity-search variant against the exact brute-force top-k.

An ANN op without a recall number is an unverified approximation; this
tool reuses sim_search_recall_report's join shape (similarity.py:718,
oracle-green) and extends it to every registered variant. Output is the
markdown table published in COVERAGE.md.

- cosine-metric variants (ivf, lsh, lsh_multiprobe, ivfpq) are scored
  against sim_search_topk (exact cosine top-k);
- sim_search_mips is scored against the exact inner-product top-k built
  inline here with the same k and tie-break (inner_product DESC, cand_id).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from repcheck_data_integration_spark import registry
from repcheck_data_integration_spark.operators.topk import top_k
from repcheck_data_integration_spark.session import get_spark
from repcheck_data_integration_spark.tables import load

VARIANTS = [
    "sim_search_ivf",
    "sim_search_lsh",
    "sim_search_lsh_multiprobe",
    "sim_search_ivfpq",
    "sim_search_mips",
]


def exact_mips_topk(spark, sf_dir: str, k: int, n_queries: int):
    """Brute-force inner-product top-k with sim_search_mips' query slice
    (first n_queries vec_ids as queries, full table as candidates)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    ip = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.aggregate(
                F.zip_with("qv", "cv", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("ip"),
        )
    )
    return top_k(ip, ["query_id"], [F.col("ip").desc(), F.col("cand_id")], k=k)


def recall_rows(spark, sf_dir: str) -> list[dict]:
    registry.load_all_modules()
    exact_cos = (
        registry.QUERIES["sim_search_topk"](spark, sf_dir)
        .select("query_id", "cand_id")
        .cache()
    )
    k = (
        exact_cos.groupBy("query_id").count().agg(F.max("count")).collect()[0][0]
    )
    n_queries = exact_cos.select("query_id").distinct().count()
    exact_ip = exact_mips_topk(spark, sf_dir, k, n_queries).select(
        "query_id", "cand_id"
    )

    rows = []
    for name in VARIANTS:
        truth = exact_ip if name == "sim_search_mips" else exact_cos
        ap = (
            registry.QUERIES[name](spark, sf_dir)
            .select("query_id", "cand_id")
            .withColumn("__hit", F.lit(1))
        )
        r = (
            truth.join(ap, ["query_id", "cand_id"], "left")
            .groupBy("query_id")
            .agg(
                (F.count("__hit") * 1.0 / F.count(F.lit(1))).alias("recall")
            )
            .agg(
                F.round(F.avg("recall"), 4).alias("mean"),
                F.round(F.min("recall"), 4).alias("min"),
                F.round(
                    F.avg((F.col("recall") == 1.0).cast("double")), 4
                ).alias("frac_perfect"),
            )
            .collect()[0]
        )
        rows.append(
            {
                "variant": name,
                "k": k,
                "n_queries": n_queries,
                "mean_recall": r["mean"],
                "min_recall": r["min"],
                "frac_perfect": r["frac_perfect"],
            }
        )
    return rows


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("ann-recall")
    rows = recall_rows(spark, sf_dir)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(f"| variant | ground truth | recall@k (mean) | min | %queries@1.0 | sf |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        truth = "exact IP top-k" if r["variant"] == "sim_search_mips" else "exact cosine top-k"
        print(
            f"| {r['variant']} | {truth} (k={r['k']}, {r['n_queries']} queries)"
            f" | {r['mean_recall']} | {r['min_recall']} | {r['frac_perfect']} | {sf} |"
        )
    spark.stop()
