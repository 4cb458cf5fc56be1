"""Deterministic matric-style "population" over the `embeddings` table.

matric's population is a wide table of metadata + feature columns
(R/utils.R:32-39). Here: `embedding` (64-dim array) is the feature block,
and the metadata columns are derived deterministically from the keys so
Spark and the DuckDB oracle see identical inputs:

- label            : replicate key (≙ Metadata_pert_name)
- gene = label%5   : coarser group key (≙ Metadata_gene_name) — each
                     gene has two non-reference labels (label, label+5)
                     except gene 0 whose label 0 is the reference
- batch = vec_id%4 : partition key (≙ Metadata_Plate)
- is_ref = label=0 : reference cohort (≙ Metadata_gene_name == 'Chr2',
                     data-raw/cellhealth.R:1-45)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def population_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately NOT rebalance_small_scan'd: the population is consumed
    # several times per sim query (both pair sides, features, annotate)
    # and its per-row work is trivial — an injected repartition would add
    # one shuffle stage per consumer, while the heavy work (pair windows,
    # metrics aggregates) already runs at spark.sql.shuffle.partitions
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding"),
        F.col("label"),
        (F.col("label") % 5).alias("gene"),
        (F.col("vec_id") % 4).alias("batch"),
        (F.col("label") == 0).alias("is_ref"),
    )
