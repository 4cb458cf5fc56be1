"""Generate the committed cellhealth-analog golden metrics (run once;
output parquet lives in tests/golden/ and is pinned by
tests/test_golden.py the way the reference pins hard-coded metric means
on its packaged cellhealth dataset, tests/testthat/test-sim_metrics.R:
87-182 and data-raw/cellhealthmetrics.R:92-140).

Pipeline parametrization mirrors data-raw/cellhealthmetrics.R exactly:
cosine kernel; reference = Chr2; drop EMPTY; ref key (cell_line, Plate);
rep key (cell_line, gene, pert); rep_ref key adds Plate; non_rep = same
(cell_line, Plate), any-different (cell_line, gene, pert), all-different
(gene); group key (cell_line, gene); background type 'ref'.

Usage: python tools/make_cellhealth_golden.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matric_spark.sources.cellhealth_analog import (
    ANNOTATION_COLS,
    cellhealth_population,
)

GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "golden",
)

A1 = [f"{c}1" for c in ANNOTATION_COLS]


def cellhealth_metrics(spark: SparkSession) -> dict[str, DataFrame]:
    """level_1_0 / level_1 / level_2_1 metric tables for the analog
    fixture (the graft's `cellhealthmetrics`)."""
    from matric_spark.operators.collate import sim_collate
    from matric_spark.operators.metrics import (
        aggregate_level,
        sim_annotate,
        sim_metrics,
    )
    from matric_spark.operators.pairs import attach_sim

    pop = cellhealth_population(spark)
    drop_spec = spark.createDataFrame(
        [("EMPTY",)], "Metadata_gene_name string"
    )
    coll = sim_collate(
        pop,
        reference=F.col("is_ref"),
        all_same_cols_ref=["Metadata_cell_line", "Metadata_Plate"],
        all_same_cols_rep=ANNOTATION_COLS,
        all_same_cols_rep_ref=[*ANNOTATION_COLS, "Metadata_Plate"],
        all_same_cols_non_rep=["Metadata_cell_line", "Metadata_Plate"],
        any_different_cols_non_rep=ANNOTATION_COLS,
        all_different_cols_non_rep=["Metadata_gene_name"],
        all_same_cols_group=["Metadata_cell_line", "Metadata_gene_name"],
        any_different_cols_group=ANNOTATION_COLS,
        drop_group_spec=drop_spec,
    )
    sims = attach_sim(
        coll, pop, kernel="cosine", vec_col="embedding", keep_cols=["type"]
    )
    ann = sim_annotate(sims, pop, ANNOTATION_COLS, side="both")

    level10 = sim_metrics(
        ann, ["id1", *A1], signal_type="rep", background_type="ref"
    )
    level1 = aggregate_level(level10, A1)
    level21 = sim_metrics(
        ann,
        ["id1", "Metadata_cell_line1", "Metadata_gene_name1"],
        signal_type="rep_group",
        background_type="ref",
        identifier="g",
    )
    return {"level_1_0": level10, "level_1": level1, "level_2_1": level21}


_SORT = {
    "level_1_0": ["id1"],
    "level_1": A1,
    "level_2_1": ["id1"],
}


def main() -> None:
    from matric_spark.session import get_spark

    os.makedirs(GOLDEN_DIR, exist_ok=True)
    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()))
    for name, df in cellhealth_metrics(spark).items():
        pdf = df.toPandas().sort_values(_SORT[name]).reset_index(drop=True)
        path = os.path.join(GOLDEN_DIR, f"cellhealth_{name}.parquet")
        pdf.to_parquet(path, index=False)
        means = {
            c: round(float(pdf[c].mean()), 10)
            for c in pdf.columns
            if str(pdf[c].dtype).startswith("float")
        }
        print(name, len(pdf), "rows ->", path)
        for c, m in sorted(means.items()):
            print(f"    {c}: {m}")


if __name__ == "__main__":
    main()
