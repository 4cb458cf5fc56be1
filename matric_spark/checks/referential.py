"""Referential-integrity checks via broadcast anti-joins.

Reference lineage: ``sim_validate`` asserts ``all(x$id1 %in%
row_metadata$id)`` (R/sim_construct-validate.R:69-78) — a membership test
against a domain relation; matric's keep/drop filters are semi/anti joins
against predicate-by-example spec tables (R/sim_filter.R:49-103). The
graft checks ``role``/``tool`` membership in small domain tables.

Scale notes: the domain side is tiny → ``F.broadcast`` pins a broadcast
hash anti-join; zero shuffle of the 100 TB side, the check is a pure
map-side pass that rides the scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _domain_df(spark: SparkSession, col: str, domain: Sequence[str] | DataFrame) -> DataFrame:
    """The domain as a one-column string relation. A list is built on the
    JVM, as an exploded array literal: ``createDataFrame`` over Python
    rows would be a Python RDD, one Python-worker job per check run."""
    if isinstance(domain, DataFrame):
        return domain.select(F.col(domain.columns[0]).alias(col))
    values = F.array(*[F.lit(v) for v in domain]).cast("array<string>")
    return spark.range(1, numPartitions=1).select(F.explode(values).alias(col))


def domain_violations(
    df: DataFrame,
    col: str,
    domain: Sequence[str] | DataFrame,
    nulls_ok: bool = True,
) -> DataFrame:
    """Rows whose ``col`` value is outside ``domain``.

    ``nulls_ok=True`` treats NULL as 'no value' (not a violation) — e.g.
    ``tool`` is legitimately NULL for non-tool turns; NULL-rate policing
    belongs to column_stats.
    """
    dom = _domain_df(df.sparkSession, col, domain)
    viol = df.join(F.broadcast(dom), on=col, how="left_anti")
    if nulls_ok:
        viol = viol.filter(F.col(col).isNotNull())
    return viol
