"""SimFrame construct/validate/write/read — matric's `matric_sim` object
and its I/O (R/sim_construct-validate.R, R/sim_read-write.R).

matric stores row_metadata + metric_metadata as fragile data.frame
attributes and re-attaches them after dplyr verbs (`sim_restore`,
R/sim_construct-validate.R:83-140). Here they are first-class storage:

    <path>/pairs/      parquet: id1, id2[, sim, ...]
    <path>/metadata/   parquet: id + annotation columns
    <path>/params.json metric_metadata (kernel, lineage params)

`sim_validate` enforces the reference's exact invariants
(R/sim_construct-validate.R:54-81): {id1,id2} ⊆ columns, `id` ∈
metadata, and referential integrity of both pair sides against the
metadata ids — as broadcast anti-joins whose ROWS are the materialized
violations (the north rule's check shape), not just a boolean.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SimValidationError(ValueError):
    pass


@dataclass
class SimFrame:
    """matric_sim: melted pair list + row metadata + metric metadata
    (R/sim_construct-validate.R:24-42). `sim` may be absent — the lazy
    pair index is legal (R/sim_construct-validate.R:71-72)."""

    pairs: DataFrame
    row_metadata: DataFrame
    metric_metadata: dict = field(default_factory=dict)


def sim_new(
    pairs: DataFrame, row_metadata: DataFrame, metric_metadata: dict
) -> SimFrame:
    """Constructor with the reference's structural preconditions
    (R/sim_construct-validate.R:24-42)."""
    if row_metadata is None or metric_metadata is None:
        raise SimValidationError("row_metadata and metric_metadata are required")
    return sim_validate(SimFrame(pairs, row_metadata, dict(metric_metadata)))


def referential_violations(sf: SimFrame) -> DataFrame:
    """Pair rows whose id1 or id2 is missing from metadata — the
    anti-join rows behind `all(x$id1 %in% row_metadata$id)`
    (R/sim_construct-validate.R:69-78). Metadata ids broadcast."""
    ids = F.broadcast(sf.row_metadata.select("id").distinct())
    bad1 = sf.pairs.join(
        ids, sf.pairs["id1"] == ids["id"], "left_anti"
    ).withColumn("bad_side", F.lit("id1"))
    bad2 = sf.pairs.join(
        ids, sf.pairs["id2"] == ids["id"], "left_anti"
    ).withColumn("bad_side", F.lit("id2"))
    return bad1.unionByName(bad2)


def sim_validate(sf: SimFrame) -> SimFrame:
    """Raise SimValidationError on any invariant breach; return sf."""
    cols = set(sf.pairs.columns)
    if not {"id1", "id2"} <= cols:
        raise SimValidationError(f"pairs must contain id1, id2; has {sorted(cols)}")
    if "id" not in sf.row_metadata.columns:
        raise SimValidationError("row_metadata must contain an 'id' column")
    n_bad = referential_violations(sf).limit(1).count()
    if n_bad:
        raise SimValidationError(
            "referential integrity violated: pair ids missing from metadata "
            "(inspect referential_violations(sf))"
        )
    return sf


def _csv_components(path: str) -> tuple[str, str, str]:
    """The reference's csv sidecar naming (R/sim_read-write.R:45-57):
    <dir>/<basename>.csv, <basename>_metadata.csv, <basename>_metadata.json.
    The two .csv components are Spark csv DIRECTORIES bearing those names
    (single-file csv would force a coalesce(1) funnel; Spark reads the
    directory transparently, so the layout round-trips)."""
    base = os.path.basename(os.path.normpath(path))
    return (
        os.path.join(path, f"{base}.csv"),
        os.path.join(path, f"{base}_metadata.csv"),
        os.path.join(path, f"{base}_metadata.json"),
    )


def _iceberg_tables(path: str) -> tuple[str, str, str]:
    """Map `path` to (namespace, pairs_table, metadata_table).

    A FULLY-QUALIFIED dotted identifier ('graft.db.mysim' —
    catalog.namespace.name, >= 3 segments) is used as the table base
    directly; anything else (a filesystem-ish path, so sim_write/sim_read
    keep ONE signature across backends) derives a deterministic
    namespace in the `graft` hadoop catalog the same way state.StateStore
    does (sha256-prefix of the normalized path). Two-segment names are
    deliberately NOT treated as identifiers: 'db.mysim' would resolve
    against the session default catalog (spark_catalog, not
    Iceberg-capable here) and lose the atomic-swap guarantee the
    docstring promises — they fall through to the path derivation."""
    import re

    if re.fullmatch(r"[A-Za-z0-9_]+(\.[A-Za-z0-9_]+){2,}", path):
        base = path
    else:
        import hashlib

        h = hashlib.sha256(os.path.normpath(path).encode()).hexdigest()[:12]
        base = f"graft.sim_{h}.sim"
    return base.rsplit(".", 1)[0], f"{base}_pairs", f"{base}_metadata"


#: table property carrying metric_metadata on the pairs table — the
#: Iceberg rendering of params.json (R/sim_read-write.R:69-73 maps the
#: attribute sidecar to table properties per SURVEY §1.3)
_PARAMS_PROP = "matric.params"


def sim_write(sf: SimFrame, path: str, file_format: str = "parquet") -> None:
    """Persist all three components (R/sim_read-write.R:42-76):
    parquet = pairs/ + metadata/ + params.json; csv = the reference's
    3-component sidecar layout; iceberg = two real catalog tables
    (<base>_pairs, <base>_metadata) written with DataFrameWriterV2
    (`writeTo(...).createOrReplace()` — each table's swap is a single
    metadata commit, so a reader never sees a half-written table, unlike
    parquet's delete-then-write overwrite; the two tables commit
    separately, so a sim_read between the commits can pair new pairs
    with old metadata) with
    metric_metadata in the pairs table's properties instead of a
    params.json sidecar. Requires the `graft` catalog registered by
    session.get_spark (iceberg-spark-runtime jar on the classpath)."""
    if file_format == "iceberg":
        ns, tp, tm = _iceberg_tables(path)
        spark = sf.pairs.sparkSession
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {ns}")
        (
            sf.pairs.writeTo(tp)
            .using("iceberg")
            .tableProperty(
                _PARAMS_PROP, json.dumps(sf.metric_metadata, sort_keys=True)
            )
            .createOrReplace()
        )
        sf.row_metadata.writeTo(tm).using("iceberg").createOrReplace()
        return
    if file_format == "parquet":
        sf.pairs.write.mode("overwrite").parquet(os.path.join(path, "pairs"))
        sf.row_metadata.write.mode("overwrite").parquet(
            os.path.join(path, "metadata")
        )
        with open(os.path.join(path, "params.json"), "w") as f:
            json.dump(sf.metric_metadata, f, sort_keys=True)
        return
    if file_format == "csv":
        pairs_p, meta_p, params_p = _csv_components(path)
        sf.pairs.write.mode("overwrite").option("header", True).csv(pairs_p)
        sf.row_metadata.write.mode("overwrite").option("header", True).csv(meta_p)
        with open(params_p, "w") as f:
            json.dump(sf.metric_metadata, f, sort_keys=True)
        return
    raise ValueError(
        f"file_format must be 'parquet', 'csv' or 'iceberg', got {file_format!r}"
    )


def sim_read(
    spark: SparkSession, path: str, file_format: str = "parquet"
) -> SimFrame:
    """Load + RE-VALIDATE (sim_validate(sim_new(...)) on read,
    R/sim_read-write.R:112-154) — storage is untrusted. csv reads with
    inferSchema (readr::read_csv's col_types = cols() behavior); iceberg
    reads the two catalog tables and decodes metric_metadata from the
    pairs table's properties."""
    if file_format == "iceberg":
        _, tp, tm = _iceberg_tables(path)
        pairs = spark.read.table(tp)
        meta = spark.read.table(tm)
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {tp}").collect()
        }
        params = json.loads(props.get(_PARAMS_PROP, "{}"))
        return sim_new(pairs, meta, params)
    if file_format == "parquet":
        pairs = spark.read.parquet(os.path.join(path, "pairs"))
        meta = spark.read.parquet(os.path.join(path, "metadata"))
        with open(os.path.join(path, "params.json")) as f:
            params = json.load(f)
        return sim_new(pairs, meta, params)
    if file_format == "csv":
        pairs_p, meta_p, params_p = _csv_components(path)
        opts = {"header": True, "inferSchema": True}
        pairs = spark.read.options(**opts).csv(pairs_p)
        meta = spark.read.options(**opts).csv(meta_p)
        with open(params_p) as f:
            params = json.load(f)
        return sim_new(pairs, meta, params)
    raise ValueError(
        f"file_format must be 'parquet', 'csv' or 'iceberg', got {file_format!r}"
    )
