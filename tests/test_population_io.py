"""Tests for population utils (R/utils.R semantics), SimFrame
construct/validate/IO (R/sim_construct-validate.R, R/sim_read-write.R
round-trip, tests/testthat/test-sim_read-write.R:1-107), and the blocked
sparse kernels (R/sparse.R ≡ dense recomputation,
tests/testthat/test-sparse.R:1-56)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def wide_pop(spark):
    rows = [
        (1.0, "p1", 1.0, 2.0, None),
        (2.0, "p1", 2.0, 4.0, 5.0),
        (1.0, "p2", 3.0, 6.0, 7.0),
    ]
    return spark.createDataFrame(
        rows, "Metadata_group double, Metadata_plate string, x double, y double, z double"
    )


def test_annotation_split(wide_pop):
    from matric_spark.operators.population import (
        annotation_cols,
        drop_annotation,
        get_annotation,
    )

    assert annotation_cols(wide_pop) == ["Metadata_group", "Metadata_plate"]
    ann = get_annotation(wide_pop)
    assert ann.columns == ["id", "Metadata_group", "Metadata_plate"]
    ids = [r.id for r in ann.collect()]
    assert len(set(ids)) == 3  # unique
    # stability under repartition — the property the R seq_len id lacks
    ids2 = [r.id for r in get_annotation(wide_pop.repartition(7)).collect()]
    assert sorted(ids) == sorted(ids2)
    assert drop_annotation(wide_pop).columns == ["x", "y", "z"]


def test_preprocess_drops_na_columns(wide_pop):
    from matric_spark.operators.population import preprocess_data

    clean, dropped = preprocess_data(wide_pop)
    assert dropped == ["z"]  # z has one NA → dropped entirely (R/utils.R:97-120)
    assert clean.columns == ["Metadata_group", "Metadata_plate", "x", "y"]


def test_assemble_population_runs_kernels(spark, wide_pop):
    from matric_spark.operators.pairs import sim_calculate
    from matric_spark.operators.population import assemble_population

    pop = assemble_population(wide_pop)
    assert pop.columns == ["id", "features", "Metadata_group", "Metadata_plate"]
    sims = sim_calculate(pop, "cosine", strata=["Metadata_plate"]).collect()
    # p1 rows are proportional in (x, y) → cosine 1
    assert all(r.sim == pytest.approx(1.0) for r in sims)


def test_simframe_validate_and_roundtrip(spark, tmp_path):
    from matric_spark.operators.sim_io import (
        SimValidationError,
        referential_violations,
        sim_new,
        sim_read,
        sim_write,
    )

    pairs = spark.createDataFrame([(1, 2, 0.5), (2, 1, 0.5)], "id1 long, id2 long, sim double")
    meta = spark.createDataFrame([(1, "a"), (2, "b")], "id long, g string")
    sf = sim_new(pairs, meta, {"method": "cosine"})

    path = str(tmp_path / "sim")
    sim_write(sf, path)
    back = sim_read(spark, path)  # re-validates on load
    assert sorted(map(tuple, back.pairs.collect())) == sorted(map(tuple, pairs.collect()))
    assert back.metric_metadata == {"method": "cosine"}

    # referential violation: id 3 not in metadata
    bad_pairs = spark.createDataFrame([(1, 3, 0.1)], "id1 long, id2 long, sim double")
    with pytest.raises(SimValidationError):
        sim_new(bad_pairs, meta, {})
    from matric_spark.operators.sim_io import SimFrame

    v = referential_violations(SimFrame(bad_pairs, meta, {})).collect()
    assert [(r.id1, r.id2, r.bad_side) for r in v] == [(1, 3, "id2")]

    # structural errors
    with pytest.raises(SimValidationError):
        sim_new(spark.createDataFrame([(1,)], "id1 long"), meta, {})


def test_simframe_csv_sidecar_roundtrip(spark, tmp_path):
    """The reference's csv 3-component layout (R/sim_read-write.R:45-57,
    tests/testthat/test-sim_read-write.R:1-107): <base>.csv pairs,
    <base>_metadata.csv, <base>_metadata.json — written as Spark csv
    directories bearing those names (no coalesce(1) funnel)."""
    import os

    from matric_spark.operators.sim_io import sim_new, sim_read, sim_write

    pairs = spark.createDataFrame(
        [(1, 2, 0.5), (2, 1, 0.5)], "id1 long, id2 long, sim double"
    )
    meta = spark.createDataFrame([(1, "a"), (2, "b")], "id long, g string")
    sf = sim_new(pairs, meta, {"method": "cosine"})

    path = str(tmp_path / "simcsv")
    sim_write(sf, path, file_format="csv")
    assert os.path.isdir(os.path.join(path, "simcsv.csv"))
    assert os.path.isdir(os.path.join(path, "simcsv_metadata.csv"))
    assert os.path.isfile(os.path.join(path, "simcsv_metadata.json"))

    back = sim_read(spark, path, file_format="csv")  # re-validates on load
    assert sorted(map(tuple, back.pairs.collect())) == sorted(
        map(tuple, pairs.collect())
    )
    assert sorted(map(tuple, back.row_metadata.collect())) == sorted(
        map(tuple, meta.collect())
    )
    assert back.metric_metadata == {"method": "cosine"}

    with pytest.raises(ValueError):
        sim_write(sf, path, file_format="feather")


def test_lazy_pair_index_is_legal(spark):
    """sim without a `sim` column validates (lazy mode,
    R/sim_construct-validate.R:71-72)."""
    from matric_spark.operators.sim_io import sim_new

    pairs = spark.createDataFrame([(1, 2)], "id1 long, id2 long")
    meta = spark.createDataFrame([(1,), (2,)], "id long")
    assert sim_new(pairs, meta, {"lazy": True}).pairs.columns == ["id1", "id2"]


def test_blocked_kernels_match_expression_path(spark):
    """Differential: sparse/blocked numpy kernels ≡ the codegen
    expression kernels (tests/testthat/test-sparse.R:1-56 shape)."""
    from matric_spark.operators.pairs import attach_sim, within_group_pairs
    from matric_spark.operators.sparse import pairwise_blocked

    rows = [(i, [float(i * j % 7) + 1 for j in range(1, 9)], i % 3) for i in range(1, 25)]
    pop = spark.createDataFrame(rows, "id long, features array<double>, g int")
    pairs = within_group_pairs(pop, ["g"])

    for kernel in ("cosine", "pearson"):
        expr = {
            (r.id1, r.id2): r.sim for r in attach_sim(pairs, pop, kernel).collect()
        }
        blocked = {
            (r.id1, r.id2): r.sim
            for r in pairwise_blocked(pairs, pop, kernel).collect()
        }
        assert set(expr) == set(blocked)
        for k in expr:
            assert blocked[k] == pytest.approx(expr[k], rel=1e-9), (kernel, k)


def test_blocked_kernel_null_vector_rows(spark):
    """A NULL feature vector yields sim=NULL for its pairs (the JVM
    kernel path's semantics) instead of crashing np.stack in the Arrow
    worker; NULL-free pairs in the same batch still compute."""
    from matric_spark.operators.pairs import all_pairs
    from matric_spark.operators.sparse import pairwise_blocked

    pop = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, None)],
        "id long, features array<double>",
    )
    out = {
        (r.id1, r.id2): r.sim
        for r in pairwise_blocked(all_pairs(pop), pop, "cosine").collect()
    }
    assert out[(1, 2)] == pytest.approx(0.98386991, rel=1e-6)
    assert out[(1, 3)] is None and out[(2, 3)] is None


def test_custom_kernel_plug_point(spark):
    from matric_spark.operators.pairs import all_pairs
    from matric_spark.operators.sparse import pairwise_blocked

    pop = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])], "id long, features array<double>"
    )

    def manhattan(x1, x2):
        import numpy as np

        return np.abs(x1 - x2).sum(axis=1)

    out = {
        (r.id1, r.id2): r.sim
        for r in pairwise_blocked(all_pairs(pop), pop, manhattan).collect()
    }
    assert out[(1, 2)] == pytest.approx(4.0)


def test_sim_wider_symmetry(spark):
    from matric_spark.operators.sim_wider import sim_wider

    pairs = spark.createDataFrame(
        [(1, 2, 0.5), (2, 1, 0.5), (1, 3, 0.2), (3, 1, 0.2), (2, 3, 0.9), (3, 2, 0.9)],
        "id1 long, id2 long, sim double",
    )
    wide = sim_wider(pairs).collect()
    assert [r.id1 for r in wide] == [1, 2, 3]  # row order == column order
    m = [[r[str(c)] for c in (1, 2, 3)] for r in wide]
    for i in range(3):
        assert m[i][i] == 1.0  # filled diagonal
        for j in range(3):
            assert m[i][j] == m[j][i]  # symmetric
    assert m[0][1] == 0.5 and m[1][2] == 0.9


def test_sim_wider_labeled_matches_reference(spark):
    """Reference label behavior (R/sim_wider.R:74-123): unique
    '{annotation}:{i}' labels over the (id, annotation)-sorted map, with
    the map1 == map2 symmetry assertion."""
    import pytest

    from matric_spark.operators.sim_wider import sim_wider_labeled

    pairs = spark.createDataFrame(
        [
            (1, 2, 0.5, "a", "b"), (2, 1, 0.5, "b", "a"),
            (1, 3, 0.2, "a", "a"), (3, 1, 0.2, "a", "a"),
            (2, 3, 0.9, "b", "a"), (3, 2, 0.9, "a", "b"),
        ],
        "id1 long, id2 long, sim double, g1 string, g2 string",
    )
    wide, mp = sim_wider_labeled(pairs, "g")
    rows = wide.collect()
    # duplicate annotation 'a' (ids 1, 3) gets distinct :i suffixes
    assert [r.id for r in rows] == ["a:1", "b:2", "a:3"]
    assert wide.columns == ["id", "a:1", "b:2", "a:3"]
    assert rows[0]["b:2"] == 0.5 and rows[1]["a:3"] == 0.9
    got_map = [(r.id, r.annotation, r.primary_key) for r in mp.collect()]
    assert got_map == [("a:1", "a", "1"), ("b:2", "b", "2"), ("a:3", "a", "3")]

    # asymmetric (id, annotation) association must raise
    bad = spark.createDataFrame(
        [(1, 2, 0.5, "a", "WRONG"), (2, 1, 0.5, "b", "a")],
        "id1 long, id2 long, sim double, g1 string, g2 string",
    )
    with pytest.raises(ValueError, match="not symmetric"):
        sim_wider_labeled(bad, "g")


def _iceberg_jars_present():
    from matric_spark.session import _iceberg_available

    return _iceberg_available()


@pytest.mark.skipif(
    not _iceberg_jars_present(),
    reason="iceberg-spark-runtime jar not on the classpath (sandbox); the "
    "parquet/csv backends cover the same validate-on-read logic — only "
    "the storage calls differ (sim_io.sim_write docstring)",
)
def test_simframe_iceberg_roundtrip(spark, tmp_path):
    """SimFrame I/O on REAL Iceberg tables (SURVEY §1.3 mapping of
    R/sim_read-write.R:69-73): pairs + metadata land as catalog tables
    via the atomic DataFrameWriterV2 createOrReplace, metric_metadata
    rides in the pairs table's properties, and sim_read re-validates.
    Green when the runtime jar is present; skipped in jar-less sandboxes."""
    from matric_spark.operators.sim_io import (
        _iceberg_tables,
        sim_new,
        sim_read,
        sim_write,
    )

    assert spark.conf.get("spark.sql.catalog.graft", None), (
        "session factory must register the graft catalog when jars exist"
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.5), (2, 1, 0.5)], "id1 long, id2 long, sim double"
    )
    meta = spark.createDataFrame([(1, "a"), (2, "b")], "id long, g string")
    sf = sim_new(pairs, meta, {"method": "cosine", "seed": 7})

    path = str(tmp_path / "simice")
    sim_write(sf, path, file_format="iceberg")
    _, tp, tm = _iceberg_tables(path)
    assert spark.catalog.tableExists(tp) and spark.catalog.tableExists(tm)

    back = sim_read(spark, path, file_format="iceberg")  # re-validates
    assert sorted(map(tuple, back.pairs.collect())) == sorted(
        map(tuple, pairs.collect())
    )
    assert sorted(map(tuple, back.row_metadata.collect())) == sorted(
        map(tuple, meta.collect())
    )
    assert back.metric_metadata == {"method": "cosine", "seed": 7}

    # overwrite semantics: a second write REPLACES (one metadata commit),
    # and the dotted-identifier path form addresses the same tables
    sf2 = sim_new(pairs.limit(1), meta, {"method": "pearson"})
    sim_write(sf2, path, file_format="iceberg")
    again = sim_read(spark, path, file_format="iceberg")
    assert again.pairs.count() == 1
    assert again.metric_metadata == {"method": "pearson"}
