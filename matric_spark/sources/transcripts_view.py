"""Deterministic transcript view over the driver's `lineitem` table.

The driver's correctness gate compares Spark vs DuckDB on the
pre-registered TPC-H-ish views, so the transcript table
(conv_id, turn_idx, role, text, tool, ts — BASELINE.json input_hint) is
derived from `lineitem` by ONE SQL template written in the common
Spark-SQL/DuckDB dialect. Both engines build byte-identical inputs, which
makes every validation check oracle-verifiable end to end.

Planted violations (the graft analog of matric's EMPTY/Chr2 control rows,
tests/testthat/test-sim_collate.R:4-22, and of FIXTURES.md §3):
- duplicate (conv_id, turn_idx): the synthetic lineitem's
  (l_orderkey, l_linenumber) is NOT unique (~19% of keys collide), so
  uniqueness violations occur naturally          → uniqueness check
- role 'moderator' when l_partkey % 97 = 0      → referential (role)
- tool 'telnet'   when l_partkey % 101 = 0      → referential (tool)
- null text       when l_partkey % 103 = 0      → null-rate stats
- drifted cohort: orders with o_orderpriority = '1-URGENT' get text
  twice as long                                  → KS/PSI drift check

Everything is a pure function of key columns — no randomness, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Common-dialect SQL: only functions/operators with identical semantics in
# Spark SQL and DuckDB (concat, lpad, %, CASE, concat_ws, repeat, year,
# month, CAST). l_quantity is integral-valued so float->int cast agrees.
TRANSCRIPT_VIEW_SQL = """
WITH base AS (
    SELECT
        l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber,
        l.l_quantity, l.l_returnflag, l.l_linestatus, l.l_shipdate,
        o.o_orderpriority
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
typed AS (
    SELECT
        concat('conv', lpad(CAST(l_orderkey AS STRING), 10, '0')) AS conv_id,
        CAST(l_linenumber - 1 AS INT) AS turn_idx,
        CASE
            WHEN l_partkey % 97 = 0 THEN 'moderator'
            WHEN l_linenumber = 1 THEN 'system'
            WHEN l_linenumber % 3 = 2 THEN 'user'
            WHEN l_linenumber % 3 = 0 THEN 'assistant'
            ELSE 'tool'
        END AS role,
        CASE
            WHEN l_partkey % 103 = 0 THEN NULL
            WHEN o_orderpriority = '1-URGENT' THEN
                concat_ws(' ', l_returnflag, l_linestatus,
                          CAST(CAST(l_quantity AS INT) AS STRING),
                          repeat(concat('tok', CAST(l_suppkey % 10 AS STRING), ' '),
                                 CAST(l_quantity AS INT) + 20))
            ELSE
                concat_ws(' ', l_returnflag, l_linestatus,
                          CAST(CAST(l_quantity AS INT) AS STRING),
                          repeat(concat('tok', CAST(l_suppkey % 10 AS STRING), ' '),
                                 CAST(l_quantity AS INT)))
        END AS text,
        CASE
            WHEN l_partkey % 101 = 0 THEN 'telnet'
            WHEN l_linenumber > 1 AND l_linenumber % 3 = 1 THEN
                CASE l_suppkey % 3 WHEN 0 THEN 'bash'
                                   WHEN 1 THEN 'search'
                                   ELSE 'browser' END
            ELSE NULL
        END AS tool,
        l_shipdate AS ts,
        CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS part_month
    FROM base
)
SELECT * FROM typed
"""


# keyed WEAKLY on the session OBJECT (not id()): id reuse can never alias
# a stale plan, and a stopped session's plans are garbage-collected with
# it instead of pinning every dead session for the process lifetime
# (long-lived harnesses recreate sessions)
import weakref

_PLAN_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def transcript_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the transcript DataFrame for a scale-factor dir.

    Registers lineitem/orders as temp views then evaluates the shared SQL.
    At cluster scale this is replaced by ``spark.read.table('transcripts')``
    over the Iceberg table partitioned by days(ts); `part_month` plays the
    partition-key role here.

    The ANALYZED PLAN (a plain immutable DataFrame — no data, no persist)
    is memoized per (session, sf_dir): re-deriving it costs ~2-3 s of
    parquet-footer jobs + SQL analysis, paid at CONSTRUCTION time by
    nearly every query in the suite. Execution is unchanged — each query
    still scans and computes from the raw tables.

    Memoization contract: the input dirs are immutable for the life of a
    session (true for the driver's testdata and the bench's one-shot
    materialization). spark.read.parquet snapshots the file listing at
    analysis time, so rewriting files under a memoized path mid-session
    would read a stale index — restart the session (or clear the memo)
    after replacing inputs.
    """
    import os

    mat = os.environ.get("SPARK_GRAFT_TRANSCRIPTS_PARQUET")
    key = (sf_dir, mat)
    per_session = _PLAN_MEMO.setdefault(spark, {})
    got = per_session.get(key)
    if got is not None:
        return got

    # Bench-time override: read the materialized table directly (the
    # production shape — transcripts exist as Iceberg/parquet storage,
    # the lineitem⋈orders derivation is a synthetic-data artifact).
    # Parquet keeps column pruning/pushdown + AQE, which .cache() loses.
    if mat:
        out = spark.read.parquet(mat)
    else:
        from matric_spark.sources.testdata import register_views

        register_views(spark, sf_dir, ["lineitem", "orders"])
        out = spark.sql(TRANSCRIPT_VIEW_SQL)
    per_session[key] = out
    return out
