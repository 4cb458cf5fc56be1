"""matric_spark — a PySpark-native schema + constraint validation engine.

A from-scratch re-expression of the query/data-processing capabilities of
cytomining/matric (R reference at /root/reference, cited by file:line in
docstrings) as idiomatic PySpark, re-targeted at Iceberg tables of
multi-turn conversation/agent transcripts
(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp).

Layout
------
- ``session``     SparkSession factory (AQE, Arrow, UTC, skew-join configs)
- ``schema``      transcript schema + referential-check domains
- ``checks``      the validation suite: column stats, uniqueness,
                  referential integrity, sequence invariants, drift
- ``operators``   matric parity: sim_calculate / sim_filter / sim_collate /
                  sim_metrics / sim_metrics_signif / sparse pairwise (BH
                  adjust, ranks), plus dedup, ANN and sketches
- ``functions``   reusable column expressions (hashing, text statistics,
                  vector math) and the Arrow pandas UDFs
- ``sources``     testdata loaders, the transcript view and the table IO
                  layer (Iceberg when jars present, partitioned Parquet
                  fallback)
- ``state``       state table for checkpoint/resume
- ``streaming``   Structured Streaming validation, sessionizer and dedup
- ``duck_oracle`` DuckDB twins of the operators for the correctness gate
"""

__version__ = "0.1.0"
