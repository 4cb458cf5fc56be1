"""The constraint-validation suite.

Each check is a pure DataFrame→DataFrame function (no actions inside), so
Catalyst sees the whole plan: filters/projections push down to the scan,
aggregations get map-side partial combine, and AQE re-plans skewed stages.
Checks return (metrics, violations) pairs; `verdicts` assembles the
per-partition pass/fail table the north rule requires.

Semantics lineage (reference, cited per function):
- column stats   ← preprocess_data's null accounting (R/utils.R:97-120)
                   + background stats (R/sim_metrics.R:391-404)
- uniqueness     ← matric's pair-dedup discipline (R/sim_calculate.R:293-299,
                   396-399), made a first-class hash-first key count
- referential    ← sim_validate id-domain checks
                   (R/sim_construct-validate.R:69-78): IN-list domain
                   flags in suite.row_local_flags, no join
- drift (KS/PSI) ← scaled-vs-background z-metrics and relrank ECDF machinery
                   (R/sim_metrics.R:391-428)
- sequence       ← graft-specific per-row invariant (stable (conv_id,
                   turn_idx) ordering, BASELINE.json input_hint)
"""

from matric_spark.checks.column_stats import column_stats  # noqa: F401
from matric_spark.checks.uniqueness import duplicate_keys  # noqa: F401
from matric_spark.checks.sequence import conversation_shape, out_of_order_turns  # noqa: F401
from matric_spark.checks.drift import drift_by_partition  # noqa: F401
