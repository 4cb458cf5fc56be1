"""Per-conversation sequence invariants.

The north rule's per-row invariant is text equality under a stable
``(conv_id, turn_idx)`` window ordering; these checks validate that such
an ordering is well-defined and temporally consistent:

- ``conversation_shape``: per-conv turn_idx contiguity (0..n-1, dense)
  and key duplication — pure two-phase aggregates (partial-combine safe).
- ``out_of_order_turns``: turns whose ts precedes an earlier turn's ts.
- ``text_parity``: per-turn text equality vs a reference table.

Scale notes: ``groupBy(conv_id)`` aggregates get map-side combine so
Zipfian conversation lengths only skew the *map* inputs, not the shuffle.
The ``Window.partitionBy(conv_id)`` in out_of_order_turns hashes whole
conversations to tasks — safe because a single conversation is bounded
(~10^4 turns) even when the table is 10^12; it never concentrates the
table on one task. AQE balances the residual per-task row-count skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def turn_order_string(include_tool: bool = False) -> Column:
    """The NULL-sentinel composed string used as the FINAL turn sort key
    (after turn_idx, ts) so duplicate keys still order deterministically:
    \\x1f-joined coalesce(col, '\\x1dnull') over (role, text[, tool]).
    MUST stay byte-identical to the oracle's chr(29)/chr(31) twin
    (__spark_entry__._TAPE_CTES and the role_latency/role_transitions
    SQL) — every consumer shares this single definition."""
    null_s = F.lit("\x1dnull")
    parts = [
        F.coalesce(F.col("role"), null_s),
        F.coalesce(F.col("text"), null_s),
    ]
    if include_tool:
        parts.append(F.coalesce(F.col("tool"), null_s))
    return F.concat_ws("\x1f", *parts)


def conversation_shape(df: DataFrame) -> DataFrame:
    """Per-conv: n_turns, n_keys (distinct turn_idx), min/max turn,
    has_dup (key collision), is_contiguous (dense 0..n-1)."""
    g = df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count_distinct("turn_idx").alias("n_keys"),
        F.min("turn_idx").alias("min_turn"),
        F.max("turn_idx").alias("max_turn"),
    )
    return g.select(
        "conv_id",
        "n_turns",
        "n_keys",
        "min_turn",
        "max_turn",
        (F.col("n_turns") != F.col("n_keys")).alias("has_dup"),
        (
            (F.col("min_turn") == 0)
            & (F.col("max_turn") == F.col("n_keys") - 1)
            & (F.col("n_turns") == F.col("n_keys"))
        ).alias("is_contiguous"),
    )


def conversation_tapes(df: DataFrame) -> DataFrame:
    """Serialize each conversation to one string: (role, text) per turn,
    \\x1f within a turn, \\x1e between turns, NULLs as the \\x1d"null"
    sentinel, turns ordered by (turn_idx, ts, composed-string) so
    duplicate keys still serialize deterministically. NULL sort keys
    order FIRST (Spark's asc default) — the DuckDB tape CTE must say
    NULLS FIRST explicitly to mirror this ->
    DataFrame[conv_id, tape]. One groupBy(conv_id) with bounded state
    (a conversation is ~10^4 turns max).

    The agg's shuffle is pinned to the session's shuffle-partition count
    via an explicit repartition(conv_id) (which the groupBy reuses — one
    exchange, not two): transcript text compresses ~15x in shuffle files,
    so AQE's size-based partition coalescing — blind to decompressed CPU
    cost — would merge this CPU-heavy string aggregation onto a handful
    of tasks (measured at sf0.1/local[32]: 3 tasks, 6.2 s vs 32 tasks,
    2.9 s cold). Explicit numPartitions is exempt from AQE coalescing."""
    s = turn_order_string()
    item = F.struct(F.col("turn_idx"), F.col("ts"), s.alias("s"))
    n_shuffle = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    g = df.repartition(n_shuffle, "conv_id").groupBy("conv_id").agg(
        F.sort_array(F.collect_list(item)).alias("items")
    )
    tape = F.array_join(F.transform(F.col("items"), lambda x: x["s"]), "\x1e")
    return g.select("conv_id", tape.alias("tape"))


def conversation_fingerprint(df: DataFrame) -> DataFrame:
    """Whole-conversation content identity: a 60-bit hash of the ordered
    (role, text) turn tape per conversation, plus dup-group resolution ->
    DataFrame[conv_id, conv_fp, group_size, canonical_conv_id, is_canonical].

    This aggregates the north rule's per-row invariant (per-turn text
    equality under the stable (conv_id, turn_idx) ordering) into one
    comparable value per conversation: two conversations match iff every
    turn's (role, text) matches in order. Rows are ordered by
    (turn_idx, ts, composed-string) so duplicate turn_idx keys — which the
    synthetic table plants deliberately — still serialize deterministically.
    Field/record separators \\x1f/\\x1e and the NULL sentinel \\x1d"null"
    are distinct bytes, so no value can fake a boundary.

    Scale shape: one groupBy(conv_id) (bounded state — a conversation is
    ~10^4 turns max, so collect_list never concentrates the table), then a
    window over conv_fp whose partitions are dup groups (small by
    construction). Ids-and-hashes only after the first aggregate.
    """
    from matric_spark.functions.hashing import md5_long

    fp = conversation_tapes(df).select(
        "conv_id", md5_long(F.col("tape")).alias("conv_fp")
    )
    w = Window.partitionBy("conv_fp")
    return fp.select(
        "conv_id",
        "conv_fp",
        F.count(F.lit(1)).over(w).alias("group_size"),
        F.min("conv_id").over(w).alias("canonical_conv_id"),
    ).withColumn(
        "is_canonical", F.col("conv_id") == F.col("canonical_conv_id")
    )


# Canonical grammar of the synthetic transcript view
# (sources/transcripts_view.py): system opens, then (user, assistant,
# tool)* cycles. Planted 'moderator' rows and duplicate-turn collisions
# violate it — exactly the rows a transition audit must surface.
DEFAULT_ROLE_GRAMMAR: frozenset[tuple[str, str]] = frozenset(
    {
        ("<start>", "system"),
        ("system", "user"),
        ("user", "assistant"),
        ("assistant", "tool"),
        ("tool", "user"),
    }
)


def role_transitions(
    df: DataFrame,
    allowed: frozenset[tuple[str, str]] = DEFAULT_ROLE_GRAMMAR,
) -> DataFrame:
    """Role-transition matrix with FSM validation ->
    DataFrame[prev_role, role, n, allowed].

    Orders each conversation by (turn_idx, ts, role, text, tool) — the
    trailing columns break duplicate-key ties, and rows tying on ALL five
    are full duplicates whose relative order cannot change any adjacent
    pair — then counts adjacent (lag(role), role) pairs. The first turn
    pairs with the sentinel '<start>', so opening-role violations surface
    in the same matrix. `allowed` marks each observed transition against
    the grammar; disallowed rows with n > 0 are the violations.

    NULL handling: roles are coalesced to the \\x1d"null" sentinel BEFORE
    the lag so a genuine null role is distinguishable from row-one (whose
    lag is NULL -> '<start>'); ordering columns are coalesced too because
    Spark sorts NULLS FIRST and DuckDB NULLS LAST.

    Scale shape: one window keyed on conv_id (bounded partitions — a
    conversation is ~10^4 turns max) followed by a grammar-sized hash
    aggregate; the output is |roles|² rows regardless of input size.
    Analog of matric's metadata-composition audits re-targeted to
    sequence grammars (R/sim_collate.R annotation discipline).
    """
    role_s = F.coalesce(F.col("role"), F.lit("\x1dnull"))
    order_s = turn_order_string(include_tool=True)
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts", order_s)
    pairs = df.select(
        F.coalesce(F.lag(role_s).over(w), F.lit("<start>")).alias("prev_role"),
        role_s.alias("role"),
    )
    allowed_keys = sorted(f"{a}\x1f{b}" for a, b in allowed)
    return (
        pairs.groupBy("prev_role", "role")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "allowed",
            F.concat_ws("\x1f", "prev_role", "role").isin(allowed_keys),
        )
    )


#: BPE-ish token budget of one conversation (context-window packing)
TOKEN_BUDGET = 256


def conv_token_stats(df: DataFrame, budget: int = TOKEN_BUDGET) -> DataFrame:
    """Per-conversation token accounting (the context-window budget
    check a training pipeline runs before packing) ->
    DataFrame[conv_id, n_turns, n_text_null, n_tokens, n_bpe_tokens,
    n_chars, over_budget].

    NULL texts contribute 0 to every count (and are tallied separately)
    so conversations with planted null turns still aggregate; empty
    string counts 1 whitespace token (split('') = ['']) — the same
    convention doc_text_stats pins. `over_budget` flags conversations
    whose BPE-ish token total exceeds `budget`.

    Scale shape: one groupBy(conv_id) hash aggregate with map-side
    combine; token counting is pure codegen regex, no Python, no window.
    """
    from matric_spark.checks.suite import row_local_flags
    from matric_spark.functions.text import bpe_token_count, token_count

    null_text = row_local_flags()["null_text"]

    def nz(c: F.Column) -> F.Column:
        return F.when(null_text, F.lit(0).cast("long")).otherwise(c)

    return (
        df.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(null_text.cast("long")).alias("n_text_null"),
            F.sum(nz(token_count("text"))).alias("n_tokens"),
            F.sum(nz(bpe_token_count("text"))).alias("n_bpe_tokens"),
            F.sum(nz(F.length("text").cast("long"))).alias("n_chars"),
        )
        .withColumn("over_budget", F.col("n_bpe_tokens") > budget)
    )


def conv_verdicts(df: DataFrame) -> DataFrame:
    """Conversation-level verdict table: per conv_id, every constraint
    family's violation count, the overall pass decision, and a
    comma-joined reason string → DataFrame[conv_id, n_turns,
    n_role_viol, n_tool_viol, n_grammar_viol, n_ooo, n_text_null,
    n_bpe_tokens, ok, reasons].

    The per-entity complement of the per-partition suite
    (checks/suite.run_verdicts): the same constraint families — key
    uniqueness/contiguity, role/tool domains, role-transition grammar,
    timestamp monotonicity, null text, token budget — scored per
    conversation, the granularity a curation pipeline filters on. The
    role/tool domain and null-text predicates are the suite's own
    (suite.row_local_flags, default SuiteConfig domains); the grammar is
    DEFAULT_ROLE_GRAMMAR and the budget TOKEN_BUDGET.

    Scale shape: one window keyed on conv_id (lag(role) + preceding-max
    ts in the same frame spec) feeding one hash aggregate on the SAME
    key, so the exchange introduced by the window is reused by the
    aggregate — a single shuffle end to end, partitions bounded by
    conversation length (~10^4 turns).

    Reason codes, fixed order: dup_keys, non_contiguous, role_domain,
    tool_domain, grammar, out_of_order, null_text, over_budget.
    """
    from matric_spark.checks.suite import row_local_flags
    from matric_spark.functions.text import bpe_token_count

    flags = row_local_flags()
    role_s = F.coalesce(F.col("role"), F.lit("\x1dnull"))
    order_s = turn_order_string(include_tool=True)
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts", order_s)
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    allowed_keys = sorted(f"{a}\x1f{b}" for a, b in DEFAULT_ROLE_GRAMMAR)

    flagged = df.select(
        "conv_id",
        "turn_idx",
        flags["ref_role"].alias("_role_bad"),
        flags["ref_tool"].alias("_tool_bad"),
        (
            ~F.concat_ws(
                "\x1f",
                F.coalesce(F.lag(role_s).over(w), F.lit("<start>")),
                role_s,
            ).isin(allowed_keys)
        ).alias("_grammar_bad"),
        (F.col("ts") < F.max("ts").over(w_prev)).alias("_ooo"),
        flags["null_text"].alias("_text_null"),
        F.when(flags["null_text"], F.lit(0).cast("long"))
        .otherwise(bpe_token_count("text"))
        .alias("_bpe"),
    )
    g = flagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count_distinct("turn_idx").alias("_n_keys"),
        F.min("turn_idx").alias("_min_turn"),
        F.max("turn_idx").alias("_max_turn"),
        F.sum(F.col("_role_bad").cast("long")).alias("n_role_viol"),
        F.sum(F.col("_tool_bad").cast("long")).alias("n_tool_viol"),
        F.sum(F.col("_grammar_bad").cast("long")).alias("n_grammar_viol"),
        F.sum(F.coalesce(F.col("_ooo"), F.lit(False)).cast("long")).alias(
            "n_ooo"
        ),
        F.sum(F.col("_text_null").cast("long")).alias("n_text_null"),
        F.sum("_bpe").alias("n_bpe_tokens"),
    )
    contiguous = (
        (F.col("_min_turn") == 0)
        & (F.col("_max_turn") == F.col("_n_keys") - 1)
        & (F.col("n_turns") == F.col("_n_keys"))
    )
    rules = [
        ("dup_keys", F.col("n_turns") != F.col("_n_keys")),
        ("non_contiguous", ~contiguous),
        ("role_domain", F.col("n_role_viol") > 0),
        ("tool_domain", F.col("n_tool_viol") > 0),
        ("grammar", F.col("n_grammar_viol") > 0),
        ("out_of_order", F.col("n_ooo") > 0),
        ("null_text", F.col("n_text_null") > 0),
        ("over_budget", F.col("n_bpe_tokens") > TOKEN_BUDGET),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    return g.select(
        "conv_id",
        "n_turns",
        "n_role_viol",
        "n_tool_viol",
        "n_grammar_viol",
        "n_ooo",
        "n_text_null",
        "n_bpe_tokens",
        reasons.alias("reasons"),
    ).withColumn("ok", F.col("reasons") == "")


def preceding_max_ts_window():
    """THE ordering window for out-of-order detection, read by
    suite.check_flags' seq_order flag (shared by the verdicts, the
    state, the quarantine router and out_of_order_turns): per
    conversation, ordered by (turn_idx, ts) (the ts tie-break makes the
    preceding-max deterministic even under duplicate turn_idx), frame =
    all earlier rows."""
    return (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", "ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )


def out_of_order_turns(df: DataFrame) -> DataFrame:
    """Rows whose ts is strictly below the max ts of any earlier turn:
    the rows suite.check_flags flags seq_order (Catalyst prunes the
    other flags and the key window)."""
    from matric_spark.checks.suite import SuiteConfig, check_flags

    flagged = check_flags(df, SuiteConfig(), df.columns)
    return flagged.filter(F.col("seq_order")).select(*df.columns)


def text_parity(df: DataFrame, reference: DataFrame) -> DataFrame:
    """Per-turn text equality vs a reference table under the STABLE
    (conv_id, turn_idx) window ordering (BASELINE.json input_hint).

    Joining on the raw key would fan out under duplicate keys, so each
    side gets a positional sequence number from a
    ``Window.partitionBy(conv_id).orderBy(turn_idx, ts, text)`` —
    deterministic because fully-identical rows are interchangeable —
    and turns are compared position-by-position (full outer join;
    NULL-safe equality).
    """

    def seq(d: DataFrame, out: str) -> DataFrame:
        w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts", "text")
        return d.select(
            "conv_id",
            "turn_idx",
            F.row_number().over(w).alias("seq"),
            F.col("text").alias(out),
        )

    a = seq(df, "text_actual")
    b = seq(reference, "text_expected").drop("turn_idx")
    joined = a.join(b, on=["conv_id", "seq"], how="full_outer")
    return joined.filter(~F.col("text_actual").eqNullSafe(F.col("text_expected")))


def partition_spillover(
    df: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> DataFrame:
    """Keys whose rows span MORE THAN ONE partition → one row per
    spilled key: (key..., n_rows, n_partitions, part_min, part_max).

    The partition-hygiene check behind every pruning claim: state
    resume, per-partition verdicts and partition-pruned re-validation
    all assume a conversation lives in one partition — a conv_id
    spilling across part_month means a scan planned for one partition
    silently misses turns. min/max bound the spill extent (adjacent
    months = a boundary straddle; distant = a corrupt key).

    One combinable aggregate (count + count_distinct + min/max) keyed on
    the conversation key — same two-phase shape as the uniqueness check,
    so it scales identically (the shuffle carries key + 4 scalars).
    """
    return (
        df.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col(partition_col)).alias("n_partitions"),
            F.min(partition_col).alias("part_min"),
            F.max(partition_col).alias("part_max"),
        )
        .filter(F.col("n_partitions") > 1)
    )


def role_latency(df: DataFrame) -> DataFrame:
    """Inter-turn arrival gaps per (part_month, role): for every turn
    with a predecessor in its conversation, gap = epoch(ts) −
    epoch(prev ts) under the stable (turn_idx, ts, composed-string)
    ordering conversation_tapes uses → one row per (part_month, role):
    (n_gaps, neg_gaps, avg_gap_s, min_gap_s, max_gap_s).

    Reads two QA signals at once: latency drift (a role's avg gap
    ballooning in one partition = a stuck producer) and ordering
    anomalies (neg_gaps > 0 = timestamps running backwards along the
    turn index — the aggregate view of seq_out_of_order's row listing).
    Ties on the full sort key imply equal timestamps, so gaps are
    well-defined even on the planted duplicate keys.

    One window over (conv_id) + one combinable aggregate; the text
    column feeds only the tie-break string and never crosses the
    aggregate shuffle.
    """
    s = turn_order_string()
    w = Window.partitionBy("conv_id").orderBy(
        F.asc("turn_idx"), F.asc("ts"), F.asc(s)
    )
    e = F.unix_timestamp("ts")
    g = df.select(
        "part_month",
        "role",
        (e - F.lag(e).over(w)).alias("gap"),
    )
    return g.groupBy("part_month", "role").agg(
        F.count("gap").alias("n_gaps"),
        F.sum(F.when(F.col("gap") < 0, 1).otherwise(0)).alias("neg_gaps"),
        F.avg("gap").alias("avg_gap_s"),
        F.min("gap").alias("min_gap_s"),
        F.max("gap").alias("max_gap_s"),
    )
