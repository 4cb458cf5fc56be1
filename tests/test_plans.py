"""Physical-plan audits: assert the plans ARE the plans the scale story
claims — filters pushed to the parquet scan, small sides broadcast, no
accidental cartesian products, codegen in the hot path. These are the
`.explain("formatted")` checks SURVEY §4 promises, as tests so they
cannot rot.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def transcripts_parquet(spark, sf_dir, tmp_path_factory):
    """Materialized transcript table — the production scan shape."""
    from matric_spark.sources.transcripts_view import transcript_df

    d = str(tmp_path_factory.mktemp("tplan") / "transcripts")
    transcript_df(spark, sf_dir).write.partitionBy("part_month").parquet(d)
    return d


def test_partition_pruning_on_state_resume_predicate(spark, transcripts_parquet):
    """The resume path's NOT-IN-completed filter must prune partitions
    at the scan (PartitionFilters), reading no completed data files."""
    t = spark.read.parquet(transcripts_parquet)
    pruned = t.filter(~F.col("part_month").isin([199201, 199202]))
    p = plan(pruned)
    assert "PartitionFilters" in p and "part_month" in p.split("PartitionFilters", 1)[1][:200]


def test_predicate_pushdown_to_scan(spark, transcripts_parquet):
    t = spark.read.parquet(transcripts_parquet)
    q = t.filter(F.col("role") == "assistant").select("conv_id", "turn_idx")
    p = plan(q)
    pushed = p.split("PushedFilters", 1)[1][:200] if "PushedFilters" in p else ""
    assert "role" in pushed  # filter reached the parquet reader
    # column pruning: text must NOT be read for this projection
    read_schema = p.split("ReadSchema", 1)[1][:300] if "ReadSchema" in p else p
    assert "text" not in read_schema


def test_referential_check_broadcasts_domain_no_shuffle(spark, transcripts_parquet):
    """The ref_role/ref_tool violation rows are the verdict flags as a
    scan filter (suite.row_local_flags). The domain ships to every task
    inside the plan as an IN-list literal, so the table side never
    shuffles and no join is needed to bring the domain to it."""
    from matric_spark.checks.suite import run_violations

    t = spark.read.parquet(transcripts_parquet)
    for check in ("ref_role", "ref_tool"):
        p = plan(run_violations(t)[check])
        assert " IN (" in p, check
        assert "Exchange" not in p and "hashpartitioning" not in p, check


def test_referential_domain_needs_no_python_worker(spark, transcripts_parquet):
    """A list domain is built on the JVM: no Python RDD scan (one
    Python-worker job per check run) and no join of any kind."""
    from matric_spark.checks.suite import run_violations

    t = spark.read.parquet(transcripts_parquet)
    for check in ("ref_role", "ref_tool"):
        p = plan(run_violations(t)[check])
        assert "ExistingRDD" not in p and "Join" not in p, check


def test_suite_scalar_domains_are_inlist_no_join(spark, transcripts_parquet):
    from matric_spark.checks.suite import SuiteConfig, check_counts

    t = spark.read.parquet(transcripts_parquet)
    p = plan(check_counts(t, SuiteConfig()))
    # domains as IN-list expressions inside the aggregate, no join node
    # (with AQE the pre-execution plan hides codegen *(n) markers; the
    # fused 2-aggregate shape is asserted in the sibling test)
    assert "Join" not in p and " IN (" in p


def test_filter_spec_join_is_broadcast(spark):
    """Predicate-by-example spec sides must broadcast (SURVEY §2.4)."""
    from matric_spark.operators.pairs import all_pairs
    from matric_spark.operators.sim_filter import filter_keep_some

    pop = spark.createDataFrame(
        [(i, i % 3) for i in range(100)], "id long, label int"
    )
    spec = spark.createDataFrame([(1,)], "label int")
    p = plan(filter_keep_some(all_pairs(pop), pop, spec))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_within_group_pairs_is_equi_join_not_cartesian(spark):
    """Optimized pair-gen must be a keyed join — the whole point of
    R/sim_calculate.R:162-301's rewrite (SURVEY §4 row 1)."""
    from matric_spark.operators.pairs import within_group_pairs

    pop = spark.createDataFrame(
        [(i, i % 5) for i in range(100)], "id long, label int"
    )
    p = plan(within_group_pairs(pop, ["label"]))
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or ("ShuffledHashJoin" in p)


def test_conv_keyed_metrics_one_exchange_one_sort(spark, transcripts_parquet):
    """The flag pass's sequence+uniqueness windows must ride ONE conv_id
    exchange and ONE sort: hashpartitioning(conv_id) satisfies the key
    window's ClusteredDistribution(conv_id, turn_idx) and the sequence
    sort (conv_id, turn_idx, ts) covers its (conv_id, turn_idx)
    ordering — if either stops holding, a second exchange/sort of the
    full table appears and this pins the regression. Text is read at
    the scan for null_text but must never enter an exchange."""
    import re

    from matric_spark.checks.suite import SuiteConfig, check_counts

    t = spark.read.parquet(transcripts_parquet)
    p = plan(check_counts(t, SuiteConfig()))
    assert p.count("hashpartitioning(conv_id") == 1
    assert p.count("Sort (") == 1  # tree node: the (conv,turn,ts) sort
    assert p.count("Window (") == 2  # tree nodes: prev-max + key-count
    # the wide column never crosses the wire (\b: null_text# is a flag)
    assert not any(re.search(r"\btext#\d+", i) for i in _exchange_inputs(p))


def test_scalar_suite_is_single_aggregate(spark, transcripts_parquet):
    """All row checks fuse into ONE partial+final aggregate pass."""
    from matric_spark.checks.suite import SuiteConfig, check_counts

    t = spark.read.parquet(transcripts_parquet)
    p = plan(check_counts(t, SuiteConfig()))
    # tree section: exactly partial + final ("HashAggregate (n)" lines)
    assert p.count("HashAggregate (") == 2
    assert "Join" not in p


def test_run_verdicts_scans_table_twice(spark, transcripts_parquet):
    """run_verdicts reads the table exactly twice: ONE flag pass (every
    row check) and ONE text-only drift sketch scan, whose three consumers
    share its exchange (counted in the executed AQE plan, after reuse)."""
    import re

    from matric_spark.checks.suite import run_verdicts

    df = run_verdicts(spark.read.parquet(transcripts_parquet))
    df.collect()
    final = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    schemas = re.findall(r"FileScan parquet [^\n]*ReadSchema: (struct<[^\n]*?>)", final)
    assert len(schemas) == 2, schemas
    assert "struct<text:string>" in schemas, schemas


def test_uniqueness_hash_phase_aggregates_on_long(spark, transcripts_parquet):
    from matric_spark.checks.suite import SuiteConfig
    from matric_spark.checks.uniqueness import duplicate_keys

    t = spark.read.parquet(transcripts_parquet)
    p = plan(duplicate_keys(t, SuiteConfig().key))
    assert "xxhash64" in p  # candidate phase keyed on the 64-bit hash
    assert "CartesianProduct" not in p


def test_assemble_population_has_no_single_partition_exchange(spark):
    """The hash surrogate-id path must never funnel the table through a
    SinglePartition exchange (the old Window.orderBy(*all) total sort)."""
    rows = [(float(i), f"p{i % 3}", float(i), float(2 * i)) for i in range(50)]
    df = spark.createDataFrame(
        rows, "Metadata_group double, Metadata_plate string, x double, y double"
    )
    from matric_spark.operators.population import assemble_population

    p = plan(assemble_population(df))
    assert "SinglePartition" not in p
    assert "xxhash64" in p  # bucketed surrogate id in play


def test_lsh_candidate_exchange_carries_ids_only(spark):
    """The shared candidate join (dedup.candidate_pairs) inside the ANN
    LSH near-dup must shuffle (vec_id, band_idx, band_val) only — never
    the embedding vector (which is n_bands× the bytes after the
    posexplode). The vectors re-join AFTER candidate dedup, for
    verification."""
    import re

    from matric_spark.operators.ann import embedding_near_dup_lsh

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    p = plan(embedding_near_dup_lsh(emb, dim=4))
    # formatted plan: an Exchange node block lists its columns as
    # "Input [k]: [cols]" above "Arguments: hashpartitioning(...)";
    # every Exchange keyed on the band columns must be free of
    # array-typed vector columns
    blocks = re.split(r"\n\(\d+\) ", p)
    exchanges = [
        b for b in blocks if b.startswith("Exchange") and "band_val" in b
    ]
    assert exchanges, "expected a band-keyed exchange in the candidate join"
    for b in exchanges:
        cols = next(ln for ln in b.splitlines() if ln.startswith("Input"))
        assert "vec_id" in cols, cols
        assert "embedding" not in cols and " v#" not in cols, cols


def test_shingle_arrays_one_md5_chain(spark):
    """shingle_hash_arrays reads only the low token-hash chain of the
    shared staging (`_staged_md`): Catalyst prunes the high chain, so
    the plan holds one md5 and no shiftright."""
    from matric_spark.operators.dedup import shingle_hash_arrays

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "doc_id long, text string"
    )
    p = plan(shingle_hash_arrays(docs), "extended").split(
        "== Physical Plan ==", 1
    )[1]
    assert p.count("md5(") == 1 and "shiftright" not in p, p


def test_ngram_bounded_candidates_single_shuffle_no_self_join(spark):
    """The default (bounded) ngram path must build candidate pairs from
    per-shingle doc lists — ONE groupBy(h) shuffle of the shingle
    relation, pair fan-out generated JVM-side — instead of a two-sided
    self-equi-join plus a separate df-count pass (3 shuffles)."""
    from matric_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc{i} zeta", "en", "s")
         for i in range(30)],
        "doc_id long, text string, lang string, source string",
    )
    p = plan(ngram_jaccard_pairs(docs, 0.1))
    assert "collect_list" in p
    assert "LeftAnti" not in p
    assert "CartesianProduct" not in p
    # only sort-merge joins allowed are the two size-attach joins on
    # id1/id2 — the candidate build itself must not self-join on h
    import re

    smj_keys = re.findall(r"SortMergeJoin \[(\w+)#", p)
    assert all(k in ("id1", "id2") for k in smj_keys), smj_keys


def test_ann_topk_ivf_search_is_keyed_join_with_broadcast_queries(spark):
    """The IVF search must join corpus↔probes on the cell id with the
    (small) query side broadcast — never a cartesian scan of the corpus
    per query (that would be brute force with extra steps)."""
    from matric_spark.operators.ann import ann_topk_ivf

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3), 0.5]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id < 4")
    p = plan(ann_topk_ivf(emb, q, k=3, n_centroids=4, nprobe=2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_kendall_pair_join_is_keyed_not_cartesian(spark):
    """The kendall blocked path reuses the strata equi-join pair-gen —
    the Arrow kernel must sit on top of keyed joins, no cartesian."""
    from matric_spark.operators.pairs import sim_calculate

    pop = spark.createDataFrame(
        [(i, [float(i), float(i % 5), 1.0], i % 4) for i in range(60)],
        "id long, features array<double>, label int",
    )
    p = plan(sim_calculate(pop, "kendall", strata=["label"]))
    assert "CartesianProduct" not in p
    assert "ArrowEvalPython" in p or "MapInPandas" in p  # vectorized boundary


def _nodes_below(p: str, name: str) -> set[str]:
    """Ids of the nodes in the subtree under the first `name` node of a
    formatted plan's tree section."""
    lines = p.split("\n\n", 1)[0].splitlines()
    at = next(i for i, ln in enumerate(lines) if ln.lstrip(" :+-").startswith(name))

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    ids = set()
    for ln in lines[at + 1 :]:
        if depth(ln) <= depth(lines[at]):
            break
        ids.update(re.findall(r"\((\d+)\)$", ln))
    return ids


def test_collate_theta_subsets_join_metadata_once(spark, sf_dir):
    """Every sim_collate subset is ONE equi-join on its same-key whose
    sides carry the columns its pair rule reads (the theta inequalities,
    the ref subset's rep_ref rule): no pair list below the Union is
    joined back to the metadata or to another pair list on id1/id2, by a
    join of any type. Parent plans: 14 parquet scans / 9 broadcast
    exchanges / 9 broadcast hash joins with the non_rep re-joins, then
    12/7/7 plus a sort-merge left_anti join and 3 shuffle exchanges with
    the ref anti-join."""
    import __spark_entry__ as e

    p = plan(e._collated_sims(spark, sf_dir))
    assert len(re.findall(r"\n\(\d+\) Scan parquet", p)) <= 10
    assert len(re.findall(r"\n\(\d+\) BroadcastExchange\n", p)) <= 6
    assert len(re.findall(r"\n\(\d+\) BroadcastHashJoin\n", p)) <= 6
    assert "SortMergeJoin" not in p
    assert len(re.findall(r"\n\(\d+\) Exchange\n", p)) <= 1
    for node in _nodes_below(p, "Union"):
        m = re.search(rf"\n\({node}\) \w*Join\n(.*?)(?=\n\n|\Z)", p, re.S)
        keys = m and re.search(r"Left keys \[\d+\]: \[(.*?)\]", m.group(1))
        assert not (keys and re.search(r"\bid[12]#", keys.group(1))), m.group(0)


def test_uniqueness_violation_rows_filter_the_flag_pass(spark, transcripts_parquet):
    """The uniqueness violation rows are the verdicts' own flag pass,
    filtered: no key hash and no join."""
    from matric_spark.checks.suite import run_violations

    p = plan(run_violations(spark.read.parquet(transcripts_parquet))["uniqueness"])
    assert "xxhash64" not in p and "Join" not in p
    assert "Window" in p


def test_pvalues_need_no_python_worker(spark, sf_dir):
    """attach_ap_pvalues simulates the permutation nulls on the driver and
    ships them as a local relation: no Python-worker node in the plan."""
    import __spark_entry__ as e
    from matric_spark.operators.signif import attach_ap_pvalues

    p = plan(attach_ap_pvalues(e._level10(spark, sf_dir), nn=1000))
    for node in (
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "PythonUDF",
    ):
        assert node not in p, node
    assert "LocalTableScan" in p


def test_metrics_reuses_exchange_across_branches(spark):
    """sim_metrics is ONE window pass and ONE groupBy over a single
    hash partitioning on the summary columns: every metric reads the
    same exchange, so no branch can recompute the pair pipeline, and
    nothing is joined back or held in a cache."""
    from matric_spark.operators.metrics import sim_metrics

    rows = [(1, i, "rep" if i % 3 else "non_rep", float(i % 7)) for i in range(60)]
    df = spark.createDataFrame(rows, "id1 int, id2 int, type string, sim double")
    out = sim_metrics(df, ["id1"])
    p = plan(out)
    assert p.count("(Exchange") + p.count("- Exchange") == 1
    assert "hashpartitioning(id1#" in p
    assert "Join" not in p
    assert "InMemoryTableScan" not in p


def test_asof_join_is_single_shuffle_no_join(spark):
    """asof_join must compile to ONE hash-partitioned exchange on the
    keys + a window sort — no join operator of any kind (the union-scan
    formulation), so there is nothing to explode on skewed keys."""
    import datetime as dt

    from matric_spark.operators.events import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i % 3, t0 + dt.timedelta(seconds=i), i) for i in range(50)],
        "k int, ts timestamp, i int",
    )
    right = spark.createDataFrame(
        [(i % 3, t0 + dt.timedelta(seconds=2 * i), float(i)) for i in range(30)],
        "k int, ts timestamp, v double",
    )
    p = plan(asof_join(left, right, on=["k"]))
    for j in ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
              "BroadcastNestedLoopJoin", "ShuffledHashJoin"]:
        assert j not in p, j
    # exactly one exchange, and it is a hash partitioning on the keys
    assert p.count("(Exchange") + p.count("- Exchange") == 1
    assert "hashpartitioning(k#" in p
    assert "Window" in p


def test_connected_components_shuffles_ids_only(spark, monkeypatch):
    """The label-propagation loop must never carry anything except the
    two long columns — no wide payloads in its exchanges."""
    from matric_spark.operators import graph
    from matric_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "_LOCAL_EDGES", -1)  # force the loop
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], ["id1", "id2"]
    ).withColumn("payload", F.lit("x" * 100))
    out = connected_components(pairs)
    assert set(out.columns) == {"v", "cluster_id"}
    # the payload column must not survive into the loop's plan
    assert "payload" not in plan(out)


def test_hash_split_is_narrow_no_shuffle(spark):
    """Split assignment is a pure map: zero exchanges in the plan."""
    from matric_spark.operators.sampling import hash_split

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    p = plan(hash_split(df, ["doc_id"]))
    assert "Exchange" not in p


def test_interval_join_is_equi_join_not_nested_loop(spark):
    """The bucketized range join must compile to an equi-join on
    (keys, bucket) — never a BroadcastNestedLoopJoin / cartesian, which
    is what a naive inequality join degenerates to."""
    import datetime as dt

    from matric_spark.operators.events import interval_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i % 3, t0, t0 + dt.timedelta(minutes=90), i) for i in range(30)],
        "k int, session_start timestamp, session_end timestamp, i int",
    )
    right = spark.createDataFrame(
        [(i % 3, t0 + dt.timedelta(minutes=i), float(i)) for i in range(60)],
        "k int, ts timestamp, v double",
    )
    p = plan(interval_join(left, right, ["k"]))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "_b" in p  # joined through the bucket column


def test_conv_verdicts_single_shuffle(spark):
    """conv_verdicts' window (lag + preceding-max) and the per-conv
    aggregate must share ONE hashpartitioning exchange on conv_id —
    the aggregate reuses the window's distribution."""
    import datetime as dt

    from matric_spark.checks.sequence import conv_verdicts

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(f"c{i % 5}", i // 5, "user", "t", None,
          t0 + dt.timedelta(seconds=i)) for i in range(50)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    p = plan(conv_verdicts(df))
    import re

    n_exchanges = len(re.findall(r"\n\(\d+\) Exchange\b", p))
    assert n_exchanges == 1, p


def test_duplicated_spans_flags_by_semi_join_no_fanout(spark):
    """Position flagging joins the duplicated-hash set LEFT SEMI — a hot
    window hash must never fan out candidate rows — and nothing in the
    plan is a cartesian/nested-loop."""
    from matric_spark.operators.dedup import duplicated_spans

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("w1 w2 w3 w4 w5"), F.col("id").cast("string")).alias("text"),
    )
    p = plan(duplicated_spans(docs, window=4))
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


def test_shingle_novelty_is_keyed_anti_join(spark):
    """The reference corpus reduces to a distinct hash relation and the
    new batch anti-joins it on h: LeftAnti, keyed, no nested loop."""
    from matric_spark.operators.dedup import shingle_novelty

    mk = lambda n0: spark.range(n0, n0 + 40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("a b c"), F.col("id").cast("string")).alias("text"),
    )
    p = plan(shingle_novelty(mk(0), mk(1000)))
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


def test_weighted_sample_corpus_side_never_shuffles(spark):
    """The only exchanges are the tiny global (sum_w, n) aggregate and
    its broadcast back — the corpus itself is filtered in place (no
    hash-partitioned shuffle of data rows)."""
    from matric_spark.operators.sampling import weighted_hash_sample

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("w")
    )
    p = plan(weighted_hash_sample(df, ["doc_id"], "w", 0.2))
    assert "BroadcastExchange" in p
    assert "Exchange hashpartitioning" not in p


def _exchange_inputs(p: str) -> list[str]:
    """The `Input [...]` attribute list of every shuffle-Exchange detail
    section of a formatted plan — what actually crosses the wire."""
    import re

    out = []
    for m in re.finditer(r"\n\(\d+\) Exchange\n(.*?)(?=\n\(\d+\) |\Z)", p, re.S):
        sec = m.group(1)
        im = re.search(r"Input \[\d+\]: \[(.*?)\]", sec)
        if im:
            out.append(im.group(1))
    return out


def test_exchange_inputs_helper_catches_text_shuffle(spark, transcripts_parquet):
    """Self-test of the audit helper (review finding: a skeleton-line
    regex passed vacuously): a plan that deliberately shuffles raw text
    MUST be caught."""
    import re

    t = spark.read.parquet(transcripts_parquet)
    p = plan(t.groupBy("text").count())
    ins = _exchange_inputs(p)
    assert ins and any(re.search(r"\btext#\d+", i) for i in ins)


def test_fd_violations_hashes_payload_before_shuffle(spark, transcripts_parquet):
    """The FD aggregate's exchange must carry the 60-bit payload hash,
    never the raw text column."""
    import re

    from matric_spark.checks.constraints import fd_violations

    t = spark.read.parquet(transcripts_parquet)
    p = plan(fd_violations(t, ["conv_id", "turn_idx"], ["text", "role"]))
    ins = _exchange_inputs(p)
    assert ins, p  # there is a shuffle (the group-by aggregate)
    assert not any(re.search(r"\btext#\d+", i) for i in ins), ins


def test_vocab_drift_broadcasts_adjacency_not_tokens(spark, transcripts_parquet):
    """The month-adjacency side joins broadcast; the token-keyed
    intersection join must be a hash/merge join on the token hash, not a
    nested loop — and no shuffle may carry the raw text column."""
    import re

    from matric_spark.operators.text_analysis import vocab_drift

    t = spark.read.parquet(transcripts_parquet)
    p = plan(vocab_drift(t, "part_month"))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert not any(
        re.search(r"\btext#\d+", i) for i in _exchange_inputs(p)
    )


def test_boilerplate_shuffle_carries_hash_not_text(spark, transcripts_parquet):
    """cross_group_duplicates must shuffle (content_fp, conv_id) only."""
    import re

    from matric_spark.operators.dedup import cross_group_duplicates

    t = spark.read.parquet(transcripts_parquet)
    p = plan(cross_group_duplicates(t, "conv_id", "text", 10))
    ins = _exchange_inputs(p)
    assert ins, p
    assert not any(re.search(r"\btext#\d+", i) for i in ins), ins


def test_exact_k_window_is_single_shuffle_per_stratum(spark):
    """exact_k_per_stratum: one exchange keyed by the stratum, one
    window — no join, no extra exchange."""
    from matric_spark.operators.sampling import exact_k_per_stratum

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(100)],
        "doc_id long, lang string",
    )
    import re

    p = plan(exact_k_per_stratum(df, ["doc_id"], "lang", 5))
    assert len(re.findall(r"\n\(\d+\) Exchange\b", p)) == 1
    assert "Window" in p and "Join" not in p
    # Catalyst inserts WindowGroupLimit: only <=k rows per stratum per
    # input partition cross the exchange — the scale guard for free
    assert "WindowGroupLimit" in p


def test_quarantine_summary_shuffles_no_text(spark, transcripts_parquet):
    """The summary path projects before its two windows: no exchange may
    carry the raw text column (row-local flags are computed at the
    scan)."""
    import re

    from matric_spark.checks.quarantine import quarantine_summary

    t = spark.read.parquet(transcripts_parquet)
    p = plan(quarantine_summary(t))
    ins = _exchange_inputs(p)
    assert ins, p
    assert not any(re.search(r"\btext#\d+", i) for i in ins), ins


def test_funnel_single_user_shuffle_no_join(spark):
    """The funnel is ONE groupBy(user) shuffle of projected (user,
    epoch, type) rows + a codegen array state machine — no join chain,
    no per-step exchange."""
    import datetime as dt
    import re

    from matric_spark.operators.events import funnel

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i % 7, t0 + dt.timedelta(seconds=i), "AB"[i % 2]) for i in range(60)],
        "user_id long, ts timestamp, event_type string",
    )
    p = plan(funnel(df, ["A", "B"], max_gap_s=10))
    assert "Join" not in p
    # exchanges: the groupBy(user) + the final single-row aggregate
    assert len(re.findall(r"\n\(\d+\) Exchange\b", p)) <= 2


def test_doc_lm_score_does_not_broadcast_vocab(spark, sf_dir):
    """The corpus term-frequency relation is |vocab|-sized (1e8-1e9
    distinct tokens on a web corpus) — it must join back on `token` as a
    shuffle hash/merge join, never a BroadcastExchange. The only
    broadcast allowed is the 1-row `totals` scalar relation."""
    import re

    from matric_spark.operators.text_analysis import doc_lm_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # with auto-broadcast off, only HINTED broadcasts survive in the
    # plan — so any BroadcastExchange carrying token/ctf would mean the
    # code forces the vocab broadcast (the at-scale OOM). The optimizer
    # is still free to pick broadcast from size stats at toy scale;
    # that's correct behavior, not a forced hint.
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(doc_lm_score(docs))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    sections = re.finditer(
        r"\n\(\d+\) BroadcastExchange\n(.*?)(?=\n\(\d+\) |\Z)", p, re.S
    )
    for m in sections:
        im = re.search(r"Input \[\d+\]: \[(.*?)\]", m.group(1))
        assert im and not re.search(r"\b(token|ctf)#\d+", im.group(1)), m.group(1)


def test_tfidf_topk_does_not_broadcast_vocab(spark, sf_dir):
    """Same contract as doc_lm_score: the document-frequency relation is
    |vocab|-sized and must never be hint-broadcast; only the 1-row
    n_docs scalar may ride a BroadcastExchange."""
    import re

    from matric_spark.operators.text_analysis import tfidf_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(tfidf_topk(docs, k=5))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    sections = re.finditer(
        r"\n\(\d+\) BroadcastExchange\n(.*?)(?=\n\(\d+\) |\Z)", p, re.S
    )
    for m in sections:
        im = re.search(r"Input \[\d+\]: \[(.*?)\]", m.group(1))
        assert im and not re.search(r"\b(token|df)#\d+", im.group(1)), m.group(1)


def test_payload_audit_is_single_aggregate_no_join(spark):
    """The JSON payload audit is ONE codegen scan + partial/final
    aggregate: no join, no UDF (get_json_object/rlike are JVM
    expressions), and the violation emitter has no shuffle at all."""
    from matric_spark.checks.payload import (
        json_payload_audit,
        json_payload_violations,
    )

    df = spark.createDataFrame(
        [(1, "a", '{"k": 1}')], "event_id long, event_type string, props string"
    )
    p = plan(json_payload_audit(df, "props", "k", 0, 90))
    assert p.count("HashAggregate (") == 2 and "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    pv = plan(json_payload_violations(df, "props", "k", 0, 90))
    assert "Exchange" not in pv and "Join" not in pv


def test_embedding_drift_shuffle_is_per_dim_partials(spark):
    """embedding_cohort_drift's only exchange carries the per-dimension
    partial aggregates (hashpartitioning on dim), never the vectors."""
    import re

    from matric_spark.checks.embedding import embedding_cohort_drift

    df = spark.createDataFrame(
        [(1, 0, [1.0, 2.0]), (2, 1, [3.0, 4.0])],
        "vec_id long, grp int, embedding array<float>",
    )
    p = plan(embedding_cohort_drift(df, F.col("grp") == 1))
    assert p.count("HashAggregate (") == 2 and "Join" not in p
    ex = re.findall(r"\n\(\d+\) Exchange\n(.*?)(?=\n\(\d+\) |\Z)", p, re.S)
    assert len(ex) == 1 and "hashpartitioning(dim" in ex[0]
    im = re.search(r"Input \[\d+\]: \[(.*?)\]", ex[0])
    assert im and "embedding#" not in im.group(1), im.group(1)


@pytest.mark.parametrize("sketch", ["quantiles", "distinct"])
def test_sketch_is_one_native_partial_aggregate(spark, transcripts_parquet, sketch):
    """Each sketch call is one native aggregate: a partial phase, ONE
    exchange of its partials and a final phase, with no Python-worker
    operator anywhere in the plan."""
    from matric_spark.operators.sketches import hll_distinct, tdigest_quantiles

    t = spark.read.parquet(transcripts_parquet)
    if sketch == "quantiles":
        df = tdigest_quantiles(
            t.withColumn("_len", F.length("text")), ["part_month"], "_len", [0.5, 0.95]
        )
    else:
        df = hll_distinct(t, ["part_month"], "conv_id")
    p = plan(df)
    assert "Python" not in p and "InPandas" not in p
    assert p.count("Exchange (") == 1  # tree node
    assert p.count("HashAggregate (") == 2 and "partial_" in p  # partial + final


def test_drift_grid_is_one_window_exchange(spark, transcripts_parquet):
    """KS, PSI and EMD come from ONE partition x value grid: the plan
    has exactly one exchange on p alone (the one that clusters the
    grid's Window), and nothing above the grid Window shuffles again —
    the (p, bucket) and p group-bys and the bucket-count window reuse
    its partitioning."""
    import re

    from matric_spark.checks.drift import counts_sketch, drift_by_partition

    t = spark.read.parquet(transcripts_parquet)
    p = plan(drift_by_partition(counts_sketch(t, "part_month", F.length("text")), "part_month"))
    tree = p.split("\n\n", 1)[0].splitlines()
    grid_window = max(i for i, ln in enumerate(tree) if "Window (" in ln)
    assert not any("Exchange" in ln for ln in tree[:grid_window]), tree
    on_p = re.findall(r"Arguments: hashpartitioning\(p#\d+, \d+\)", p)
    assert len(on_p) == 1, p


def test_run_verdicts_reads_no_cache(spark, transcripts_parquet):
    """The drift sketch's consumers share one reused exchange, so the
    suite persists nothing: no InMemoryTableScan in the executed plan."""
    from matric_spark.checks.suite import run_verdicts

    out = run_verdicts(spark.read.parquet(transcripts_parquet))
    out.collect()
    assert "InMemoryTableScan" not in plan(out)


@pytest.mark.parametrize("name, budget", [("verdicts", 24), ("verdicts_extended", 32)])
def test_verdicts_warm_job_budget(spark, sf_dir, name, budget):
    """Warm Spark job count of the flagship suites at sf0.001 (one
    warm-up call first). Measured on Spark 4.1.2, local[4]: verdicts 13,
    verdicts_extended 21; the budgets leave headroom for AQE timing."""
    import __spark_entry__ as e

    build = e.queries()[name]
    sc = spark.sparkContext
    build(spark, sf_dir).collect()
    group = f"job_budget_{name}"
    sc.setJobGroup(group, group)
    try:
        build(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= budget, jobs
