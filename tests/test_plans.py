"""Physical-plan assertions: the scale properties SURVEY §4 promises must be
visible in ``.explain`` — broadcast TF joins, equi-join blocking (no
nested-loop for equality rules), column pruning down to the parquet scan,
broadcast blocking joins for small node tables."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import splink_spark.internals.comparison_library as cl
from splink_spark import Linker, SettingsCreator, block_on, CustomRule
from splink_spark.internals.blocking import block_using_rules


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _set(comp, mus):
    for lv in comp.comparison_levels:
        if not lv.is_null_level:
            lv.m_probability, lv.u_probability = mus[lv.comparison_vector_value]
    return comp


@pytest.fixture(scope="module")
def parquet_persons(spark, persons, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "persons.parquet")
    persons.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _linker(parquet_persons):
    settings = SettingsCreator(
        comparisons=[
            _set(cl.ExactMatch("surname"), {1: (0.9, 0.02), 0: (0.1, 0.98)}),
            _set(cl.ExactMatch("city", term_frequency_adjustments=True),
                 {1: (0.8, 0.2), 0: (0.2, 0.8)}),
        ],
        blocking_rules_to_generate_predictions=[block_on("dob")],
        probability_two_random_records_match=0.05,
    )
    return Linker(parquet_persons, settings)


def test_equality_blocking_is_equi_join(spark, parquet_persons):
    pairs = block_using_rules(parquet_persons, [block_on("dob")])
    plan = _plan(pairs)
    assert "BroadcastNestedLoopJoin" not in plan, (
        "equality blocking rule must become a hash/sort-merge equi-join"
    )
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)


def test_non_equi_blocking_degrades_to_nested_loop(spark, parquet_persons):
    """The documented degradation (reference docs warn): pure inequality
    rules nested-loop; blocking_analysis exists to warn beforehand."""
    rule = CustomRule("levenshtein(first_name_l, first_name_r) <= 1")
    pairs = block_using_rules(parquet_persons, [rule])
    assert "BroadcastNestedLoopJoin" in _plan(pairs)


def test_tf_join_is_broadcast(spark, parquet_persons):
    linker = _linker(parquet_persons)
    plan = _plan(linker.df_concat_with_tf())
    assert "BroadcastHashJoin" in plan, "TF re-join must broadcast the tf table"


def test_junction_join_broadcasts_small_nodes(spark, parquet_persons):
    linker = _linker(parquet_persons)
    scored = linker.inference.predict()
    plan = _plan(scored)
    assert "SortMergeJoin" not in plan, (
        "12-row node table must broadcast through the junction re-join"
    )


def test_column_pruning_reaches_scan(spark, parquet_persons):
    """The junction join carries only comparison inputs + uid: the parquet
    ReadSchema must not include unused columns (email)."""
    linker = _linker(parquet_persons)
    cv = linker.comparison_vectors()
    plan = cv._jdf.queryExecution().optimizedPlan().toString()
    # optimized plan's relation output should prune email for the narrow side
    scored_cols = set(cv.columns)
    assert "email_l" not in scored_cols and "email_r" not in scored_cols
    assert "first_name_l" not in scored_cols, "only declared inputs carried"
    assert {"surname_l", "surname_r", "city_l", "city_r", "tf_city_l"} <= scored_cols


def test_predict_threshold_is_filter_not_collect(spark, parquet_persons):
    linker = _linker(parquet_persons)
    scored = linker.inference.predict(threshold_match_probability=0.9)
    plan = _plan(scored)
    assert re.search(r"Filter .*match_probability|Filter .*CASE", plan, re.I) or "Filter" in plan


def test_whole_stage_codegen_covers_scoring(spark, parquet_persons):
    linker = _linker(parquet_persons)
    scored = linker.inference.predict()
    plan = _plan(scored)
    # executedPlan toString marks codegen stages with "*(n)" prefixes
    assert "WholeStageCodegen" in plan or re.search(r"\*\(\d+\)", plan), (
        "scoring math must stay inside codegen"
    )


def test_rule_blocked_gammas_match_caller_pairs(spark):
    """Rule-blocked gammas (columns carried through the blocking join, or
    junction-joined for an exploding rule) equal those of the same pairs
    sent through ``comparison_vectors(pairs=...)``, column order included:
    dedupe, link_only with source datasets, and an exploding rule. The
    small node table is broadcast into each rule's join, with no
    round-robin spread of the pairs."""
    from splink_spark.internals.comparison_vectors import id_pairs

    rows = [
        (i, f"name{i % 7}", i % 3, f"seg{i % 2}", [f"t{i % 4}", f"t{i % 5}"])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["unique_id", "name", "grp", "seg", "tags"])

    def settings(rules, link_type="dedupe_only"):
        return SettingsCreator(
            link_type=link_type,
            comparisons=[
                cl.ExactMatch("name"),
                cl.ExactMatch("seg", term_frequency_adjustments=True),
            ],
            blocking_rules_to_generate_predictions=rules,
            probability_two_random_records_match=0.1,
        )

    def check(linker):
        blocked = linker.comparison_vectors()
        pairs = id_pairs(blocked, linker.settings, F.col("match_key"))
        given = linker.comparison_vectors(pairs=pairs)
        assert blocked.columns == given.columns
        got, want = (sorted(tuple(r) for r in f.collect()) for f in (blocked, given))
        assert got == want and len(got) > 0
        return _plan(blocked)

    plan = check(Linker(df, settings([block_on("grp"), block_on("name")])))
    assert "RoundRobinPartitioning" not in plan and "SortMergeJoin" not in plan
    # one inner join per rule, building on the broadcast node side (the TF
    # joins inside the cached records are LEFT OUTER)
    assert len(re.findall(r"BroadcastHashJoin .*, Inner, BuildRight", plan)) == 2
    check(Linker([df.where("unique_id < 30"), df.where("unique_id >= 30")],
                 settings([block_on("grp")], "link_only")))
    check(Linker(df, settings([block_on("tags", arrays_to_explode=["tags"]),
                               block_on("grp")])))


def test_caller_pairs_are_joined_onto_the_linkers_own_records(spark):
    """Id pairs are junction-joined onto the linker's records only: records
    passed alongside them are refused, not silently ignored."""
    from splink_spark.internals.comparison_vectors import id_pairs

    df = spark.createDataFrame([(i, f"n{i % 2}") for i in range(4)], ["unique_id", "name"])
    settings = SettingsCreator(
        comparisons=[_set(cl.ExactMatch("name"), {1: (0.9, 0.1), 0: (0.1, 0.9)})],
        blocking_rules_to_generate_predictions=[block_on("name")],
        probability_two_random_records_match=0.1,
    )
    linker = Linker(df, settings)
    pairs = id_pairs(linker.comparison_vectors(), linker.settings, F.col("match_key"))
    for records in ({"nodes": df}, {"nodes_right": df}):
        with pytest.raises(ValueError, match="junction-joined"):
            linker.comparison_vectors(pairs=pairs, **records)


def test_blocking_broadcasts_each_side_from_its_own_count(spark, monkeypatch, count_jobs):
    """Between two record sets each side of the blocking join is broadcast
    from its own row count (cutover 3 here): of 2 and 10 records only the 2
    are broadcast, and a 2-record batch is broadcast against a 10-record
    base. Under a cutover the base meets, the base is broadcast and a new
    batch is not counted."""
    import splink_spark.internals.comparison_vectors as cv

    monkeypatch.setattr(cv, "BROADCAST_NODES_MAX_ROWS", 3)
    rows = [(i, f"n{i % 3}", f"c{i % 2}") for i in range(12)]
    df = spark.createDataFrame(rows, ["unique_id", "name", "city"])
    few, many = df.where("unique_id < 2"), df.where("unique_id >= 2")
    settings = SettingsCreator(
        comparisons=[_set(cl.ExactMatch("name"), {1: (0.9, 0.1), 0: (0.1, 0.9)})],
        blocking_rules_to_generate_predictions=[block_on("city")],
        probability_two_random_records_match=0.1,
    )
    linker = Linker(many, settings)
    between = _plan(linker.inference.predict_between(few, many))
    assert "Inner, BuildLeft" in between and "Inner, BuildRight" not in between
    found = _plan(linker.inference.find_matches_to_new_records(few))
    assert "Inner, BuildRight" in found
    monkeypatch.setattr(cv, "BROADCAST_NODES_MAX_ROWS", 100)
    # the first uncounted batch has the base counted, once per linker
    linker.inference.find_matches_to_new_records(df.where("unique_id < 4"))
    batch = df.where("unique_id < 3")
    jobs = count_jobs(lambda: linker.inference.find_matches_to_new_records(batch))
    assert jobs == 0 and not hasattr(batch, "_splink_row_count")
    found = _plan(linker.inference.find_matches_to_new_records(batch))
    assert "Inner, BuildLeft" in found and "Inner, BuildRight" not in found


def test_thresholded_predict_persists_only_survivors_one_scoring_pass(
    spark, parquet_persons
):
    """VERDICT r3 #4: with a threshold, the persisted narrow core holds ONLY
    the surviving rows, and scoring runs in ONE pass — the threshold filter
    must stay a plain attribute comparison above the scoring project, not be
    substituted into the junction join condition (which would evaluate the
    gamma CASE ladders + similarity expressions twice per pair)."""
    settings = SettingsCreator(
        comparisons=[
            _set(cl.LevenshteinAtThresholds("first_name", [2]),
                 {2: (0.8, 0.01), 1: (0.15, 0.09), 0: (0.05, 0.9)}),
            _set(cl.ExactMatch("surname"), {1: (0.9, 0.02), 0: (0.1, 0.98)}),
        ],
        blocking_rules_to_generate_predictions=[block_on("dob")],
        probability_two_random_records_match=0.05,
    )
    linker = Linker(parquet_persons, settings)
    out = linker.inference.predict(threshold_match_probability=0.5)
    narrow = out._splink_narrow

    # one scoring pass: no join condition may contain the scoring expression
    plan = narrow._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.split("\n"):
        if "Join" in line:
            assert "levenshtein" not in line and "CASE WHEN" not in line, (
                f"scoring expression pushed into a join condition: {line[:200]}"
            )

    # persisted rows == thresholded rows == returned rows; values match the
    # unthresholded run filtered after the fact
    linker2 = Linker(parquet_persons, settings)
    all_rows = linker2.inference.predict()
    expected = {
        (r["unique_id_l"], r["unique_id_r"], round(r["match_weight"], 9))
        for r in all_rows.where(F.col("match_probability") >= 0.5)
        .select("unique_id_l", "unique_id_r", "match_weight")
        .collect()
    }
    got = {
        (r["unique_id_l"], r["unique_id_r"], round(r["match_weight"], 9))
        for r in out.select("unique_id_l", "unique_id_r", "match_weight").collect()
    }
    assert got == expected and len(got) > 0
    assert narrow.count() == len(got)


def test_repeated_predict_compiles_no_new_code(spark, parquet_persons):
    """Every optimizer barrier is seeded (misc.optimizer_barrier), so a
    repeated identical thresholded predict generates the same Java and
    Spark's codegen cache serves it. An unseeded ``shuffle`` gets a fresh random
    seed per plan, written into the generated code: every predict compiled
    new classes and ran them JIT-cold."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    settings = SettingsCreator(
        comparisons=[
            _set(cl.LevenshteinAtThresholds("first_name", [2]),
                 {2: (0.8, 0.01), 1: (0.15, 0.09), 0: (0.05, 0.9)}),
            _set(cl.ExactMatch("surname"), {1: (0.9, 0.02), 0: (0.1, 0.98)}),
        ],
        blocking_rules_to_generate_predictions=[block_on("dob")],
        probability_two_random_records_match=0.05,
    )

    def predict_once():
        linker = Linker(parquet_persons, settings)
        linker.inference.predict(threshold_match_probability=0.5).collect()
        linker.misc.invalidate_cache()
        return codegen.METRIC_COMPILATION_TIME().getCount()

    # the first run also releases any equal plan an earlier test left
    # cached, so the next two run the same stages
    predict_once()
    second = predict_once()
    assert predict_once() == second


def test_bucketed_materialization_joins_without_exchange(spark, persons, tmp_path):
    """materialize_bucketed (SURVEY §7 step 10): two tables bucketed on the
    same key with the same bucket count must sort-merge-join with NO Exchange
    on either side (the write-time shuffle is the only one ever paid), while
    the plain parquet join shuffles both sides."""
    from splink_spark.internals.materialize import MaterializationPolicy

    policy = MaterializationPolicy(parquet_dir=str(tmp_path))
    left = persons.select("unique_id", "surname")
    right = persons.select("unique_id", "city")
    bl = policy.materialize_bucketed(left, ["unique_id"], num_buckets=4, stage="l")
    br = policy.materialize_bucketed(right, ["unique_id"], num_buckets=4, stage="r")
    # disable auto-broadcast: on tiny test tables the planner would broadcast
    # (and skip bucketed scans entirely); at scale neither side is
    # broadcastable, which is the regime bucketing exists for
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bl.join(br, on="unique_id")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == persons.count()

        # baseline: the un-bucketed equivalent shuffles both sides
        pl = str(tmp_path / "plain_l")
        pr = str(tmp_path / "plain_r")
        left.write.mode("overwrite").parquet(pl)
        right.write.mode("overwrite").parquet(pr)
        plain = spark.read.parquet(pl).join(spark.read.parquet(pr), on="unique_id")
        assert "Exchange" in _plan(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # cleanup drops the session-scoped tables and deletes their files
    policy.unpersist_all()
    assert not policy._bucketed_tables
    assert not [p for p in tmp_path.iterdir() if p.name.startswith("splink_bucketed_")]


def test_no_unbounded_cartesian_nodes_in_gate_queries(spark):
    """Scale-smell audit over EVERY driver gate query: a CartesianProduct or
    BroadcastNestedLoopJoin node is only acceptable when one side is bounded —
    a one-row scalar aggregate (TF / idf / truth-space totals) or the
    deliberately-broadcast query side of the ANN operators. Any new query
    growing such a node must be justified here or fixed."""
    import __spark_entry__ as e

    # queries whose plans legitimately contain a bounded nested-loop side
    BOUNDED_OK = {
        # one-row scalar-aggregate crossJoin (denominator / total count):
        "tf_mktsegment", "comparison_vectors", "predict_customer",
        "em_patterns", "truth_space", "unlinkables", "tfidf_top_terms",
        "cv_distribution", "mw_histogram", "score_pairs", "predict_between",
        "prediction_errors", "predict_chunked",
        # one-row totals aggregate crossJoined onto the top-n keys
        "skew_report",
        # one-row corpus-stats (N docs, total dl) crossJoin-broadcast into
        # the BM25 scoring expression; same stats shape for the streamed
        # index variant
        "bm25_topk", "streaming_bm25",
        # one-row corpus-total crossJoined onto the per-domain counts
        "domain_stats",
        # deliberate broadcast of the (small) query side:
        "ann_topk",
        # same shape for the SQ8 candidate pass: corpus crossJoin
        # broadcast(quantized query side), candidates cut to |Q|*m before
        # the exact re-rank
        "ann_sq8",
        # PQ ADC: code scan crossJoin broadcast(|Q| LUT rows — m x k ints
        # per query, bounded by the query batch, never the corpus)
        "ann_pq",
    }
    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in e.queries().items():
        df = fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = [n for n in ("CartesianProduct", "BroadcastNestedLoopJoin")
                if n in plan]
        if hits and name not in BOUNDED_OK:
            offenders[name] = hits
    assert not offenders, offenders


def test_nondeterministic_barrier_blocks_collapse_project(spark):
    """CANARY for the optimizer-barrier contract
    (splink_spark.internals.misc.optimizer_barrier): the engine stages
    expensive arrays (tokens, grams, match weights) behind
    shuffle(array(x))[0], relying on Catalyst refusing to collapse
    projections or substitute aliases through a nondeterministic
    expression. That is undocumented optimizer behavior a Spark upgrade
    could void SILENTLY — work would still be correct, just quadratically
    re-evaluated. This test fails loudly instead. Fallbacks if it fires:
    excludedRules=CollapseProject or localCheckpoint — see the
    optimizer_barrier docstring."""
    from splink_spark.internals.misc import optimizer_barrier

    df = spark.createDataFrame([(1, "a b c d e")], ["id", "text"])

    def grams_of(toks_col):
        # the dangerous consumer shape: the staged alias referenced inside a
        # higher-order-function lambda — an inlined expression there is
        # re-evaluated once PER ELEMENT, not once per row
        return F.transform(
            F.sequence(F.lit(0), F.lit(4)), lambda i: F.get(toks_col, i)
        ).alias("out")

    # negative control: without the barrier, CollapseProject substitutes the
    # split INTO the lambda body (it treats a lambda-only alias as a single
    # reference). If Spark ever stops doing this, the barrier is redundant —
    # this control flags that too.
    plain = df.select("id", F.split("text", " ").alias("toks"))
    plan = (
        plain.select("id", grams_of(F.col("toks")))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "lambdafunction(split(" in plan.replace(" ", ""), plan

    # with the barrier: the split stays in its own Project below; the lambda
    # reads the materialized attribute
    staged = df.select("id", optimizer_barrier(F.split("text", " ")).alias("toks"))
    derived = staged.select("id", grams_of(F.col("toks")))
    plan = derived._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction(split(" not in plan.replace(" ", ""), (
        "optimizer_barrier no longer blocks CollapseProject/alias "
        "substitution into lambdas — see its docstring for the "
        "excludedRules/localCheckpoint fallback\n" + plan
    )
    assert plan.count("split(") == 1, plan

    # and the barrier is the identity on values
    assert derived.collect()[0].out == ["a", "b", "c", "d", "e"]


def test_term_cosine_join_is_equi_join_no_cartesian(spark):
    """term_cosine_join's candidate generator must be an equi-join on the
    term — never a nested-loop pair product — and the norm attach must be
    equi-joins on the doc id."""
    from splink_spark.pipeline.search import term_cosine_join

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d"), (3, "x y z")],
        "doc_id long, text string",
    )
    plan = _plan(term_cosine_join(docs, threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_attribution_single_window_no_range_join(spark):
    """conversion_attribution is one cumulative window + one aggregate
    joined back on the (user, segment) equi-key: no nested-loop and no
    more than one Window node."""
    from splink_spark.pipeline.temporal import conversion_attribution

    df = spark.createDataFrame(
        [(1, 10, 1, "view", 0.0), (1, 20, 2, "buy", 1.0)],
        "user_id int, ts long, event_id int, event_type string, value double",
    )
    plan = _plan(conversion_attribution(df, "buy", order_cols="event_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") <= 2  # one per branch of the self-split


def test_group_outliers_null_safe_equi_join(spark):
    """group_outliers' moments join must stay an equi-join (null-safe
    equality is sort-merge/hash-joinable; a plan falling back to
    nested-loop would scan rows x groups)."""
    from splink_spark.pipeline.analytics import group_outliers

    df = spark.createDataFrame(
        [("a", 1, 1.0), (None, 2, 2.0)], "g string, id int, value double"
    )
    plan = _plan(group_outliers(df, ["g"], "value"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_encode_single_scan_no_shuffle(spark):
    """pq_train_encode's ENCODING pass is one scan of the persisted
    quantized corpus with centroid literals — no Exchange, no join."""
    from splink_spark.pipeline.ann import pq_train_encode

    import random

    rng = random.Random(1)
    vecs = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    codes_df, _ = pq_train_encode(vecs, m=2, codebook_size=2, iterations=0)
    plan = _plan(codes_df)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_numeric_barrier_blocks_collapse_project(spark):
    """CANARY for optimizer_barrier_numeric (the allocation-free
    ``+ rand*0`` form layout.hilbert_index stages its walk behind):
    the staged projections must SURVIVE optimization as separate
    Project nodes — if CollapseProject ever starts inlining through
    the nondeterministic rand, the Hilbert walk's expression tree
    re-explodes exponentially and analysis of a deep curve OOMs. Fails
    loudly instead."""
    from pyspark.sql import functions as F

    from splink_spark.internals.misc import optimizer_barrier_numeric

    df = spark.range(10).select(F.col("id").cast("bigint").alias("x"))
    staged = df
    for i in range(3):
        staged = staged.select(
            optimizer_barrier_numeric(
                F.col("x") * 2 + F.col("x")  # multi-reference expression
            ).alias("x")
        )
    plan = staged._jdf.queryExecution().optimizedPlan().toString()
    # three barrier stages must remain three Projects (plus the range
    # scan's own projection) — a collapsed plan has one
    assert plan.count("rand(") >= 3, plan
    n_projects = plan.count("Project")
    assert n_projects >= 3, plan
    # and the identity must hold
    vals = sorted(r["x"] for r in staged.collect())
    assert vals == sorted((i * 3) * 3 * 3 for i in range(10))


def _budget_linker(spark) -> Linker:
    """A small dedupe in the benchmark's model shape: two TF columns, two
    prediction rules."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(300):
        e = rng.randrange(80)
        rows.append((i, f"f{e % 23}", f"s{e % 31}", f"d{e % 17}", f"c{e % 5}",
                     f"e{e}" if rng.random() > 0.2 else None))
    df = spark.createDataFrame(
        rows, ["unique_id", "first_name", "surname", "dob", "city", "email"])
    settings = SettingsCreator(
        comparisons=[
            cl.JaroWinklerAtThresholds("first_name", [0.9]),
            cl.ExactMatch("surname", term_frequency_adjustments=True),
            cl.ExactMatch("dob"),
            cl.ExactMatch("city", term_frequency_adjustments=True),
            cl.ExactMatch("email"),
        ],
        blocking_rules_to_generate_predictions=[
            block_on("surname", "dob"), block_on("email")],
        probability_two_random_records_match=0.01,
    )
    return Linker(df, settings)


def test_dedupe_pipeline_job_budget(spark, count_jobs):
    """Spark jobs per phase of a small trained dedupe. Each exchange
    materializes as a job, so a new exchange or action in λ, u, an EM
    session or predict changes a count here."""
    linker = _budget_linker(spark)
    t = linker.training
    out = {}

    def phase(name, action):
        out[name] = count_jobs(action)

    phase("lambda", lambda: t.estimate_probability_two_random_records_match(
        [block_on("email"), block_on("first_name", "surname", "dob")], recall=0.8))
    phase("u", lambda: t.estimate_u_using_random_sampling(max_pairs=1e4, seed=1))
    phase("em_email", lambda: t.estimate_parameters_using_expectation_maximisation(
        block_on("email")))
    phase("em_surname_dob", lambda: t.estimate_parameters_using_expectation_maximisation(
        block_on("surname", "dob")))
    phase("predict", lambda: linker.inference.predict(
        threshold_match_probability=0.01)._splink_narrow.count())
    assert out == {"lambda": 1, "u": 5, "em_email": 2, "em_surname_dob": 2, "predict": 3}
    linker.misc.invalidate_cache()


def test_serving_job_budget(spark, count_jobs):
    """Spark jobs per serving call against a small dedupe, once its TF store
    is built. Every call blocks records: each side's broadcast is decided
    from its own memoised count, so a one-record side pays no count job."""
    linker = _budget_linker(spark)
    for comp in linker.settings.comparisons:
        for lv in comp.comparison_levels:
            if not lv.is_null_level:
                lv.m_probability, lv.u_probability = (
                    (0.9, 0.1) if lv.comparison_vector_value > 0 else (0.1, 0.9))
    record = {"unique_id": 1000, "first_name": "f1", "surname": "s1", "dob": "d1",
              "city": "c1", "email": "e1"}
    batch = spark.createDataFrame(
        [dict(record, unique_id=1000 + i) for i in range(3)],
        linker.df_concat().schema)
    calls = {
        "compare_two_records": lambda: linker.inference.compare_two_records(
            record, dict(record, unique_id=1001)).collect(),
        "unlinkables_table": lambda: linker.evaluation.unlinkables_table().collect(),
        "labelling_tool": lambda: linker.evaluation.labelling_tool_for_specific_record(
            3).collect(),
        "find_matches_to_new_records": lambda: linker.inference.find_matches_to_new_records(
            batch).collect(),
    }
    out = {}
    for name, call in calls.items():
        call()
        out[name] = count_jobs(call)
    # the id-pair route these calls took before ran 5, 3, 3 and 5 jobs
    assert out == {"compare_two_records": 4, "unlinkables_table": 3,
                   "labelling_tool": 2, "find_matches_to_new_records": 5}
    linker.misc.invalidate_cache()
