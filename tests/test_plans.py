"""Plan-shape regression tests: the scale properties PLANS.md claims
must survive code changes. Plans are captured with AQE and the
broadcast threshold disabled, so ONLY explicit F.broadcast() hints
appear as BroadcastExchange — a forced broadcast of an O(sf) table
is the driver-OOM-at-100TB anti-pattern round 1 was dinged for."""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.001"

# queries whose plans must not force-broadcast anything that grows
# with sf (region/nation are O(1) and allowed)
_CHECKED = ["q03_shipping_priority", "q05_local_supplier_volume",
            "q10_returned_items", "q18_large_volume_customer",
            "events_funnel", "events_retention", "graph_pagerank"]

_OSF_TABLES = ("customer", "orders", "lineitem", "supplier", "part",
               "documents", "events", "embeddings")


@pytest.fixture(scope="module")
def audit_spark(spark):
    """AQE and the broadcast threshold are RUNTIME SQL confs, so the
    audit flips them on the shared session and restores them —
    never touching the one-per-JVM SparkContext (stopping it would
    kill every later test module)."""
    prev = {k: spark.conf.get(k, None) for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold")}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield spark
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _broadcast_scans(plan: str) -> list[str]:
    """Parquet files appearing beneath a BroadcastExchange."""
    out = []
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        depth = len(ln) - len(ln.lstrip())
        for nxt in lines[i + 1:]:
            nd = len(nxt) - len(nxt.lstrip())
            if nxt.strip() and nd <= depth:
                break
            for t in _OSF_TABLES:
                if f"{t}.parquet" in nxt:
                    out.append(t)
    return out


@pytest.mark.parametrize("name", _CHECKED)
def test_no_forced_osf_broadcast(audit_spark, name):
    from xsarsea_spark.suite.base import REGISTRY

    df = REGISTRY[name].spark(audit_spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bad = _broadcast_scans(plan)
    assert not bad, f"{name} force-broadcasts O(sf) table(s): {bad}"


def test_kmeans_semantics(spark):
    from xsarsea_spark.pipeline.clustering import kmeans_embeddings

    from .conftest import SF_DIR
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    r1 = kmeans_embeddings(emb, k=4, rounds=1).toPandas()
    r3 = kmeans_embeddings(emb, k=4, rounds=3).toPandas()
    assert set(r3["cluster"]) <= set(range(4))
    assert len(r3) == emb.count()
    # Lloyd's monotonicity: total inertia never increases with rounds
    assert r3["dist2"].sum() <= r1["dist2"].sum() + 1e-12
    # determinism
    r3b = kmeans_embeddings(emb, k=4, rounds=3).toPandas()
    a = r3.sort_values("vec_id").reset_index(drop=True)
    b = r3b.sort_values("vec_id").reset_index(drop=True)
    assert (a["cluster"] == b["cluster"]).all()
    assert (a["dist2"] == b["dist2"]).all()


def test_gopher_quality_zero_exchange(spark):
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_gopher_quality"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    # pure per-row HOF projection: the corpus is never shuffled
    assert "Exchange" not in plan


def test_crossdup_shuffles_hashes_only(spark):
    from xsarsea_spark.suite import REGISTRY

    df = REGISTRY["doc_ngram_crossdup"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the gram STRINGS must never reach an exchange — only the 40-bit
    # hash column (and the final per-doc agg) shuffle
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "array_join" not in ln and "slice" not in ln


def test_substring_dedup_shuffles_hashes_only(spark):
    from xsarsea_spark.suite import REGISTRY

    df = REGISTRY["doc_substring_dedup"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # like crossdup: only the 40-bit gram hash (plus doc/pos ints)
    # may reach an exchange, never the gram strings
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "array_join" not in ln and "slice" not in ln


def test_skyline_exact_pass_has_no_global_window(spark):
    """The exact pass's ordered prefix-max rides the distributed
    two-pass prefix_max: every Window in the final plan must be
    __pid-scoped (the prefix_max materialize truncates lineage, so
    the plan shown is exactly the exact-pass stage). The Arrow
    prefilter is checked separately below — it must feed the grouped
    frame prefix_max ranges over."""
    from xsarsea_spark.suite import REGISTRY

    df = REGISTRY["q_skyline_parts"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    _assert_all_windows_pid_partitioned(plan)


def test_skyline_prefilter_is_zero_exchange(spark):
    """Phase 1 (the Arrow local-skyline kernel the exact pass ranges
    over) must plan as scan -> mapInPandas with no Exchange — the
    pruning that makes the global stage O(frontier) costs no
    shuffle."""
    from pyspark.sql import functions as F

    from xsarsea_spark.operators.skyline import _local_prefilter

    df = spark.read.parquet(f"{SF}/part.parquet").select(
        "p_partkey", F.col("p_retailprice").alias("x"),
        F.col("p_size").cast("double").alias("y"))
    plan = (_local_prefilter(df, "x", "y")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "mapInPandas" in plan or "MapInPandas" in plan


def test_market_basket_broadcasts_only_the_count_row(audit_spark):
    from xsarsea_spark.suite import REGISTRY

    df = REGISTRY["q_market_basket"].spark(audit_spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one explicit broadcast, and the operator directly under
    # it must be the keyless (1-row) order-count aggregate — counting
    # a big table then broadcasting the COUNT is fine; broadcasting
    # the table itself is the anti-pattern
    lines = plan.splitlines()
    bcasts = [i for i, ln in enumerate(lines)
              if "BroadcastExchange" in ln]
    assert len(bcasts) == 1
    assert "HashAggregate(keys=[]" in lines[bcasts[0] + 1]


def test_inversion_kernel_no_exchange(spark):
    """The inversion is scan -> project -> mapInPandas: per-pixel
    work with the LUT broadcast as NumPy — the corpus itself must
    never shuffle."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["inversion_dualpol"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "mapInPandas" in plan or "MapInPandas" in plan


def test_curated_maintain_no_forced_osf_broadcast(audit_spark):
    """The maintenance query's anti-join must be a plain (shuffle)
    join at audit confs — broadcasting the materialized table side
    would OOM the driver once the table is large."""
    from xsarsea_spark.suite import REGISTRY

    df = REGISTRY["curated_table_maintain"].spark(audit_spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not _broadcast_scans(plan)


def test_weighted_sample_collapses_to_takeordered(spark):
    """The Efraimidis-Spirakis top-k must prune per-partition: the
    plan's global window may only ever see the k survivors of a
    TakeOrderedAndProject — a regression to a full global sort of
    the corpus would pass the oracle but die at 100 TB."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_weighted_sample"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    lines = plan.splitlines()
    w = next(i for i, ln in enumerate(lines) if "Window" in ln)
    assert any("TakeOrderedAndProject(limit=50" in ln
               for ln in lines[w:]), \
        "per-partition top-k must feed the rank window"


def _assert_all_windows_pid_partitioned(plan: str) -> None:
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            assert "__pid" in ln, \
                f"corpus-wide unpartitioned window in plan: {ln}"


def test_curriculum_has_no_global_window(spark):
    """doc_quality_curriculum's quartiles ride the distributed
    two-pass rank; every Window node must be __pid-partitioned (or
    the cluster-sized offsets window ordered by __pid) — never a
    single-task sort of the corpus."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_quality_curriculum"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    _assert_all_windows_pid_partitioned(plan)


def test_setsim_vocab_rank_has_no_global_window(spark):
    """The prefix-filter rarity rank (shared by doc_setsim_join,
    doc_containment_join, dup_graph_kcore) must rank the vocabulary
    with the distributed two-pass rank, not one unpartitioned
    row_number window."""
    from xsarsea_spark.suite import REGISTRY

    for name in ("doc_setsim_join", "doc_containment_join"):
        plan = (REGISTRY[name].spark(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        _assert_all_windows_pid_partitioned(plan)


def test_pareto_and_battery_have_no_global_window(spark):
    """q_supplier_pareto's rank+cumsum and q_window_battery's global
    percent_rank ride the distributed two-pass rank — no Window node
    without a partition spec (__pid or a per-customer key) may
    remain."""
    from xsarsea_spark.suite import REGISTRY

    for name in ("q_supplier_pareto", "q_window_battery"):
        plan = (REGISTRY[name].spark(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        for ln in plan.splitlines():
            if "Window" in ln and "WindowGroupLimit" not in ln:
                assert "__pid" in ln or "o_custkey" in ln, (
                    f"{name}: corpus-wide window in plan: {ln}")


def test_suffix_array_has_no_global_window(spark):
    """doc_longest_dup_span composes distinct->global_rank->join for
    every doubling round and a doc-partitioned best-row window at the
    end — no Window node anywhere may sort the corpus on one task
    (the rank internals are __pid-scoped; the materializes truncate
    lineage, so the final plan shows the walk + selection stage)."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_longest_dup_span"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            assert "__pid" in ln or "doc_id" in ln, \
                f"corpus-wide window in suffix plan: {ln}"


def test_packing_and_bm25_have_no_global_window(spark):
    """doc_sequence_packing's token cumsum rides the two-level
    distributed scan (no corpus-wide Window); doc_bm25_topk's rank
    window must sit above a per-partition TakeOrderedAndProject."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_sequence_packing"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    _assert_all_windows_pid_partitioned(plan)

    plan = (REGISTRY["doc_bm25_topk"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    lines = plan.splitlines()
    w = next(i for i, ln in enumerate(lines) if "Window" in ln)
    assert any("TakeOrderedAndProject" in ln for ln in lines[w:]), \
        "BM25 rank window must only see the per-partition top-k"


def test_bpe_artifact_applier_is_zero_exchange(spark):
    """Applying a persisted merge artifact must stay a single Arrow
    pass over the corpus: scan -> MapInPandas -> project, with NO
    exchange anywhere (training pays per-round jobs; the artifact's
    whole point is that encode never does)."""
    from xsarsea_spark.pipeline.bpe import bpe_apply, bpe_train

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges = bpe_train(docs, n_merges=2)
    plan = bpe_apply(docs, merges) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_shard_assignment_has_no_global_window(spark):
    """doc_shard_assignment ranks the md5 permutation through the
    two-pass global_rank — no Window node may sort the corpus on one
    task (rank internals are __pid-scoped)."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_shard_assignment"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            assert "__pid" in ln, \
                f"corpus-wide window in shard plan: {ln}"


def test_winnowing_windows_are_doc_scoped(spark):
    """Winnowing's sliding-window min and the pair query's aggregates
    must keep every Window node partitioned by doc_id — the frame is
    doc-bounded by design, never corpus-wide."""
    from xsarsea_spark.suite import REGISTRY

    for name in ("doc_winnowing", "doc_winnow_neardup"):
        plan = (REGISTRY[name].spark(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        for ln in plan.splitlines():
            if "Window" in ln and "WindowGroupLimit" not in ln:
                assert "doc_id" in ln, \
                    f"{name}: corpus-wide window: {ln}"


def test_sq8_and_binary_quant_plans_have_no_explode(spark):
    """The SQ8 min/max levels come from ONE map-side-combined agg and
    the binary packing is per-row transform/aggregate — neither eval
    may explode the corpus per-dimension (64x row inflation at scale).
    Windows are query-scoped (the per-query top-k)."""
    from xsarsea_spark.suite import REGISTRY

    for name in ("embedding_sq8_recall",
                 "embedding_binary_quant_recall"):
        plan = (REGISTRY[name].spark(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Generate" not in plan, \
            f"{name}: per-dimension explode in plan"
        for ln in plan.splitlines():
            if "Window" in ln and "WindowGroupLimit" not in ln:
                assert "query_id" in ln, \
                    f"{name}: corpus-wide window: {ln}"


def test_classifier_plans_are_scale_safe(spark):
    """The classifier lifecycle's scale claims: training's per-round
    gradient pass is ONE keyless map-side-combined aggregation (its
    only exchange carries one partial row per partition), artifact
    scoring is a zero-exchange projection over the batch, and the AUC
    running negative count rides the __pid-scoped two-pass rank — no
    corpus-wide window anywhere."""
    from pyspark.sql import functions as F

    from xsarsea_spark.pipeline.classifier import (N_FEATURES,
                                                   doc_features,
                                                   score_docs)
    from xsarsea_spark.suite import REGISTRY
    from xsarsea_spark.operators.exactsum import DSUM, QTRUNC

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    xy = doc_features(docs)

    # (a) one training round's gradient aggregation
    grad = xy.agg(*[F.expr(DSUM(QTRUNC(
        f"(0.5 - y) * element_at(x, {d + 1})", 12), 12)).alias(f"g{d}")
        for d in range(N_FEATURES)], F.count(F.lit(1)).alias("n"))
    plan = grad._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1 and "SinglePartition" in plan, \
        "gradient agg must be one partial-agg exchange"
    assert "Window" not in plan and "Generate" not in plan

    # (b) artifact scoring: pure projection, no exchange
    plan = (score_docs(xy, [0.01 * (d + 1) for d in range(N_FEATURES)])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Window" not in plan, \
        "score_docs must be a zero-exchange projection"

    # (c) the AUC query's windows are all __pid-scoped (global_rank
    # internals; the offsets window is over <= n_partitions rows)
    plan = (REGISTRY["doc_classifier_auc"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            assert "__pid" in ln, f"corpus-wide window in AUC: {ln}"


def test_ann_search_probe_is_distributed_not_collected(spark):
    """pq_search / ivfpq_search deploy shape: the per-query ADC
    tables are a distributed Arrow pass (MapInPandas in-plan) joined
    against the codes — never a driver collect of the query batch —
    the ADC fold runs JVM-side (no Python node on the corpus-scan
    side), and the top-k rank filter collapses to WindowGroupLimit
    so each scan partition ships at most k candidates per query."""
    import numpy as np

    from xsarsea_spark.pipeline.ivfpq import (encode_ivfpq,
                                              ivfpq_search,
                                              train_ivfpq)
    from xsarsea_spark.pipeline.pq import encode_pq, pq_search, train_pq

    from xsarsea_spark.engine import materialize

    emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
           .filter("vec_id < 200"))
    q = emb.filter("vec_id < 5")

    # materialize the encoded index, as a deploy persists postings —
    # the encoder's own Arrow pass must not count against the search
    books = train_pq(emb, m=4, k=4, iters=1)
    flat = pq_search(q, materialize(encode_pq(emb, books)), books, k=3)
    coarse, rbooks = train_ivfpq(emb, n_cells=4, m=4, k=4, iters=1)
    ivf = ivfpq_search(q, materialize(encode_ivfpq(emb, coarse, rbooks)),
                       coarse, rbooks, k=3, n_probe=2)
    for df in (flat, ivf):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan, "probe tables must be in-plan"
        assert "WindowGroupLimit" in plan, \
            "top-k must prune map-side before the exchange"
        assert "BroadcastNestedLoopJoin" in plan \
            or "BroadcastHashJoin" in plan, \
            "probe tables should broadcast by default"
        # the lone Python node is the O(batch) query-side probe; the
        # corpus/codes side must stay whole-stage JVM
        assert plan.count("MapInPandas") == 1


def test_cross_doc_lcp_windows_are_run_partitioned(spark):
    """doc_crossdup_exact's running-min windows partition by the
    same-doc run id (doc-bounded) and its rank passes ride the
    two-pass global_rank — no corpus-wide unpartitioned window may
    appear in the plan."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_crossdup_exact"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            assert "__run" in ln or "__pid" in ln, \
                f"corpus-wide window in plan: {ln}"


def test_band_sweep_and_kn_lm_join_shapes(spark):
    """minhash_band_sweep / doc_kn_heldout_lm scale shapes: the only
    cross joins are broadcast singletons (totals rows); candidate
    and scoring joins are hash equi-joins."""
    from xsarsea_spark.suite import REGISTRY

    for name in ("minhash_band_sweep", "doc_kn_heldout_lm"):
        plan = (REGISTRY[name].spark(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        for ln in plan.splitlines():
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"


def test_ccnet_and_opq_and_url_plans_are_scale_safe(spark):
    """Round-9 rows: doc_ccnet_perlang_buckets terciles ride the
    grouped two-pass rank (every Window __pid-partitioned, never a
    per-language single-task sort); opq_alloc_recall and
    doc_url_dedup plan no cartesian product and only broadcast
    nested-loop joins (the 1-row totals / 2-row variant frames)."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_ccnet_perlang_buckets"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    _assert_all_windows_pid_partitioned(plan)
    for name in ("doc_ccnet_perlang_buckets", "opq_alloc_recall",
                 "doc_url_dedup"):
        plan = (REGISTRY[name].spark(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        for ln in plan.splitlines():
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"


def test_dsir_unimax_urlxsnap_plans_are_scale_safe(spark):
    """Round-10 rows: doc_dsir_select's rank and doc_unimax_cap's
    running sum ride the two-pass global rank (every Window
    __pid-partitioned, never a corpus-wide sort); all three plans
    have no cartesian product and only broadcast nested-loop joins
    (the 1-row totals / L-row language frames)."""
    from xsarsea_spark.suite import REGISTRY

    for name in ("doc_dsir_select", "doc_unimax_cap",
                 "doc_url_cross_snapshot", "doc_decontaminate",
                 "embedding_benchmark_leakage",
                 "doc_lang_temperature_mix"):
        plan = (REGISTRY[name].spark(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        if name == "doc_decontaminate":
            # its islands window is doc_id-partitioned (document-
            # bounded state, the duplicate_spans class), not the
            # two-pass rank's __pid
            for ln in plan.splitlines():
                if "Window" in ln and "WindowGroupLimit" not in ln:
                    assert "doc_id" in ln, f"{name}: {ln}"
        else:
            _assert_all_windows_pid_partitioned(plan)
        for ln in plan.splitlines():
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"


def test_round10_additions_plans_are_scale_safe(spark):
    """Round-10 late additions: events_rfm's three quintiles ride the
    two-pass grouped rank (every Window __pid-partitioned);
    events_attribution's carry window is user_id-partitioned
    (per-user linear state, the sessionize class);
    events_stream_topk's rank window is hour_bucket-partitioned
    (state bounded by event-type cardinality); doc_soft_dedup plans
    pure shingle-keyed hash joins; embedding_rp_recall's only
    nested-loop join is the broadcast 20-row query block (the
    brute-force-baseline class, same as cosine_topk — the scale path
    is IVF/LSH). None may plan a cartesian product."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["events_rfm"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    _assert_all_windows_pid_partitioned(plan)

    for name, part_col in (("events_attribution", "user_id"),
                           ("events_stream_topk", "hour_bucket")):
        plan = (REGISTRY[name].spark(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        for ln in plan.splitlines():
            if "Window" in ln and "WindowGroupLimit" not in ln:
                assert part_col in ln, f"{name}: {ln}"

    for name in ("events_rfm", "doc_soft_dedup",
                 "embedding_rp_recall"):
        plan = (REGISTRY[name].spark(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        for ln in plan.splitlines():
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"


def test_round10_second_wave_plans_are_scale_safe(spark):
    """events_active_users is distinct + hash aggs with a 1-row
    broadcast bound (no window at all); embedding_hard_negatives'
    only nested-loop join is the broadcast 20-row query block;
    doc_domain_split is PSL broadcast joins + a 1-row broadcast
    leak count. No cartesian products; any nested loop must be
    broadcast."""
    from xsarsea_spark.suite import REGISTRY

    for name in ("events_active_users", "embedding_hard_negatives",
                 "doc_domain_split"):
        plan = (REGISTRY[name].spark(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        for ln in plan.splitlines():
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"
    plan = (REGISTRY["events_active_users"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan


def test_path_analysis_topk_is_take_ordered(spark):
    """events_path_analysis' global top-20 must plan as
    TakeOrderedAndProject (per-partition heaps + k-row driver
    merge), never a full global sort or corpus-wide window; its only
    window is the user_id-partitioned lead pass."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["events_path_analysis"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            assert "user_id" in ln, ln


def test_attribution_linear_join_is_bucketed_hash(spark):
    """events_attribution_linear's purchase-touch candidate stage
    must be a hash equi-join on (user_id, bkt) — never a nested-loop
    range join — and the whole plan has no cartesian product; any
    nested loop (the 1-row 'none' group) must be broadcast. The
    candidate join sits BELOW the g1 checkpoint barrier (its lineage
    is invisible in the outer plan), so the join-shape assertion
    disables the barrier via monkeypatch while the cartesian /
    broadcast assertions run on the real query."""
    from xsarsea_spark.suite import REGISTRY, events_suite

    plan = (REGISTRY["events_attribution_linear"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln
    real = events_suite.materialize
    events_suite.materialize = lambda df, eager=True: df
    try:
        full = (REGISTRY["events_attribution_linear"]
                .spark(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
    finally:
        events_suite.materialize = real
    assert "CartesianProduct" not in full
    assert "bkt" in full


def test_robots_filter_plan_is_domain_keyed(spark):
    """doc_robots_filter's verdict must be a domain equi-join (rules
    frame vs URLs) + hash aggregation — no cartesian product, no
    per-URL nested loop; the LIKE precedence lives inside the MAX
    aggregate, not a join condition."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_robots_filter"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_crawl_frontier_ranks_are_two_pass(spark):
    """doc_crawl_frontier's per-domain slot and global fetch order
    must both ride the two-pass distributed rank: every Window in
    the plan is __pid-partitioned (never a per-domain or global
    single-partition sort), no cartesian product, nested loops only
    broadcast."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_crawl_frontier"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    _assert_all_windows_pid_partitioned(plan)
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_experimentation_guardrails_plans(spark):
    """events_ab_srm is one distinct + one hash agg (no window, no
    join at all beyond none); events_cuped's only joins are the two
    1-row broadcasts (cut timestamp, theta frame) — no cartesian
    product, nested loops broadcast-only, no windows."""
    from xsarsea_spark.suite import REGISTRY

    for name in ("events_ab_srm", "events_cuped"):
        plan = (REGISTRY[name].spark(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        assert "Window" not in plan, name
        for ln in plan.splitlines():
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"


def test_cdx_surt_index_rank_is_two_pass(spark):
    """doc_cdx_surt_index's total order must ride the two-pass rank
    (every Window __pid-partitioned), with no cartesian product and
    broadcast-only nested loops."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_cdx_surt_index"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    _assert_all_windows_pid_partitioned(plan)
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_seasonal_anomaly_is_windowless_broadcast(spark):
    """events_seasonal_anomaly must plan as two hash aggs + one
    broadcast join of the bounded (type, hour-of-day) profile —
    no window, no cartesian product."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["events_seasonal_anomaly"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_equidepth_histogram_rides_two_pass_rank(spark):
    """events_equidepth_histogram's NTILE must be the two-pass
    grouped rank (every Window __pid-partitioned), no cartesian,
    nested loops broadcast-only."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["events_equidepth_histogram"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    _assert_all_windows_pid_partitioned(plan)
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_zipf_coverage_running_sum_is_two_pass(spark):
    """doc_zipf_coverage's cumulative sum must ride the two-pass
    rank's distributed running-sum (every Window __pid-partitioned),
    no cartesian product, nested loops broadcast-only (the 1-row
    total)."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_zipf_coverage"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    _assert_all_windows_pid_partitioned(plan)
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_user_gini_rank_is_two_pass(spark):
    """events_user_gini's in-type ranks must ride the two-pass rank
    (every Window __pid-partitioned); no cartesian product; nested
    loops broadcast-only."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["events_user_gini"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    _assert_all_windows_pid_partitioned(plan)
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_mips_topk_window_input_is_funneled(spark):
    """embedding_mips_topk must NOT shuffle the full corpus x NQ
    scored stream into NQ window partitions: a per-partition partial
    top-k (MapInPandas, same stage as the broadcast scoring join —
    no exchange between the join and the funnel) must bound the
    global window's input to <= partitions*NQ*k survivors."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["embedding_mips_topk"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" in plan, "partial top-k funnel missing"
    # tree prints parent-first: the Window (global pass) must sit
    # ABOVE the MapInPandas funnel, i.e. consume its output
    assert plan.index("Window") < plan.index("MapInPandas")
    # the funnel rides the broadcast join's stage: no shuffle
    # between scoring and the partial top-k
    pre = plan[plan.index("MapInPandas"):]
    assert "CartesianProduct" not in plan
    head, _, _ = pre.partition("BroadcastHashJoin")
    # broadcast exchanges and the 1-row MAX(n2) SinglePartition agg
    # are bounded; only a hash-partitioned shuffle would mean the
    # funnel added a real data movement
    assert "Exchange hashpartitioning" not in head, \
        "partial top-k must not add a shuffle before the funnel"


def test_bfd_packing_is_bucket_local(spark):
    """doc_pack_bfd must pack inside hash buckets: one
    FlatMapGroupsInPandas kernel keyed by the bucket, no cartesian
    product, no corpus-wide window (any Window must be the two-pass
    rank's __pid partitioning), nested loops broadcast-only."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_pack_bfd"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "FlatMapGroupsInPandas" in plan, "bucket kernel missing"
    assert "hashpartitioning(bucket" in plan, \
        "packing shuffle must key on the hash bucket"
    assert "CartesianProduct" not in plan
    _assert_all_windows_pid_partitioned(plan)
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_paired_dedup_is_banded_never_allpairs(spark):
    """multimodal_paired_dedup: both modality pair streams must be
    LSH-band hash joins (no cartesian product anywhere), nested
    loops broadcast-only, windows pid-scoped (minhash signatures)."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["multimodal_paired_dedup"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    _assert_all_windows_pid_partitioned(plan)
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_unimax_enforce_is_two_pass_plus_broadcasts(spark):
    """unimax_enforce (the streaming UniMax batch gate): the only
    running-sum machinery is the two-pass rank (__pid windows), and
    the caps/offsets/consumed joins are explicit broadcasts of L-row
    frames — no per-language window, no cartesian product."""
    from pyspark.sql import functions as F

    from xsarsea_spark.pipeline.sampling import unimax_enforce

    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .filter("text IS NOT NULL")
            .selectExpr("doc_id", "COALESCE(lang, '') AS lang",
                        "size(split(text, ' ')) AS n_tokens"))
    caps = docs.groupBy("lang").agg(
        F.expr("CAST(100 AS BIGINT)").alias("lang_cap"))
    plan = (unimax_enforce(docs, caps)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    _assert_all_windows_pid_partitioned(plan)
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_html_extract_is_zero_exchange(spark):
    """doc_html_extract is synth + strip + pull as pure per-row
    string work: the corpus must never shuffle."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_html_extract"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_pack_efficiency_report_shape(spark):
    """doc_pack_efficiency: the BFD side must keep its bucket-keyed
    kernel (it runs inside the materialize job that truncates the
    layout for the report's three consumers), side stats join back
    as broadcast 1-row aggregates (any nested loop must be
    broadcast), no cartesian product, windows pid-scoped."""
    import pyspark.sql.functions as F
    from xsarsea_spark.pipeline.bpe import bpe_encode
    from xsarsea_spark.pipeline.packing import pack_best_fit
    from xsarsea_spark.suite import REGISTRY
    from xsarsea_spark.suite.pipeline_suite import (
        _BFD_LEN, _BFD_NB, _BPE_MERGES)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lens = bpe_encode(docs, n_merges=_BPE_MERGES).selectExpr(
        "doc_id", "CAST(n_tokens_encoded AS BIGINT) AS n") \
        .filter("n >= 1")
    layout_plan = (pack_best_fit(lens, seq_len=_BFD_LEN,
                                 n_buckets=_BFD_NB, len_col="n")
                   ._jdf.queryExecution().executedPlan().toString())
    assert "FlatMapGroupsInPandas" in layout_plan

    plan = (REGISTRY["doc_pack_efficiency"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    _assert_all_windows_pid_partitioned(plan)
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_hybrid_rrf_rank_windows_are_group_limited(spark):
    """doc_hybrid_rrf's three row_number pools must plan with
    WindowGroupLimit (per-partition partial top-k before the global
    rank) — never a full corpus sort into one task; no cartesian
    product; nested loops broadcast-only (the 1-row query vector and
    corpus stats)."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_hybrid_rrf"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    # Spark rewrites each row_number<=k into TakeOrderedAndProject
    # (distributed partial top-k) feeding a k-row window — assert
    # all three pools got the rewrite
    assert plan.count("TakeOrderedAndProject") >= 3, \
        "rank pools must push partial limits below the window"
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_icp_order_is_bucket_local(spark):
    """embedding_icp_order must chain inside hash buckets: one
    FlatMapGroupsInPandas kernel keyed by the bucket, no cartesian
    product, no corpus-wide window."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["embedding_icp_order"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "FlatMapGroupsInPandas" in plan, "bucket kernel missing"
    assert "hashpartitioning(bucket" in plan
    assert "CartesianProduct" not in plan
    _assert_all_windows_pid_partitioned(plan)


def test_icp_pack_layout_is_two_pass(spark):
    """doc_icp_pack: the chain kernel stays bucket-keyed and the
    layout cumsum rides the two-pass rank (__pid windows only); no
    cartesian product; nested loops broadcast-only (the 8-row span
    spine and partition offsets)."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_icp_pack"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    _assert_all_windows_pid_partitioned(plan)
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_icp_coherence_baseline_is_windowless(spark):
    """embedding_icp_coherence: the vec_id-order baseline must be
    the residue-class equi-join (successor = vec_id + NB) — no
    window outside the bucket kernel's lineage, no cartesian."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["embedding_icp_coherence"].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, "baseline successor must be a join"
    assert "FlatMapGroupsInPandas" in plan


def test_round12_additions_plans_are_scale_safe(audit_spark):
    """Round-12 additions. Infini-gram: the top-gram pools collapse
    to TakeOrderedAndProject (distributed partial top-k, no full
    sort), the continuation pass broadcasts only the bounded query
    frame, and no window exists anywhere; backoff probes the stats
    table with the bounded suffix frame broadcast. Bradley-Terry:
    the match matrix builds from one (user, type) hash agg + a
    user-keyed pair join — no cartesian, no broadcast of the O(sf)
    events table. Unigram-LM: the Viterbi E-step is a MapInPandas
    over the vocabulary-scale distinct-word table, the only
    nested-loop join is the broadcast 1-row total."""
    from xsarsea_spark.suite import REGISTRY

    # the top-gram pool plan — checked pre-materialize (the full
    # query checkpoints it, so its final plan starts downstream)
    from pyspark.sql import functions as PF

    from xsarsea_spark.pipeline.ngram_index import (ngram_occurrences,
                                                    ngram_stats)
    from xsarsea_spark.sources.tables import load as _load
    docs = _load(audit_spark, SF, "documents")
    pool = (ngram_stats(ngram_occurrences(docs, (1, 2)))
            .filter(PF.col("n") == 2)
            .orderBy(PF.col("cnt").desc(), PF.col("gram").asc())
            .limit(3))
    pool_plan = (pool._jdf.queryExecution().executedPlan()
                 .toString())
    assert "TakeOrderedAndProject" in pool_plan

    for name in ("doc_infinigram_counts", "doc_infinigram_backoff"):
        plan = (REGISTRY[name].spark(audit_spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        for ln in plan.splitlines():
            if "Window" in ln and "WindowGroupLimit" not in ln:
                raise AssertionError(f"{name}: unexpected window "
                                     f"{ln}")
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"
        assert not [t for t in _broadcast_scans(plan)], name

    from xsarsea_spark.pipeline.preference import preference_matrix
    from xsarsea_spark.sources.tables import load as _load
    pm_plan = (preference_matrix(_load(audit_spark, SF, "events"))
               ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in pm_plan
    assert "events" not in _broadcast_scans(pm_plan)

    plan = (REGISTRY["events_bradley_terry"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            raise AssertionError(f"events_bradley_terry: {ln}")

    for name in ("doc_unigram_lm_train", "doc_unigram_segment"):
        plan = (REGISTRY[name].spark(audit_spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        for ln in plan.splitlines():
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"
            if "Window" in ln and "WindowGroupLimit" not in ln:
                raise AssertionError(f"{name}: unexpected window "
                                     f"{ln}")
    seg_plan = (REGISTRY["doc_unigram_segment"]
                .spark(audit_spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" in seg_plan


def test_round12_second_wave_plans_are_scale_safe(audit_spark):
    """events_elo_periods: the period match matrix builds from one
    (period, user, type) hash agg + a (period, user)-keyed pair
    join — no cartesian, no O(sf) broadcast (the 1-row min-day
    frame is the only explicit broadcast). doc_unigram_fertility:
    the corpus meets only the (lang, word) hash agg; the DP rides
    the vocabulary-scale word table (MapInPandas), windows absent."""
    from xsarsea_spark.pipeline.preference import \
        period_preference_matrix
    from xsarsea_spark.sources.tables import load as _load
    from xsarsea_spark.suite import REGISTRY

    pm_plan = (period_preference_matrix(
        _load(audit_spark, SF, "events"))
        ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in pm_plan
    assert "events" not in _broadcast_scans(pm_plan)

    for name in ("events_elo_periods", "doc_unigram_fertility"):
        plan = (REGISTRY[name].spark(audit_spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        for ln in plan.splitlines():
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"
            if "Window" in ln and "WindowGroupLimit" not in ln:
                raise AssertionError(f"{name}: unexpected window "
                                     f"{ln}")


def test_round12_third_wave_plans_are_scale_safe(audit_spark):
    """events_k_anonymity: three QI hash aggs joined back on the QI
    keys — no window, no cartesian, nothing O(sf) broadcast at audit
    confs. stream_elo_train's reported frame aggregates the
    checkpointed match matrix — no cartesian, no window (the
    streaming path itself is exercised by the query run)."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["events_k_anonymity"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert not _broadcast_scans(plan)
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            raise AssertionError(f"events_k_anonymity: {ln}")

    plan = (REGISTRY["stream_elo_train"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            raise AssertionError(f"stream_elo_train: {ln}")


def test_bitext_margin_plans_are_scale_safe(audit_spark):
    """Both kNN passes are the scan x bounded-broadcast class: the
    only nested-loop joins must be broadcast (the query block /
    candidate set), never a cartesian; every window is query-id
    partitioned (bounded partitions)."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["embedding_bitext_margin"]
            .spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln
        if "Window" in ln and "WindowGroupLimit" not in ln:
            assert "query_id" in ln, ln


def test_retrieval_eval_and_ldiv_plans_are_scale_safe(audit_spark):
    """doc_retrieval_eval: every rank window is query_id-partitioned
    (bounded query count) and group-limited where Spark supports it;
    no cartesian; nested loops broadcast-only (the 1-row stats frame
    and bounded query blocks). events_l_diversity: one grouped
    distinct-count + rollup, windowless."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_retrieval_eval"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln
        if "Window" in ln and "WindowGroupLimit" not in ln:
            assert "query_id" in ln, ln

    plan = (REGISTRY["events_l_diversity"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert not _broadcast_scans(plan)
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            raise AssertionError(f"events_l_diversity: {ln}")


def test_theil_sen_and_bootstrap_plans_are_scale_safe(audit_spark):
    """events_theil_sen: the rank windows order the pair frame
    (bounded by the day-span square) and the daily frame — global
    windows over BOUNDED inputs, the corpus meets only the per-day
    hash agg. events_bootstrap_ci: replicate explode collapses via
    partial aggregation to (type, B) cells; rank windows partition
    on event_type; no cartesian beyond broadcast 1-row frames."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["events_theil_sen"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln
    # broadcasts of the events table are legal ONLY as day-grouped
    # aggregates (bounded by the day span) — the market_basket
    # "broadcast the COUNT, not the table" rule: every broadcast
    # subtree that reaches events.parquet must aggregate first
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        depth = len(ln) - len(ln.lstrip())
        saw_agg = False
        for nxt in lines[i + 1:]:
            nd = len(nxt) - len(nxt.lstrip())
            if nxt.strip() and nd <= depth:
                break
            if "HashAggregate" in nxt:
                saw_agg = True
            if "events.parquet" in nxt:
                assert saw_agg, f"raw events broadcast: {ln}"

    plan = (REGISTRY["events_bootstrap_ci"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert not _broadcast_scans(plan)
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            assert "event_type" in ln, ln


def test_kmv_set_algebra_plan_is_scale_safe(audit_spark):
    """All rank windows are WindowGroupLimit-rewritten partial
    top-ks (rk <= k filters); the only nested loops are the
    broadcast 1-row estimate frames; no cartesian. The sketch
    builds sit BELOW lazy checkpoint barriers (k-row frames whose
    corpus lineage would otherwise run ~6x), so the window-shape
    assertion disables the barrier via monkeypatch while the
    cartesian / broadcast assertions run on the real query."""
    from xsarsea_spark.suite import REGISTRY, events_suite

    plan = (REGISTRY["events_kmv_set_algebra"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln
    real = events_suite.materialize
    events_suite.materialize = lambda df, eager=True: df
    try:
        full = (REGISTRY["events_kmv_set_algebra"]
                .spark(audit_spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
    finally:
        events_suite.materialize = real
    assert "CartesianProduct" not in full
    assert "WindowGroupLimit" in full


def test_stream_kmv_and_unigram_artifact_plans(audit_spark):
    """stream_kmv_union's reported frame joins the tiny persisted
    sketch with the per-type exact distinct — no cartesian;
    doc_unigram_artifact_segment plans the loaded-artifact Viterbi
    as MapInPandas with broadcast-only nested loops."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["stream_kmv_union"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan

    plan = (REGISTRY["doc_unigram_artifact_segment"]
            .spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    for ln in plan.splitlines():
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_benford_and_autocorr_plans_are_scale_safe(audit_spark):
    """events_benford: one hash agg on the all-integer digit key +
    a broadcast 1-row total — no window, no cartesian.
    events_autocorr: the lag join runs over the bounded daily frame
    (broadcast), corpus meets only the per-day mean agg."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["events_benford"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            raise AssertionError(f"events_benford: {ln}")
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln

    plan = (REGISTRY["events_autocorr"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            raise AssertionError(f"events_autocorr: {ln}")
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_round13_plans_are_scale_safe(audit_spark):
    """doc_infinigram_sa_backoff: the probe is broadcast joins of
    the query-sized key frames into the persisted ladder — no
    cartesian, nothing O(sf) force-broadcast, the only windows are
    the two-pass rank's __pid internals (inside the cached build).
    events_dpo_pairs: the per-actor cap must compile to a
    group-limited rank window; the corpus meets one (actor, arm)
    hash agg. doc_unigram_ppl_buckets: terciles ride the two-pass
    rank (__pid windows only); the segmentation join is the
    vocabulary-scale broadcast; corpus-wide windows absent."""
    from xsarsea_spark.suite import REGISTRY

    for name in ("doc_infinigram_sa_backoff",
                 "doc_infinigram_sa_counts"):
        plan = (REGISTRY[name].spark(audit_spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        assert not _broadcast_scans(plan), name
        for ln in plan.splitlines():
            if "Window" in ln and "WindowGroupLimit" not in ln:
                assert "__pid" in ln, f"{name}: {ln}"
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"

    plan = (REGISTRY["events_dpo_pairs"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert "events" not in _broadcast_scans(plan)
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            assert "user_id" in ln, f"events_dpo_pairs: {ln}"

    plan = (REGISTRY["doc_unigram_ppl_buckets"]
            .spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "documents" not in _broadcast_scans(plan)
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            assert "__pid" in ln, f"unigram_ppl_buckets: {ln}"
        if "NestedLoopJoin" in ln:
            assert "Broadcast" in ln, ln


def test_round13_second_wave_plans_are_scale_safe(audit_spark):
    """doc_good_turing: one (lang, word) hash agg + language-sized
    rollup — no window, no cartesian, nothing O(sf) broadcast.
    events_cramers_v: one corpus hash agg; the expected grid is a
    broadcast cross of two bounded margin frames (types x weekday
    residues). events_mann_kendall: the pair join runs over the
    bounded daily frame under an explicit broadcast, corpus meets
    only the per-day mean agg (the theil_sen rule: any events
    parquet under a broadcast is day-aggregated first)."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["doc_good_turing"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert not _broadcast_scans(plan)
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            raise AssertionError(f"doc_good_turing: {ln}")

    for name in ("events_cramers_v", "events_mann_kendall"):
        plan = (REGISTRY[name].spark(audit_spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        for ln in plan.splitlines():
            if "Window" in ln and "WindowGroupLimit" not in ln:
                raise AssertionError(f"{name}: {ln}")
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"
        # the market_basket "broadcast the COUNT, not the table"
        # rule: every broadcast subtree that reaches events.parquet
        # must aggregate first (margins / totals / daily means are
        # all bounded aggregates of the corpus)
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "BroadcastExchange" not in ln:
                continue
            depth = len(ln) - len(ln.lstrip())
            saw_agg, saw_events = False, False
            for nxt in lines[i + 1:]:
                nd = len(nxt) - len(nxt.lstrip())
                if nxt.strip() and nd <= depth:
                    break
                if "HashAggregate" in nxt:
                    saw_agg = True
                if "events.parquet" in nxt:
                    saw_events = True
            assert saw_agg or not saw_events, \
                f"{name}: raw events under broadcast: {ln}"


def test_round13_third_wave_plans_are_scale_safe(audit_spark):
    """events_cusum_shift: the cumulative machinery (one running
    sum + one running min) orders the BOUNDED daily frame — global
    windows over day-span inputs, the theil_sen class; every
    broadcast subtree reaching events.parquet aggregates first.
    doc_char_trigram_entropy: one all-JVM substring-explode scan +
    (lang, trigram) hash agg + language rollup — windowless."""
    from xsarsea_spark.suite import REGISTRY

    plan = (REGISTRY["events_cusum_shift"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        depth = len(ln) - len(ln.lstrip())
        saw_agg, saw_events = False, False
        for nxt in lines[i + 1:]:
            nd = len(nxt) - len(nxt.lstrip())
            if nxt.strip() and nd <= depth:
                break
            if "HashAggregate" in nxt:
                saw_agg = True
            if "events.parquet" in nxt:
                saw_events = True
        assert saw_agg or not saw_events, \
            f"cusum: raw events under broadcast: {ln}"

    plan = (REGISTRY["doc_char_trigram_entropy"]
            .spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert not _broadcast_scans(plan)
    for ln in plan.splitlines():
        if "Window" in ln and "WindowGroupLimit" not in ln:
            raise AssertionError(f"doc_char_trigram_entropy: {ln}")


def test_round14_plans_are_scale_safe(audit_spark):
    """doc_infinigram_sa_continuation: the probe family's shape —
    broadcast query keys into the persisted ladder, the next-token
    extension a (doc, p + k) equi-join into level 0, vocabulary
    naming an equi-join — no cartesian, nothing O(sf) forced
    broadcast, windows only the cached build's __pid internals.
    doc_decontam_sa_probe: same probe kernel; the benchmark gram set
    joins by gram equality.  doc_tokenizer_compare: both trainings
    are hash aggs + bounded-artifact broadcasts; the only corpus
    frames under a broadcast are aggregated first."""
    from xsarsea_spark.suite import REGISTRY

    for name in ("doc_infinigram_sa_continuation",
                 "doc_decontam_sa_probe", "doc_infinigram_sa_lm"):
        plan = (REGISTRY[name].spark(audit_spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        assert not _broadcast_scans(plan), name
        for ln in plan.splitlines():
            if "Window" in ln and "WindowGroupLimit" not in ln:
                assert "__pid" in ln, f"{name}: {ln}"
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"

    plan = (REGISTRY["doc_tokenizer_compare"].spark(audit_spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        depth = len(ln) - len(ln.lstrip())
        saw_agg, saw_docs = False, False
        for nxt in lines[i + 1:]:
            nd = len(nxt) - len(nxt.lstrip())
            if nxt.strip() and nd <= depth:
                break
            if "HashAggregate" in nxt:
                saw_agg = True
            if "documents.parquet" in nxt:
                saw_docs = True
        assert saw_agg or not saw_docs, \
            f"tokenizer_compare: raw documents under broadcast: {ln}"
    for ln in lines:
        if "Window" in ln and "WindowGroupLimit" not in ln:
            assert "__pid" in ln, f"tokenizer_compare: {ln}"


def test_ks_and_mannwhitney_plans_are_scale_safe(audit_spark):
    """doc_source_ks_test / doc_source_mannwhitney: one (source,
    n_chars) hash agg is the only corpus-scale work; the cumulative
    machinery orders the BOUNDED distinct-length frame (the
    theil_sen class); every broadcast subtree reaching
    documents.parquet aggregates first; the series/stat tails are
    1-row broadcasts."""
    from xsarsea_spark.suite import REGISTRY

    for name in ("doc_source_ks_test", "doc_source_mannwhitney"):
        plan = (REGISTRY[name].spark(audit_spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan, name
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "NestedLoopJoin" in ln:
                assert "Broadcast" in ln, f"{name}: {ln}"
            if "BroadcastExchange" not in ln:
                continue
            depth = len(ln) - len(ln.lstrip())
            saw_agg, saw_docs = False, False
            for nxt in lines[i + 1:]:
                nd = len(nxt) - len(nxt.lstrip())
                if nxt.strip() and nd <= depth:
                    break
                if "HashAggregate" in nxt:
                    saw_agg = True
                if "documents.parquet" in nxt:
                    saw_docs = True
            assert saw_agg or not saw_docs, \
                f"{name}: raw documents under broadcast: {ln}"


def _plan_nodes(plan: str) -> list[str]:
    """Operator names of a physical plan string, one per node line."""
    return [m.group(1) for m in (
        re.match(r"[\s:+\-]*(?:\*\(\d+\)\s*)?(\w+)", ln)
        for ln in plan.splitlines()) if m]


def test_streaks_full_one_kernel_pass_per_scale(spark):
    """streaks_full: the tile kernel runs once per scale (the window
    median reads the exploded pixels once, where a median join read
    them twice), no join anywhere (the circular taps are a literal
    array, not a broadcast cross join), and 7 exchanges: per scale the
    halo tiles and the histogram window, plus the ds-2 downscale, the
    stack mean and the window-key repartition of streak_direction."""
    from xsarsea_spark.suite import REGISTRY

    nodes = _plan_nodes(REGISTRY["streaks_full"].spark(spark, SF)
                        ._jdf.queryExecution().executedPlan().toString())
    assert nodes.count("FlatMapGroupsInPandas") == 2
    assert not [n for n in nodes if "Join" in n]
    assert sum("Exchange" in n for n in nodes) <= 7


def test_gradient_histogram_is_one_exchange_no_join(spark):
    """gradient_histogram over a join-free field: the per-window median
    and count are window aggregates, and the (window, bin) sum reuses
    their hash partitioning — one exchange, no join, no broadcast."""
    from xsarsea_spark.operators.gradients import gradient_histogram

    lg = spark.range(64 * 64).selectExpr(
        "id div 64 AS line4", "id % 64 AS sample4",
        "sin(id * 1e0) AS g2_re", "cos(id * 3e0) AS g2_im",
        "0.5e0 AS c")
    for step in (8, 4):                 # non-overlapping and overlapping
        nodes = _plan_nodes(gradient_histogram(lg, window=8, step=step)
                            ._jdf.queryExecution().executedPlan()
                            .toString())
        assert not [n for n in nodes if "Join" in n], step
        assert [n for n in nodes if "Exchange" in n] == ["Exchange"], step
        assert "Window" in nodes, step
