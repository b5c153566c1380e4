"""Training-data curation operators: stratified sampling, benchmark
contamination, and duplicate-cluster resolution.

All three are deterministic (hash-ordered, not RNG-seeded), so the
same corpus always yields the same sample / report — reproducibility
is a hard requirement for training-data pipelines.

Scale design:
- sampling is one window pass per stratum partition (no global sort);
- contamination is a bucketed join on shingle hash — the benchmark
  side is tiny and broadcast, the corpus side streams;
- component resolution iterates bounded min-label propagation rounds
  over the (sparse) near-dup edge list; only a convergence scalar
  reaches the driver per round, like Lloyd's in pipeline.ivf.

Parity: the reference engine (umr-lops/xsarsea) has no curation
surface; this module is part of the LLM-data-pipeline extension the
engine brief mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xsarsea_spark.engine import materialize
from xsarsea_spark.operators.rank import global_rank
from xsarsea_spark.pipeline.dedup import shingle

__all__ = ["stratified_sample", "source_token_cap",
           "unimax_language_cap", "unimax_enforce", "contamination_report",
           "dup_components"]

_MAX_ROUNDS = 20    # dup_components' label-propagation round cap


def stratified_sample(docs: DataFrame, n_per_stratum: int) -> DataFrame:
    """Deterministic per-stratum sample: the ``n_per_stratum`` docs
    with the smallest md5(id) per stratum. Hash order is uniform but
    fixed, so re-runs (and other engines) pick the identical sample —
    unlike RNG-based ``df.sample``. One window pass, no global sort.
    """

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        docs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_stratum)
        .drop("__rk")
    )


def source_token_cap(docs: DataFrame, budget: int) -> DataFrame:
    """Per-source TOKEN-budget cap — the RefinedWeb/FineWeb-style
    "no domain dominates the training mix" curation stage: within
    each source, docs are taken in deterministic hash-priority order
    until the cumulative whitespace-token count exceeds ``budget``
    (the first doc of a source is always kept, so no source is
    silenced entirely).

    Returns the per-doc decision frame: (id, source, n_tokens, rk,
    cum_tokens, kept). Hash order (md5 of the id) is uniform but
    fixed, so re-runs and other engines pick the identical subset —
    the same reproducibility contract as :func:`stratified_sample`.

    Scale: one cumulative window per source partition — frames are
    domain-bounded, the same class as the accepted per-customer
    windows; a pathological single-domain corpus would route the
    cumsum through ``operators.rank.global_rank`` running sums
    instead. Integer token sums, so no accumulation-order risk.
    """

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", "source",
                F.expr("size(split(text, ' '))")
                .alias("n_tokens"))
        .withColumn("rk", F.row_number().over(w))
        .withColumn("cum_tokens",
                    F.sum("n_tokens").over(
                        w.rowsBetween(Window.unboundedPreceding, 0))
                    .cast("long"))
        .withColumn("kept",
                    F.expr(f"cum_tokens <= {budget} OR rk = 1"))
    )


def unimax_language_cap(per_doc: DataFrame, budget: int) -> DataFrame:
    """UniMax per-language budget capping (Chung et al. 2023,
    arXiv:2304.09151): split a TOTAL token budget across languages by
    water-filling — every language below the water level ``v``
    contributes all its tokens, every language above is capped at
    ``v``, and ``v`` is the largest integer with
    ``sum_l min(avail_l, v) <= budget``. This is the paper's
    uniform-up-to-epoch-cap allocation (epoch cap = 1 pass), the
    alternative to proportional sampling that stops high-resource
    languages from dominating a multilingual mix.

    ``per_doc`` must carry (id, lang, token count). Returns the
    per-doc decision frame (id, lang, n_tokens, cum_tokens,
    lang_cap, kept): within a language, docs enter in deterministic
    hash-priority order until the language's cap; the first doc of a
    language is always kept (no language is silenced — the same
    contract as :func:`source_token_cap`).

    Everything is INTEGER (token counts, floor-divided levels), so
    the SQL replay is bit-exact.

    Scale: the language frame is L rows (a few hundred at most) —
    the water level comes from two L x L broadcast triangular joins
    (candidate levels + feasibility check), never a window. The
    per-doc cumulative sum rides ONE :func:`operators.rank.
    global_rank` running sum over (lang, priority) order with
    broadcast per-language offsets — no per-language window, so a
    10-TB single-language corpus cannot pin one task.
    """

    # lazily checkpointed: this narrow per-doc frame feeds BOTH the
    # language-totals aggregation and the global running sum, and the
    # caller's upstream projection (typically the language-ID score
    # battery) is expensive — without the barrier it executes once
    # per consumer
    pd = materialize(
        per_doc.selectExpr(
            "doc_id", "lang AS __lang",
            "CAST(n_tokens AS BIGINT) AS __ntok",
            "md5(CAST(doc_id AS STRING)) AS __pr"),
        eager=False)
    langs = pd.groupBy("__lang").agg(
        F.expr("CAST(SUM(__ntok) AS BIGINT)").alias("__avail"))
    # candidate water levels: for each k under (avail, lang) order,
    # c_k = (B - sum of smaller avails) div (#ranks >= k) — the max
    # integer level if exactly the k-1 smaller languages fit fully
    lb = langs.selectExpr("__lang AS __lb", "__avail AS __ab")
    cand = (langs.join(
        F.broadcast(lb),
        F.expr("__ab < __avail OR (__ab = __avail"
               " AND __lb <= __lang)"), "left")
        .groupBy("__lang", "__avail")
        .agg(F.expr("COUNT(__lb)").alias("__rn"),
             F.expr("CAST(SUM(__ab) AS BIGINT)").alias("__cum")))
    ltot = langs.agg(F.expr("COUNT(*)").alias("__L"))
    # numerator clamped at 0: Spark's div truncates toward zero
    # while DuckDB's // floors, so a negative intermediate would
    # diverge cross-engine (a negative level is never the max
    # feasible one anyway)
    cand = (cand.crossJoin(F.broadcast(ltot))
            .selectExpr(
                f"GREATEST({budget} - (__cum - __avail), 0)"
                f" div (__L - __rn + 1) AS __c"))
    # feasibility: keep candidates with sum_l min(avail_l, c) <= B;
    # the water level is the largest feasible candidate. DISTINCT
    # first: two languages can produce the SAME candidate level
    # (e.g. equal avails), and grouping the cross-join by __c without
    # dedup would sum each language's min() m times for an m-way
    # collision — inflating fs and wrongly rejecting feasible levels
    # (two langs of 10 tokens at budget 20 kept only first docs)
    lvl = (cand.select("__c").distinct().crossJoin(F.broadcast(lb))
           .groupBy("__c")
           .agg(F.expr("CAST(SUM(LEAST(__ab, __c)) AS BIGINT)")
                .alias("__f"))
           .filter(f"__f <= {budget}")
           .agg(F.expr("CAST(MAX(__c) AS BIGINT)").alias("__v")))
    caps = (langs.crossJoin(F.broadcast(lvl))
            .selectExpr("__lang",
                        "CAST(LEAST(__avail, __v) AS BIGINT)"
                        " AS lang_cap"))
    # per-doc cumulative tokens inside the language WITHOUT a
    # per-language window: one global running sum over (lang,
    # priority, id) order minus the language's start offset
    ranked = global_rank(
        pd,
        [F.col("__lang").asc(), F.col("__pr").asc(),
         F.col("doc_id").asc()],
        rank_col="__gr", running_sums={"__gcum": "__ntok"})
    offs = ranked.groupBy("__lang").agg(
        F.expr("CAST(MIN(__gcum - __ntok) AS BIGINT)").alias("__off"))
    return (ranked
            .join(F.broadcast(offs), on="__lang")
            .join(F.broadcast(caps), on="__lang")
            .selectExpr(
                "doc_id", "__lang AS lang",
                "__ntok AS n_tokens",
                "CAST(__gcum - __off AS BIGINT) AS cum_tokens",
                "lang_cap",
                "__gcum - __off <= lang_cap"
                " OR __gcum - __off = __ntok AS kept"))


def contamination_report(docs: DataFrame, benchmark: DataFrame
                         ) -> DataFrame:
    """Benchmark-contamination check: fraction of each corpus
    document's word ``SHINGLE_N``-grams (its shingles) that appear in
    ANY benchmark document.

    Returns (doc_id, n_grams, n_contaminated, contamination) for
    contaminated docs only. The benchmark shingle set is distinct and
    broadcast; the corpus side streams through one join + one
    aggregation — never a cross join.
    """
    corpus_sh = shingle(docs)
    bench_sh = (
        shingle(benchmark)
        .select("shingle").distinct()
    )
    totals = corpus_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"))
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), on="shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        totals.join(hits, on="doc_id")
        .withColumn(
            "contamination",
            F.expr("n_contaminated / CAST(n_grams AS DOUBLE)"))
        .select("doc_id", "n_grams", "n_contaminated", "contamination")
    )


def _dsu_components(edge_rows, spark) -> DataFrame:
    """Driver-side union-find over a collected symmetric edge list;
    returns (doc_id, component) with component = min id in cluster."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:        # path compression
            parent[x], x = root, parent[x]
        return root

    for src, dst in edge_rows:
        parent.setdefault(src, src)
        parent.setdefault(dst, dst)
        ra, rb = find(src), find(dst)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = [(node, find(node)) for node in parent]
    return spark.createDataFrame(out, "doc_id LONG, component LONG")


def dup_components(pairs: DataFrame,
                   local_threshold: int = 2_000_000) -> DataFrame:
    """Resolve near-duplicate (id_a, id_b) pairs into clusters:
    connected components by min-label propagation, returning (doc_id,
    component) with component = the smallest doc id in the cluster.

    Hybrid strategy (the GraphFrames/GraphX pattern): the symmetric
    edge list is materialized once (localCheckpoint), and if it is
    below ``local_threshold`` edges the components are finished with
    driver-side union-find — the distributed loop's per-round shuffle
    overhead dwarfs the work when the dedup graph is sparse, which it
    almost always is after LSH + Jaccard filtering. Above the
    threshold, bounded min-label propagation: each round takes the
    per-node minimum label over the edge list, then pointer-jumps
    (label <- label of the label), so convergence needs O(log
    diameter) rounds instead of O(diameter). Iteration stops when a
    round changes nothing (checked with a 1-row aggregate — the only
    driver-side state, like Lloyd's centroids) or after
    ``_MAX_ROUNDS`` rounds. Both paths produce the
    identical (doc_id, min-id) labeling.
    """
    edges = materialize(
        pairs.select(F.col("id_a").alias("src"),
                     F.col("id_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("id_b").alias("src"),
                         F.col("id_a").alias("dst")))
        .distinct()
    )
    if edges.count() <= local_threshold:
        return _dsu_components(
            [(r.src, r.dst) for r in edges.collect()],
            pairs.sparkSession)
    # derive labels from the ALREADY-checkpointed edges so the
    # (possibly expensive) upstream pair computation runs exactly once
    labels = materialize(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(_MAX_ROUNDS):
        neigh = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("n_comp"))
        )
        stepped = labels.join(neigh, labels.node == neigh.src, "left").select(
            "node",
            F.least(
                F.col("component"),
                F.coalesce(F.col("n_comp"), F.col("component")),
            ).alias("component"),
        )
        # pointer jump: follow the label one hop (component of my
        # component) — label trees flatten in log rounds
        parents = stepped.select(
            F.col("node").alias("p_node"),
            F.col("component").alias("p_comp"))
        new_labels = materialize(
            stepped.join(parents, stepped.component == parents.p_node,
                         "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("p_comp"), F.col("component")),
                ).alias("component"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), "component")


def unimax_enforce(per_doc: DataFrame, caps: DataFrame,
                   consumed: DataFrame | None = None) -> DataFrame:
    """Enforce PERSISTED per-language UniMax caps on a batch — the
    streaming half of :func:`unimax_language_cap`: caps are fitted
    offline (an L-row artifact), every micro-batch ranks its docs in
    deterministic hash-priority order and admits until the language's
    remaining budget. ``caps`` carries (lang, lang_cap); ``consumed``
    (optional) carries (lang, used) — tokens already admitted by
    earlier batches, so the gate is ``used + cum <= cap``. A language
    absent from ``caps`` has budget 0; the first doc EVER of a
    language is always admitted (used = 0 and cum = its own tokens —
    the batch contract's no-language-silenced rule).

    Scale: same machinery as the batch form — ONE global running sum
    (two-pass rank) + broadcast L-row offsets/caps/consumed joins.
    """

    pd = per_doc.selectExpr(
        "doc_id", "lang AS __lang",
        "CAST(n_tokens AS BIGINT) AS __ntok",
        "md5(CAST(doc_id AS STRING)) AS __pr")
    ranked = global_rank(
        pd,
        [F.col("__lang").asc(), F.col("__pr").asc(),
         F.col("doc_id").asc()],
        rank_col="__gr", running_sums={"__gcum": "__ntok"})
    offs = ranked.groupBy("__lang").agg(
        F.expr("CAST(MIN(__gcum - __ntok) AS BIGINT)").alias("__off"))
    cp = caps.selectExpr("lang AS __lang",
                         "CAST(lang_cap AS BIGINT) AS __cap")
    j = (ranked
         .join(F.broadcast(offs), on="__lang")
         .join(F.broadcast(cp), on="__lang", how="left"))
    if consumed is not None:
        us = consumed.selectExpr("lang AS __lang",
                                 "CAST(used AS BIGINT) AS __used")
        j = j.join(F.broadcast(us), on="__lang", how="left")
    else:
        j = j.withColumn("__used", F.lit(0).cast("long"))
    return j.selectExpr(
        "doc_id", "__lang AS lang", "__ntok AS n_tokens",
        "CAST(__gcum - __off AS BIGINT) AS cum_tokens",
        "CAST(COALESCE(__cap, 0) AS BIGINT) AS lang_cap",
        "COALESCE(__used, 0L) + (__gcum - __off)"
        " <= COALESCE(__cap, 0)"
        " OR (COALESCE(__used, 0L) = 0"
        " AND __gcum - __off = __ntok) AS kept")
