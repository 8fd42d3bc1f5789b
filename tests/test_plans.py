"""Plan-shape regression tests: pushdown, pruning, broadcast, shuffle
counts — the properties that decide 100 TB behavior."""

import re
from contextlib import contextmanager

from pyspark.sql import functions as F

from rstreams_spark import plans
from rstreams_spark.queries import REGISTRY

from conftest import SF_SMOKE


@contextmanager
def _conf(spark, settings):
    old = {}
    for k in settings:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# with size-based auto-broadcast off, any BroadcastHashJoin left in the
# initial plan comes from a hard-coded hint — this is how we pin WHICH
# sides carry hints independently of the tiny test-file sizes
NO_AUTO_BHJ = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


def _count_shuffled_joins(df) -> int:
    """Shuffle-distributed joins of either physical flavor: sort-merge
    or shuffled-hash (the latter skips the sort — right for semi
    probes where neither side's order is reused)."""
    return plans.count_sortmerge_joins(df) + len(
        re.findall(r"\(\d+\) ShuffledHashJoin\b", plans.explain_str(df))
    )


def test_q1_pushdown_and_pruning(spark):
    df = REGISTRY["tpch_q1"](spark, SF_SMOKE)
    rep = plans.plan_report(df)
    assert any("l_shipdate" in f for f in rep["pushed_filters"])
    # pruning: the scan reads only the 7 needed columns (of 11)
    (schema,) = rep["read_schemas"]
    assert set(schema) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_q3_no_static_fact_broadcast(spark):
    """q3 joins only fact-sized sides (orders, customer — linear in
    SF): no broadcast hint may survive; the facts shuffle-join."""
    with _conf(spark, NO_AUTO_BHJ):
        df = REGISTRY["tpch_q3"](spark, SF_SMOKE)
        assert plans.count_broadcast_joins(df) == 0
        assert plans.count_sortmerge_joins(df) >= 2


def test_q5_dims_hinted_facts_shuffle(spark):
    """q5: supplier/nation/region keep dim hints; orders/customer
    joins must shuffle when their runtime size doesn't qualify."""
    with _conf(spark, NO_AUTO_BHJ):
        df = REGISTRY["tpch_q5"](spark, SF_SMOKE)
        assert plans.count_broadcast_joins(df) == 3
        assert plans.count_sortmerge_joins(df) == 2


def test_q7_q10_q18_fact_broadcasts_are_dynamic_only(spark):
    """Remaining multi-join headliners: hinted broadcasts == dim joins
    only; every fact join is a shuffle join in the static plan."""
    for key, n_dims, n_facts in (
        ("tpch_q7", 3, 2),   # supplier + nation×2 | orders, customer
        ("tpch_q10", 1, 2),  # nation              | orders, customer
        ("tpch_q18", 0, 2),  # —                   | big-orders, customer
    ):
        with _conf(spark, NO_AUTO_BHJ):
            df = REGISTRY[key](spark, SF_SMOKE)
            assert plans.count_broadcast_joins(df) == n_dims, key
            assert plans.count_sortmerge_joins(df) >= n_facts, key


def test_new_tpch_broadcast_discipline(spark):
    """Round-2 TPC-H additions: hinted broadcasts == genuine dims (or
    sublinear aggregates) only; every fact-fact join shuffles in the
    static plan. (q12 inner / q13 left-outer / q22 anti join
    order-count-sized sides — no broadcast hint allowed; q4's
    shuffle_hash hint is a SHUFFLE-strategy pin, not a broadcast.)"""
    for key, n_hinted, n_shuffled in (
        # q4's semi-join shuffle is ENFORCED by a shuffle_hash hint
        # (r5): left-semi's build side is the lineitem fact, and the
        # 2-column pruned scan slips under the local broadcast
        # threshold — Catalyst's BroadcastHashJoin(BuildRight) was a
        # single-threaded 6M-row build (the whole r4 4.7× decade
        # step) and an OOM at 100 TB
        ("tpch_q4", 0, 1),   # semi-join on lineitem: shuffled-hash
        ("tpch_q12", 0, 1),  # orders join: shuffle only
        ("tpch_q13", 0, 1),  # left-outer on orders: shuffle only
        # part-dim hint appears in BOTH branches (threshold side and
        # probe side re-scan the hinted li⋈part lineage) ⇒ 2 BHJs, one dim
        ("tpch_q17", 2, 1),
        ("tpch_q19", 1, 0),  # part dim broadcast, no other join
    ):
        with _conf(spark, NO_AUTO_BHJ):
            df = REGISTRY[key](spark, SF_SMOKE)
            assert plans.count_broadcast_joins(df) == n_hinted, key
            assert _count_shuffled_joins(df) >= n_shuffled, key


def test_q4_semi_join_never_broadcasts_the_fact(spark):
    """Pins the r5 shuffle_hash hint under the DEFAULT conf (the
    NO_AUTO_BHJ loop above passes even without the hint, since
    disabling auto-broadcast forces a shuffle anyway): with
    auto-broadcast at its normal threshold the 2-column pruned
    lineitem slips under the limit and Catalyst builds a
    BroadcastHashJoin on the FACT side of the left-semi — the exact
    single-threaded-build/100 TB-OOM shape the hint exists to
    forbid. Deleting the hint fails THIS test."""
    import re

    df = REGISTRY["tpch_q4"](spark, SF_SMOKE)
    txt = plans.explain_str(df)
    assert len(re.findall(r"\(\d+\) ShuffledHashJoin", txt)) >= 1
    assert plans.count_broadcast_joins(df) == 0


def test_r4_tpch_broadcast_discipline(spark):
    """Round-4 completions (q2/q20/q21): dim hints only — part and
    the supplier⋈nation(⋈region) chain broadcast; q21's
    lineitem⋈orders fact join shuffles; q2's correlated min is a
    window over the part key (no self-join back onto the agg)."""
    for key, n_hinted, n_smj in (
        ("tpch_q2", 4, 0),   # part + supp/nation/region hints; min is a window
        ("tpch_q20", 3, 0),  # part + supp/nation hints; agg shuffles only
        ("tpch_q21", 1, 1),  # supplier hint; li⋈orders shuffles
    ):
        with _conf(spark, NO_AUTO_BHJ):
            df = REGISTRY[key](spark, SF_SMOKE)
            assert plans.count_broadcast_joins(df) == n_hinted, key
            assert plans.count_sortmerge_joins(df) >= n_smj, key
    # q2's min-per-part must NOT rescan the cost aggregate: exactly
    # one Window node, zero joins beyond the two dim hints
    with _conf(spark, NO_AUTO_BHJ):
        txt = plans.explain_str(REGISTRY["tpch_q2"](spark, SF_SMOKE))
        assert txt.count("Window") >= 1
        assert plans.count_sortmerge_joins(REGISTRY["tpch_q2"](spark, SF_SMOKE)) == 0


def test_q21_both_agg_levels_share_one_corpus_exchange(spark):
    """r12: the joined lineitem frame repartitions by l_orderkey,
    which satisfies the clustering requirement of BOTH groupBy
    levels ((l_orderkey, l_suppkey) then (l_orderkey)) — exactly one
    corpus-sized exchange, keyed by l_orderkey alone. Letting the
    first groupBy pick hash(l_orderkey, l_suppkey) scatters each
    order's suppliers and forces a second ≈|lineitem|-row exchange
    (measured sf10: 10.7 → 5.7 s). The __lone re-key exchange and
    broadcasts are the only other exchanges."""
    df = REGISTRY["tpch_q21"](spark, SF_SMOKE)
    txt = plans.explain_str(df)
    assert len(re.findall(r"hashpartitioning\(l_orderkey#\d+L?, ", txt)) == 1
    assert not re.search(r"hashpartitioning\(l_orderkey#\d+L?, l_suppkey", txt)
    assert plans.count_shuffles(df) == 2  # orderkey corpus + __lone pair-agg


def test_text_quality_lang_id_single_tokenize_evaluation(spark):
    """r12: codegen CSE does not common codegen-fallback HOF subtrees,
    so every reference to an expression containing the tokenizer
    (filter∘split) re-evaluates it per row. The stacked-projection
    rewrite pins exactly ONE tokenize subtree in each plan (the r11
    one-Project forms carried 5 and 40 respectively — sf10 23.3→2.6 s
    and 29.2→2.7 s). text_quality's char-class counts must also stay
    on translate(), not regex passes."""
    txt = plans.explain_str(REGISTRY["text_quality"](spark, SF_SMOKE))
    assert txt.count("filter(split") == 1, "text_quality re-tokenizes"
    # 3 class counts via translate; the only regexp_replace left is
    # the tokenizer's normalizer
    assert txt.count("regexp_replace") == 1
    txt = plans.explain_str(REGISTRY["lang_id"](spark, SF_SMOKE))
    assert txt.count("filter(split") == 1, "lang_id re-tokenizes"


def test_q8_widest_join_discipline(spark):
    """q8 (8-way join): exactly the 5 dim hints broadcast (part,
    customer-nation, region, supplier, supplier-nation); the
    orders/customer fact joins shuffle in the static plan."""
    with _conf(spark, NO_AUTO_BHJ):
        df = REGISTRY["tpch_q8"](spark, SF_SMOKE)
        assert plans.count_broadcast_joins(df) == 5
        assert plans.count_sortmerge_joins(df) >= 2


def test_q15_scalar_max_broadcast(spark):
    """q15: the one-row max broadcast + supplier dim hint are the
    only joins — Catalyst rewrites the cross-join + equality filter
    into a broadcast HASH join on total_rev (better than nested
    loop); the revenue aggregation is the only wide stage."""
    with _conf(spark, NO_AUTO_BHJ):
        df = REGISTRY["tpch_q15"](spark, SF_SMOKE)
        assert plans.count_broadcast_joins(df) == 2
        assert plans.count_sortmerge_joins(df) == 0


def test_q22_anti_join_shuffles_scalar_broadcasts(spark):
    """q22: the orders anti-join must shuffle (fact-sized side); the
    one-row balance threshold rides a broadcast nested-loop join."""
    with _conf(spark, NO_AUTO_BHJ):
        df = REGISTRY["tpch_q22"](spark, SF_SMOKE)
        txt = plans.explain_str(df)
        assert "BroadcastNestedLoopJoin" in txt  # 1-row scalar agg
        assert plans.count_sortmerge_joins(df) >= 1  # the anti-join


def test_q3_sf10_transition_shape_smj_facts_broadcast_dims(spark):
    """The designed sf10 shape of q3 (SCALING.md standing note): when
    the date-filtered orders side outgrows the broadcast threshold
    but the segment-filtered customer side still fits, the plan must
    be EXACTLY orders⋈lineitem as SortMergeJoin + customer as
    broadcast — never a nested-loop fallback, never a second SMJ.
    Reproduced deterministically at smoke SF by setting the threshold
    between the two tables' scan-size estimates (without CBO, Filter
    inherits its child's sizeInBytes, so the estimates are the
    parquet file sizes — customer ~7 KB < orders ~37 KB)."""
    import os

    cust_sz = os.path.getsize(f"{SF_SMOKE}/customer.parquet")
    orders_sz = os.path.getsize(f"{SF_SMOKE}/orders.parquet")
    assert cust_sz < orders_sz
    mid = str((cust_sz + orders_sz) // 2)
    with _conf(spark, {"spark.sql.autoBroadcastJoinThreshold": mid}):
        df = REGISTRY["tpch_q3"](spark, SF_SMOKE)
        assert plans.count_broadcast_joins(df) == 1
        assert plans.count_sortmerge_joins(df) == 1
        txt = plans.explain_str(df)
        assert "BroadcastNestedLoopJoin" not in txt
        # the broadcast side is the customer dim, not a fact
        m = re.search(r"BroadcastExchange[\s\S]{0,400}?c_custkey", txt)
        assert m, f"customer is not the broadcast side:\n{txt}"


def test_q3_small_sf_still_broadcasts_dynamically(spark):
    """Dropping the hints costs nothing at driver SFs: size-based
    planning (or AQE at runtime) still picks broadcast when the
    filtered sides genuinely fit."""
    df = REGISTRY["tpch_q3"](spark, SF_SMOKE)
    assert plans.count_broadcast_joins(df) >= 2
    assert plans.count_sortmerge_joins(df) == 0


def test_ngram_jaccard_no_static_broadcast(spark):
    """The size tables are doc-count-sized — no broadcast hint may
    survive; everything joins by shuffle (or AQE picks broadcast at
    runtime when the actual size qualifies)."""
    with _conf(spark, NO_AUTO_BHJ):
        df = REGISTRY["dedup_ngram_jaccard"](spark, SF_SMOKE)
        assert plans.count_broadcast_joins(df) == 0


def test_stream_table_join_no_fact_shuffle(spark):
    df = REGISTRY["stream_table_join"](spark, SF_SMOKE)
    # broadcast table side ⇒ the orders fact side needs no exchange
    assert plans.count_broadcast_joins(df) == 1
    assert plans.count_shuffles(df) == 0


def test_tumbling_window_single_shuffle(spark):
    df = REGISTRY["tumbling_window"](spark, SF_SMOKE)
    assert plans.count_shuffles(df) == 1  # one hash exchange on (key, window)


def test_latest_per_key_single_shuffle(spark):
    df = REGISTRY["latest_per_key"](spark, SF_SMOKE)
    assert plans.count_shuffles(df) == 1


def test_interval_join_filters_pushed(spark):
    df = REGISTRY["interval_join"](spark, SF_SMOKE)
    fs = plans.pushed_filters(df)
    assert any("purchase" in f for f in fs) and any("error" in f for f in fs)


def test_ann_topk_partial_topk_below_shuffle(spark):
    """brute_topk scale shape: probes ride a broadcast (never a
    driver collect), and the rank<=k cut runs per-partition BELOW
    the exchange (WindowGroupLimit pushdown) so the shuffle moves
    local winners only, never corpus × probes."""
    import re

    df = REGISTRY["ann_topk"](spark, SF_SMOKE)
    txt = plans.explain_str(df)
    assert "BroadcastNestedLoopJoin" in txt
    # partial WindowGroupLimit below the Exchange + final one above:
    # two distinct nodes
    assert len(set(re.findall(r"\(\d+\) WindowGroupLimit", txt))) >= 2


def test_ann_routed_kernel_scoring_shape(spark):
    """r10 shape of the capped-probe ANN paths: the routed probe
    frame is collected as bounded driver rows (cap_probes' assert_true
    guard executes inside that collect — loud-cap behavior pinned by
    tests/test_probe_shuffle.py) and scoring runs in the Arrow kernel
    (routed_cosine_np) over the corpus frame — ONE corpus pass, zero
    probe broadcasts, zero exchanges between the materialized corpus
    and the rank window's own shuffle."""
    for key in ("ann_lsh_topk", "ivf_topk"):
        df = REGISTRY[key](spark, SF_SMOKE)
        txt = plans.explain_str(df)
        # the Arrow kernel is the scoring stage
        assert "MapInPandas" in txt, f"{key}: routed kernel missing"
        # no probe broadcast remains anywhere in the scoring plan
        assert "BroadcastExchange" not in txt, f"{key}: stray broadcast"
        # invariant 9: the shared corpus frame (scan + norm/bucket
        # folds) materializes once via lazy localCheckpoint — the
        # kernel reads ExistingRDD, never a per-branch parquet re-scan
        assert "ExistingRDD" in txt, f"{key}: corpus frame not materialized"
        # exactly ONE exchange: the rank window's partitionBy —
        # scoring itself adds none
        assert plans.count_shuffles(df) == 1, f"{key}: extra exchange"


def test_fanout_repartition_is_conditional(spark):
    """Pre-explode repartition fires only for under-parallel inputs:
    an input already at ≥ defaultParallelism partitions passes
    through untouched (no exchange added)."""
    from rstreams_spark.functions.core import ensure_fanout_parallelism

    n = spark.sparkContext.defaultParallelism
    wide = spark.range(10_000).repartition(n)
    assert ensure_fanout_parallelism(wide) is wide  # literally a no-op
    narrow = spark.range(100).coalesce(1)
    out = ensure_fanout_parallelism(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == n


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """write_parquet(partition_by=...) gives downstream readers
    partition pruning: a filter on the partition column must show up
    as a PartitionFilters entry on the scan, not a row filter."""
    from rstreams_spark.queries._util import t as load
    from rstreams_spark.sinks.writers import write_parquet

    ev = load(spark, SF_SMOKE, "events").select("event_id", "event_type", "value")
    path = str(tmp_path / "ev_part")
    write_parquet(ev, path, partition_by=["event_type"])
    back = spark.read.parquet(path).where(F.col("event_type") == "purchase")
    txt = plans.explain_str(back)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", txt)
    assert m and "event_type" in m.group(1)
    assert back.count() > 0


def test_sql_surface_matches_dataframe(spark):
    """register_tables exposes the corpus to plain spark.sql; a SQL
    restatement of a catalog query returns the DataFrame result."""
    from rstreams_spark.sources.files import register_tables

    register_tables(spark, SF_SMOKE)
    got = spark.sql(
        "select event_type, count(*) as n from events group by event_type"
    ).collect()
    want = (
        REGISTRY["fold_count"](spark, SF_SMOKE)
        .select("event_type", "n")
        .collect()
    )
    assert {(r["event_type"], r["n"]) for r in got} == {
        (r["event_type"], r["n"]) for r in want
    }


def test_bucketed_benchmark_tables_zero_exchange_q18_core(spark, tmp_path):
    """SURVEY §7c.4: bucket the ACTUAL benchmark facts (orders +
    lineitem, co-bucketed on orderkey) and run the q18 inner core —
    per-order revenue join + grouped HAVING. Both the fact-fact join
    AND the groupBy reuse the bucket partitioning: the whole query
    plans with ZERO exchanges. This is the 'pay the shuffle once at
    load, never per query' discipline for a 100 TB warehouse."""
    from rstreams_spark.queries._util import t as load
    from rstreams_spark.sinks.writers import write_bucketed

    orders = load(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    write_bucketed(orders, "orders_bkt", str(tmp_path / "o"), ["o_orderkey"], 8)
    write_bucketed(li, "lineitem_bkt", str(tmp_path / "l"), ["l_orderkey"], 8)
    try:
        o, l = spark.table("orders_bkt"), spark.table("lineitem_bkt")
        core = (
            l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderkey")
            .agg(
                F.sum("l_quantity").alias("total_qty"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                    "revenue"
                ),
            )
            .where(F.col("total_qty") > 100)
        )
        # auto-broadcast off: at test sizes BHJ would win anyway;
        # the 100 TB case is both sides too big to broadcast — that
        # regime must plan a ZERO-exchange sort-merge join
        with _conf(spark, NO_AUTO_BHJ):
            assert plans.count_shuffles(core) == 0
            assert plans.count_sortmerge_joins(core) == 1
        got = core.count()
        # parity vs the plain (shuffling) plan over the raw parquet
        want = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("total_qty"))
            .where(F.col("total_qty") > 100)
            .count()
        )
        assert got == want and got > 0
    finally:
        spark.sql("drop table if exists orders_bkt")
        spark.sql("drop table if exists lineitem_bkt")


def test_bucketed_join_needs_no_shuffle(spark, tmp_path):
    """Bucketing pre-distributes join keys at write time: a fact-fact
    equi-join between co-bucketed tables runs with ZERO exchanges —
    the 100 TB answer for repeated big-table joins."""
    from rstreams_spark.queries._util import t as load
    from rstreams_spark.sinks.writers import write_bucketed

    ev = load(spark, SF_SMOKE, "events").select("event_id", "user_id", "value")
    for name in ("ev_bkt_a", "ev_bkt_b"):
        write_bucketed(ev, name, str(tmp_path / name), ["user_id"], 8)
    a, b = spark.table("ev_bkt_a"), spark.table("ev_bkt_b")
    joined = a.join(b.withColumnRenamed("event_id", "e2").withColumnRenamed("value", "v2"), "user_id")
    try:
        assert plans.count_shuffles(joined) == 0
        assert joined.count() > 0
    finally:
        spark.sql("drop table if exists ev_bkt_a")
        spark.sql("drop table if exists ev_bkt_b")


def test_cogroup_gate_inherits_bucketed_index_layout(spark, tmp_path):
    """The embedding gate's cogroup kernel requires each side
    clustered by cell INDEPENDENTLY, so a semantic index written
    bucketed by cell satisfies its side with zero exchange — each
    trigger shuffles only the arriving batch (r10 verdict item 7:
    a union→groupBy kernel shape re-shuffled BOTH sides because a
    union discards child partitioning). Pins: 1 exchange for the
    gate over the bucketed index (arrivals only) vs 2 for plain;
    row-identical dup sets over both layouts."""
    from pyspark.sql import functions as F
    from rstreams_spark.functions.similarity import l2_norm, rankable_norm
    from rstreams_spark.queries._util import t as load
    from rstreams_spark.queries.dedupq import COSINE_TAU, ivf_assign_np
    from rstreams_spark.sinks.writers import write_bucketed
    from rstreams_spark.streaming.dedup import (
        _cell_dup_ids_np, embedding_index,
    )

    vecs = (
        load(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
        .where(F.col("embedding").isNotNull())
        .localCheckpoint()
    )
    cents, indexed = embedding_index(vecs)
    cents = cents.localCheckpoint()
    indexed_plain = indexed.localCheckpoint()
    write_bucketed(indexed_plain, "idx_cell_bkt",
                   str(tmp_path / "idx"), ["cell"], 8)
    arrivals = (
        ivf_assign_np(
            vecs.select((F.col("vec_id") + 100000).alias("vec_id"),
                        "embedding"),
            cents,
        )
        .withColumn("v_norm", l2_norm(F.col("embedding")))
        .where(rankable_norm(F.col("v_norm")))
        .localCheckpoint()
    )
    try:
        bkt = spark.table("idx_cell_bkt")
        cg_plain = _cell_dup_ids_np(arrivals, indexed_plain, COSINE_TAU)
        cg_bkt = _cell_dup_ids_np(arrivals, bkt, COSINE_TAU)
        # count BEFORE executing: an executed AQE plan's formatted
        # output repeats each exchange in its initial+final sections
        assert plans.count_shuffles(cg_bkt) == 1      # arrivals only
        assert plans.count_shuffles(cg_plain) == 2    # both sides
        base = sorted(r["vec_id"] for r in cg_plain.collect())
        assert len(base) > 0  # exact copies of index vectors are dups
        assert sorted(r["vec_id"] for r in cg_bkt.collect()) == base
    finally:
        spark.sql("drop table if exists idx_cell_bkt")


def test_minhash_lsh_topk_signature_reused(spark):
    """The signature frame feeds three consumers (band pairs + both
    verify sides); it must be served from ONE materialized
    computation — without it Catalyst's per-branch pruning
    de-canonicalizes the agg and the corpus is scanned+shingled
    three times. Materialization is a lazy localCheckpoint, so the
    consumers show as ExistingRDD scans and no FileScan survives
    downstream."""
    df = REGISTRY["minhash_lsh_topk"](spark, SF_SMOKE)
    txt = plans.explain_str(df)
    assert txt.count("ExistingRDD") >= 3
    assert "FileScan" not in txt


def test_ngram_jaccard_shingles_reused(spark):
    """Same discipline for the DF-capped shingle frame: four
    consumers (self-join sides + size lookups), one materialized
    computation."""
    df = REGISTRY["dedup_ngram_jaccard"](spark, SF_SMOKE)
    txt = plans.explain_str(df)
    assert txt.count("ExistingRDD") >= 4
    assert "FileScan" not in txt


def test_r5_new_query_plan_shapes(spark):
    """Plan discipline for the r5 additions (invariant 6):
    video_meta pipelines with the scan (zero exchanges — two
    stateless mapInPandas stages); budget_sample is exactly ONE
    shuffle (the per-source window) with no joins; and
    decontaminate_fuzzy materializes its signature frame once
    (ExistingRDD present — without it the banding and both verify
    sides would each re-shingle the corpus) with no cartesian
    product."""
    df_v = REGISTRY["video_meta"](spark, SF_SMOKE)
    # r9: at most the CONDITIONAL fan-out repartition (fires on this
    # few-file smoke corpus; no-op on multi-file layouts) — still no
    # joins and no aggregation exchanges
    assert plans.count_shuffles(df_v) <= 1
    assert plans.count_broadcast_joins(df_v) == 0

    df_b = REGISTRY["budget_sample"](spark, SF_SMOKE)
    assert plans.count_shuffles(df_b) == 1
    assert plans.count_broadcast_joins(df_b) == 0
    assert _count_shuffled_joins(df_b) == 0

    df_f = REGISTRY["decontaminate_fuzzy"](spark, SF_SMOKE)
    txt = plans.explain_str(df_f)
    assert "ExistingRDD" in txt      # the materialized signature frame
    assert "CartesianProduct" not in txt


def test_source_overlap_plan_shape(spark):
    """source_overlap (r9 shape, invariant 6): the gram SELF-JOIN is
    gone — each gram collapses to its sorted source set in ONE
    corpus-keyed aggregation and the i<j pair triangle expands
    MAP-SIDE, so the final frame shows the pair-count exchange only
    (the collapsed gram-set frame and the S-row totals materialize
    once — ExistingRDD, invariant 9). ONLY the two S-row per-source
    totals carry broadcast hints (a hint on a corpus-sized frame
    would ship it to every executor at 100 TB); zero sort-merge
    joins anywhere."""
    with _conf(spark, NO_AUTO_BHJ):
        df = REGISTRY["source_overlap"](spark, SF_SMOKE)
        assert plans.count_broadcast_joins(df) == 2
        assert plans.count_sortmerge_joins(df) == 0
        assert plans.count_shuffles(df) == 1
        txt = plans.explain_str(df)
        assert "ExistingRDD" in txt
        assert "CartesianProduct" not in txt


def test_ngram_novelty_single_gram_exchange(spark):
    """ngram_novelty (r10 rewrite): the corpus-sized gram JOIN-BACK
    is gone. Per-doc distinct counts come map-side from
    array_distinct (no shuffle can change a doc's own grams), so the
    plan carries exactly ONE gram-keyed exchange (first-seen min,
    map-side partial); every other exchange is doc-keyed and
    output-sized, the recombination join is per-DOC (both sides
    pre-partitioned on doc_id by their aggregates — no extra
    exchange under forced SMJ), and the shared per-doc gram frame
    materializes once (ExistingRDD ×2, invariant 9)."""
    with _conf(spark, NO_AUTO_BHJ):
        df = REGISTRY["ngram_novelty"](spark, SF_SMOKE)
        txt = plans.explain_str(df)
        gram_ex = len(
            re.findall(r"\(\d+\) Exchange\n[^(]*hashpartitioning\(gram", txt)
        )
        assert gram_ex == 1, f"expected 1 gram-keyed exchange, plan:\n{txt}"
        assert plans.count_shuffles(df) <= 3  # gram + two doc-keyed
        assert len(re.findall(r"\(\d+\) Scan ExistingRDD\b", txt)) == 2
        assert "CartesianProduct" not in txt


def test_quality_repetition_is_map_only(spark):
    # every statistic is doc-local (r9 rewrite): no aggregation, no
    # join — the only exchange that may appear is the CONDITIONAL
    # fan-out repartition of the narrow docs scan (fires on this
    # few-file local corpus; a no-op on a real multi-file layout)
    df = REGISTRY["quality_repetition"](spark, SF_SMOKE)
    txt = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in txt and "ObjectHashAggregate" not in txt
    assert "Join" not in txt
    assert plans.count_shuffles(df) <= 1
    assert plans.count_broadcast_joins(df) == 0
