"""Physical-plan audits — the scale properties SCALE.md promises,
asserted as regressions: predicate pushdown reaches the scan, dims
broadcast, aggregations are partial+final, and NO query in the
registry ever degenerates into an unconditioned cartesian product.
"""

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from hbasewd_spark.sources.loaders import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_product_anywhere(spark, sf_dir):
    """Plan every registry query; none may contain CartesianProduct
    (broadcast nested-loop for the intentional non-equi joins is fine —
    it's bounded by the broadcast side)."""
    from hbasewd_spark.queries import REGISTRY

    skip = {"stream_windowed_agg"}  # executes a stream; no static plan to audit
    offenders = {}
    for name, spec in REGISTRY.items():
        if name in skip:
            continue
        df = spec.fn(spark, sf_dir)
        plan = _plan(df)
        if "CartesianProduct" in plan:
            offenders[name] = plan[:500]
    assert not offenders, f"cartesian products in: {sorted(offenders)}"


def test_q1_pushdown_and_partial_agg(spark, sf_dir):
    from hbasewd_spark.operators.relational import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, sf_dir))
    assert "partial_sum" in plan  # map-side combine
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: untouched columns never leave the scan
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_q5_broadcasts_bounded_dims_shuffles_facts(spark, sf_dir):
    """nation/region (catalog-sized) must come out broadcast; orders/
    customer (SF-sized) must be ShuffledHashJoin at EVERY scale — the
    all-broadcast shape measured 4.6x slower at sf10 and is a driver
    OOM at 100 TB, and auto-thresholding is unsafe because Catalyst
    estimates from COMPRESSED parquet size. No sort-merge anywhere."""
    from hbasewd_spark.operators.relational import join_multiway_region_revenue

    plan = _plan(join_multiway_region_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("ShuffledHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_salted_scan_prunes_and_sorts(spark, sf_dir, kv, tmp_path):
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.salted_table import SaltedTable
    from hbasewd_spark.sources.kv_fixture import KEY_PREFIX

    t = SaltedTable.write(kv, str(tmp_path / "kv"), HashDistributor(8), "key_long")
    plan = _plan(t.scan(start=KEY_PREFIX + 100, stop=KEY_PREFIX + 900))
    assert "PushedFilters: [IsNotNull(key_long), GreaterThanOrEqual(key_long" in plan
    assert "Sort [key_long" in plan
    pg_plan = _plan(t.point_get(KEY_PREFIX + 500))
    assert "PartitionFilters: [isnotnull(salt" in pg_plan  # pruned to one bucket
    assert "(salt" in pg_plan and "= " in pg_plan.split("PartitionFilters")[1][:80]


def test_topk_no_global_sort(spark, sf_dir):
    """Windowed top-k must not globally sort: the only Sort is within
    window partitions (no rangepartitioning exchange)."""
    from hbasewd_spark.operators.relational import topk_per_group

    plan = _plan(topk_per_group(spark, sf_dir))
    assert "rangepartitioning" not in plan


def test_salted_write_single_shuffle(spark, sf_dir, kv, tmp_path):
    """The write plan contains exactly one shuffle (the salt
    repartition) — no hidden second exchange."""
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.salted_table import SALT_COL, salted

    sdf = (
        salted(kv, HashDistributor(8), "key_long")
        .repartition(8, F.col(SALT_COL))
        .sortWithinPartitions(SALT_COL, "key_long")
    )
    plan = _plan(sdf)
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(salt" in plan


def test_asof_join_has_no_join_operator(spark, sf_dir):
    """The union-trick as-of join must plan as window + union — never a
    physical join (a range join here would explode per-key candidates)."""
    from hbasewd_spark.queries import rel_asof_join

    plan = _plan(rel_asof_join(spark, sf_dir))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan, j
    assert "Window" in plan


def test_contamination_broadcasts_eval_grams(spark, sf_dir):
    """The train-side join against the (tiny) eval gram set must be a
    broadcast hash join — at 100 TB the corpus side cannot shuffle."""
    from hbasewd_spark.operators.dedup import contamination_check

    plan = _plan(contamination_check(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_rollup_reaggregates_not_rescans(spark, sf_dir):
    """minute->hour->day must scan the raw table once per branch of the
    final union at most — the coarser levels re-aggregate the minute
    output, visible as nested HashAggregate chains, and the plan keeps
    exactly ONE exchange keyed on the raw grouping (the minute shuffle);
    hour/day exchanges move only pre-aggregated rows."""
    from hbasewd_spark.operators.rollup import time_rollup

    plan = _plan(time_rollup(spark, sf_dir))
    assert plan.count("HashAggregate") >= 6  # partial+final at each level


def test_deterministic_sample_filter_is_pre_shuffle(spark, sf_dir):
    """The hash-bucket filter must run before the aggregation exchange
    (scan-side), so only sampled rows shuffle."""
    from hbasewd_spark.queries import ext_deterministic_sample

    plan = _plan(ext_deterministic_sample(spark, sf_dir))
    exchange_pos = plan.find("Exchange")
    filter_pos = plan.find("Filter")
    assert filter_pos != -1 and exchange_pos != -1
    # executedPlan prints top-down: the Filter should appear AFTER the
    # exchange line in text (= below it in the tree = runs before it)
    assert filter_pos > exchange_pos


def test_new_tpch_shapes_broadcast_dims_and_push_filters(spark, sf_dir):
    """Q7/Q10/Q18/Q19: every dimension side is broadcast (the only
    shuffle joins allowed are fact-fact), and the date/flag filters
    reach the parquet scan."""
    from hbasewd_spark.operators.relational import (
        q7_volume_shipping,
        q10_returned_items,
        q18_large_orders,
        q19_disjunctive_revenue,
    )

    p7 = _plan(q7_volume_shipping(spark, sf_dir))
    # supplier/customer/nation sides broadcast; lineitem⋈orders may shuffle
    assert p7.count("BroadcastHashJoin") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in p7

    p10 = _plan(q10_returned_items(spark, sf_dir))
    assert "BroadcastHashJoin" in p10  # nation (bounded dim)
    # customer grows with the SF: its seam must be a pinned shuffle
    assert "ShuffledHashJoin" in p10
    assert "EqualTo(l_returnflag,R)" in p10  # flag filter at the scan

    p18 = _plan(q18_large_orders(spark, sf_dir))
    assert "BroadcastHashJoin" in p18  # the HAVING sliver is broadcast
    assert "ShuffledHashJoin" in p18  # customer seam pinned

    p19 = _plan(q19_disjunctive_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in p19  # pruned part dim broadcast
    assert "partial_sum" in p19  # map-side combine under the disjunction


def test_q5_q9_q12_shapes(spark, sf_dir):
    """Round-5 TPC-H completions: Q5 broadcasts the supplier⋈nation side
    (the local-supplier constraint rides the broadcast join, no extra
    shuffle); Q9's part filter semi-prunes lineitem via broadcast before
    the orders shuffle; Q12 is a single fact-fact shuffle with partial
    CASE-sum aggregation."""
    from hbasewd_spark.operators.tpch2 import (
        q5_local_supplier_volume,
        q9_product_profit,
        q12_priority_shipping,
    )

    p5 = _plan(q5_local_supplier_volume(spark, sf_dir))
    # region-semi on nation, customer semi, supplier⋈nation — all broadcast
    assert p5.count("BroadcastHashJoin") >= 3
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in p5
    assert "partial_sum" in p5
    # the fact-fact seam is PINNED to a shuffle: a column-pruned
    # lineitem estimate slips under the 64 MB broadcast threshold at
    # sf1 and broadcast-built the whole fact (8x super-linear) before
    assert "ShuffledHashJoin [l_orderkey" in p5

    p9 = _plan(q9_product_profit(spark, sf_dir))
    assert p9.count("BroadcastHashJoin") >= 2  # part + supplier⋈nation
    # the p_name needle reaches the part scan
    assert "StringContains(p_name,red)" in p9 or "p_name" in p9.split("PushedFilters")[1][:200]
    assert "partial_sum" in p9
    assert "ShuffledHashJoin [l_orderkey" in p9  # same pin as Q5

    p12 = _plan(q12_priority_shipping(spark, sf_dir))
    assert "partial_sum" in p12
    # exactly the one fact-fact join — pinned shuffle; no window
    assert "ShuffledHashJoin [l_orderkey" in p12
    assert "Window" not in p12 and "CartesianProduct" not in p12


def test_training_layout_shapes(spark, sf_dir):
    """Round-5 training-layout ops hold their scale promises:
    token_budget_sample's offsets relation joins back via broadcast and
    its rank windows are (lang, bucket)-partitioned (never one partition
    per language); shard_plan is scan + partial agg with no join or
    window; unigram_familiarity's vocabulary join strategy is left to
    Catalyst statistics — at test SFs the vocab fits a broadcast, at
    100 TB the same plan degrades to a shuffle join (the code never
    pins F.broadcast on the vocabulary side)."""
    from hbasewd_spark.operators.training import (
        shard_plan,
        token_budget_sample,
        unigram_familiarity,
    )

    ptb = _plan(token_budget_sample(spark, sf_dir))
    assert "BroadcastHashJoin" in ptb  # offsets relation
    # every Window spec is partitioned (no empty partition clause)
    assert "Window" in ptb and "windowspecdefinition(lang" in ptb

    psh = _plan(shard_plan(spark, sf_dir))
    assert "partial_count" in psh or "partial_sum" in psh
    assert "Join" not in psh and "Window" not in psh

    uf = unigram_familiarity(spark, sf_dir)
    puf = _plan(uf)
    # an equi-join on the token key, strategy chosen by statistics.
    # r12: the corpus pre-reduces to per-(doc, tok) occurrence counts
    # (the freq join moves one row per distinct pair), so the
    # vocabulary aggregate is a partial SUM of those counts; the join
    # side reuses the counts' exchange, so tokenize runs once
    assert "Join" in puf and "partial_sum" in puf
    uf.collect()
    assert uf._jdf.queryExecution().executedPlan().executedPlan().toString().count("Generate") == 1


def test_drift_scrub_codedetect_shapes(spark, sf_dir):
    """centroid_drift's pair join is a bounded nested loop over the
    broadcast |labels|-row centroid relation (the corpus-sized work is
    only the partial-agg dims rollup); passage_scrub resolves first
    occurrences by min-agg and reassembles with array_sort — no Window
    anywhere; code_detect is one scan + partial agg with zero Python
    and zero joins."""
    from hbasewd_spark.operators.curation import passage_scrub
    from hbasewd_spark.operators.similarity import centroid_drift
    from hbasewd_spark.queries import REGISTRY

    pcd = _plan(centroid_drift(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in pcd  # label_a < label_b, tiny
    assert "partial_sum" in pcd  # dims rollup is map-side combinable

    pps = _plan(passage_scrub(spark, sf_dir))
    assert "Window" not in pps
    assert "partial_min" in pps  # first-occurrence via min-agg

    pcd2 = _plan(REGISTRY["ext_code_detect"].fn(spark, sf_dir))
    assert "Join" not in pcd2 and "Window" not in pcd2
    assert "partial_sum" in pcd2
    assert "BatchEvalPython" not in pcd2 and "ArrowEvalPython" not in pcd2


def test_batch3_shapes(spark, sf_dir):
    """Batch-3 ops keep their scale shapes: histogram/lang-confusion/
    dim-stats are single-scan partial aggs with no join, window, or
    Python; cohort joins the slim first-seen relation (partial aggs on
    both sides); BPE pair mining explodes the VOCABULARY relation, not
    the corpus, and takes top-k without a global sort."""
    from hbasewd_spark.queries import REGISTRY

    for name in ["rel_value_histogram", "ext_lang_confusion", "ext_embed_dim_stats"]:
        p = _plan(REGISTRY[name].fn(spark, sf_dir))
        assert "Join" not in p and "Window" not in p, name
        assert "partial_count" in p or "partial_sum" in p, name
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name

    pc = _plan(REGISTRY["rel_cohort_retention"].fn(spark, sf_dir))
    assert "Join" in pc and "partial_min" in pc

    pb = _plan(REGISTRY["ext_bpe_merge_candidates"].fn(spark, sf_dir))
    assert "partial_count" in pb  # vocab count is map-side combinable
    # top-k is the grouped partial top-k, never a single-partition sort
    assert "Window" not in pb


def test_chunking_no_shuffle_packing_single_window_shuffle(spark, sf_dir):
    """Chunking is a pure per-row generator (no Exchange at all once the
    input has enough splits); packing shuffles exactly once for its
    per-shard window."""
    from hbasewd_spark.operators.chunking import chunk_documents, pack_sequences

    p = _plan(chunk_documents(spark, sf_dir))
    assert p.count("Generate") == 1
    # the only allowed exchange is ensure_min_parallelism's input
    # round-robin (absent at scale); no hash/range exchange may appear
    assert "hashpartitioning" not in p and "rangepartitioning" not in p

    p2 = _plan(pack_sequences(spark, sf_dir))
    assert p2.count("hashpartitioning") == 1  # the shard window, nothing else
    assert p2.count("Window") == 1


def test_hybrid_rerank_broadcasts_anchor_and_max(spark, sf_dir):
    """The rerank stage joins |candidates| rows; the anchor vector and
    1-row max-score relations must broadcast (constant-size at any
    corpus scale), never shuffle the embedding corpus."""
    from hbasewd_spark.operators.ranking import hybrid_retrieval

    plan = _plan(hybrid_retrieval(spark, sf_dir))
    # two broadcast nested-loop joins (1-row anchor + 1-row max) and
    # no shuffle keyed on the embeddings corpus
    assert plan.count("BroadcastNestedLoopJoin") >= 2
    assert "CartesianProduct" not in plan


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window plan lines with an empty partition spec.

    A Window node prints ``Window [exprs], [partSpec], [orderSpec]``
    with empty specs omitted. Two bracket groups is therefore
    ambiguous: part-only (unordered) or order-only (unpartitioned).
    Order specs always carry ASC/DESC sort-direction markers, so a
    2-group node whose trailing group has a direction marker is the
    unpartitioned single-partition case we forbid.
    """
    hits = []
    for line in plan.splitlines():
        idx = line.find("Window [")
        if idx < 0:
            continue
        depth, groups, buf = 0, [], []
        for ch in line[idx + len("Window ") :]:
            if ch == "[":
                if depth == 0:
                    buf = []
                depth += 1
                if depth == 1:
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(buf))
                    continue
            if depth >= 1:
                buf.append(ch)
        unpartitioned = len(groups) == 2 and (
            " ASC" in groups[-1] or " DESC" in groups[-1]
        )
        if unpartitioned or len(groups) < 2:
            hits.append(line.strip())
    return hits


# Documented parity fixtures that inherently need a whole-input global
# window (the reference's single-writer round-robin counter — a
# sequential assignment by definition). o9's rn stamp left this list
# in round 5: global_rank stamps it with partition-offset arithmetic.
_GLOBAL_WINDOW_FIXTURES = {
    "o1_roundrobin_salt_balance",
    "o3_desalt_roundtrip",
    "o4_point_get_roundrobin_fanout",
}


def test_no_unbounded_global_window_anywhere(spark, sf_dir):
    """No registry query may plan a WindowExec with an empty partition
    spec ("No Partition Defined ... single partition") outside the
    explicitly documented parity fixtures. Ranked top-k queries go
    through operators/topk.py (TakeOrderedAndProject + id stamp)
    instead."""
    from hbasewd_spark.queries import REGISTRY

    skip = {"stream_windowed_agg"} | _GLOBAL_WINDOW_FIXTURES
    offenders = {}
    for name, spec in REGISTRY.items():
        if name in skip:
            continue
        wins = _unpartitioned_windows(_plan(spec.fn(spark, sf_dir)))
        if wins:
            offenders[name] = wins[0][:200]
    assert not offenders, f"unpartitioned windows in: {offenders}"


def test_q21_collapses_correlated_scans(spark, sf_dir):
    """The textbook Q21 scans lineitem three times (base + EXISTS +
    NOT EXISTS); the two-level-aggregate reformulation scans it
    exactly ONCE, pays one pinned fact-fact shuffle join, no expand-
    based distinct aggregation, and finishes with a heap top-k, never
    a global window."""
    from hbasewd_spark.operators.tpch2 import q21_waiting_suppliers

    plan = _plan(q21_waiting_suppliers(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert "ShuffledHashJoin" in plan  # the pinned fact-fact seam
    assert "Expand" not in plan  # no multi-count_distinct expansion
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # nation-filtered supplier dim


def test_q17_threshold_is_window_not_self_join(spark, sf_dir):
    """Q17's per-part average must ride a window over the join key —
    exactly one broadcast semi join (the part filter) and no
    shuffle join anywhere (a join-back would re-shuffle)."""
    from hbasewd_spark.operators.tpch2 import q17_small_qty_revenue

    plan = _plan(q17_small_qty_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("lineitem.parquet") == 1


def test_passage_dedup_min_agg_not_window(spark, sf_dir):
    """First-occurrence resolution must be the skew-immune map-side
    min aggregate, not a per-fingerprint window sort; segmentation
    must be an inline generator."""
    from hbasewd_spark.operators.curation import passage_dedup

    plan = _plan(passage_dedup(spark, sf_dir))
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine per fingerprint
    # r12: segmentation runs ONCE in the checkpoint job (it used to
    # run twice — once per segs reference); the query plan reads the
    # checkpointed slim relation instead of re-generating.
    assert "ExistingRDD" in plan


def test_semdedup_assignment_broadcasts_centroids(spark, sf_dir):
    """Cluster assignment must broadcast the centroid set (corpus
    never shuffles for assignment); the only shuffles are the pair
    join on the cell id and the rollups."""
    from hbasewd_spark.operators.similarity import semdedup_summary

    plan = _plan(semdedup_summary(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # argmin cross vs broadcast cents
    assert "CartesianProduct" not in plan


def test_incremental_mv_merge_is_partial_aggregated(spark, sf_dir):
    """Both the flag-partitioned partials and the merge must be
    map-side combinable (partial_sum present), and orders is scanned
    exactly ONCE (r12: the base/delta split is a grouping bit, not two
    complementary-filtered scans) with the NULL-date guard pushed
    down."""
    from hbasewd_spark.operators.rollup import incremental_mv_merge

    plan = _plan(incremental_mv_merge(spark, sf_dir))
    assert "partial_sum" in plan
    assert plan.count("orders.parquet") == 1
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan


def test_embed_outliers_broadcasts_centroids_and_slims_window(spark, sf_dir):
    """The centroid join must be broadcast (|labels| x DIM rows — the
    corpus never shuffles to meet it) and the top-k window input must
    be the slim (label, vec_id, dist2) projection, not the vectors."""
    from hbasewd_spark.operators.similarity import embed_outliers

    plan = _plan(embed_outliers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan  # centroid integer sums map-side combine
    # the window sorts rows that no longer carry the embedding array
    window_part = plan[plan.index("Window") :]
    assert "embedding" not in window_part.split("Exchange")[0]


def test_temperature_mixture_single_corpus_agg_and_broadcast_rates(spark, sf_dir):
    """Rates are a |langs|-row broadcast back onto the scan; the only
    corpus-wide shuffles are the two per-lang counts (plan + realized
    draw) — no window, no join shuffle of document rows."""
    from hbasewd_spark.operators.curation import temperature_mixture

    plan = _plan(temperature_mixture(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan  # per-lang counts map-side combine
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_driver_window_has_no_wasted_slots():
    """The driver checks the FIRST 50 registry entries. Guard the
    mechanism itself: the ordering is total over the registry, has no
    duplicates, and the first 50 all carry a value-hash oracle (a
    rows-only query in the window wastes a gate slot — round-3
    lesson)."""
    from hbasewd_spark.queries import REGISTRY, oracle_sql, queries

    names = list(queries())
    assert sorted(names) == sorted(REGISTRY)  # total, no drops
    assert len(names) == len(set(names))

    oracles = oracle_sql()
    window = names[:50]
    no_oracle = [n for n in window if n not in oracles]
    assert not no_oracle, f"rows-only queries inside the 50-slot window: {no_oracle}"


def test_driver_window_is_exactly_the_stalest_50():
    """Round-5 policy (VERDICT r4 item 1), round-7 mechanism
    (VERDICT r6 item 1): the 50-slot window is DERIVED from
    attestation history computed AT RUNTIME from the committed
    CORRECTNESS_r*.json files — there is no generated snapshot to go
    stale, so the driver writing the current round's file after the
    final commit can never redden HEAD. Assert the window is exactly
    the 50 oldest-attested oracle-backed queries — every
    never-attested query leads, nothing attested in the latest round
    sits inside the window while a staler query waits outside."""
    from hbasewd_spark.attestation import LAST_ATTESTED
    from hbasewd_spark.queries import REGISTRY, queries

    names = list(queries())
    window, behind = names[:50], names[50:]
    max_in_window = max(LAST_ATTESTED.get(n, 0) for n in window)
    min_behind = min(LAST_ATTESTED.get(n, 0) for n in behind)
    # staleness is monotone across the boundary (rows-only queries may
    # sort behind within their cohort — they can't waste a hash slot)
    oracle_behind = [n for n in behind if REGISTRY[n].oracle]
    if oracle_behind:
        min_oracle_behind = min(LAST_ATTESTED.get(n, 0) for n in oracle_behind)
        assert max_in_window <= min_oracle_behind, (
            f"window holds a query attested r{max_in_window} while an "
            f"oracle-backed query attested r{min_oracle_behind} waits behind"
        )
    assert min_behind >= 0  # totality


def test_newer_correctness_file_cannot_redden_the_suite(tmp_path):
    """The exact race from the r5/r6 verdicts, as a fixture: the
    driver writes CORRECTNESS_r{N}.json AFTER the round's final
    commit. With the runtime loader, a repo root holding a synthetic
    NEWER file (r99) must load cleanly and simply dominate the
    rotation — never fail a staleness guard (there is none left)."""
    import json
    import shutil

    from hbasewd_spark import attestation

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for f in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        shutil.copy(f, tmp_path / os.path.basename(f))
    base, _ = attestation.compute_last_attested(str(tmp_path))
    assert base, "expected committed CORRECTNESS files in the repo root"

    some = sorted(base)[:3]
    synthetic = {
        n: {"rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 1, "oracle_rows": 1, "err": None}
        for n in some
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(synthetic))
    # and a half-written file the driver could leave mid-crash:
    (tmp_path / "CORRECTNESS_r98.json").write_text('{"truncated": ')

    last, files = attestation.compute_last_attested(str(tmp_path))
    assert "CORRECTNESS_r99.json" in files
    assert "CORRECTNESS_r98.json" not in files  # malformed -> skipped, not fatal
    for n in some:
        assert last[n] == 99
    for n in base:
        if n not in some:
            assert last[n] == base[n]
    assert attestation.latest_round(str(tmp_path)) == 99


def test_every_registry_query_attested_within_one_round():
    """Registry staleness policy (VERDICT r6 item 5): every registry
    query must have a row no older than one round behind the latest
    driver round, in the union of driver CORRECTNESS files and the
    committed SELFCHECK_r*.json full sweeps. Growing the registry
    without refreshing the sweep fails here — the full-surface
    attestation must keep up with the surface."""
    import json

    from hbasewd_spark.attestation import attested, latest_round
    from hbasewd_spark.queries import REGISTRY

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest = latest_round(repo_root)
    assert latest >= 2

    best: dict[str, int] = {}
    pats = ["CORRECTNESS_r*.json", "SELFCHECK_r*.json"]
    for pat in pats:
        for path in glob.glob(os.path.join(repo_root, pat)):
            m = re.search(r"_r(\d+)\.json$", path)
            if not m:
                continue
            rnd = int(m.group(1))
            try:
                rows = json.load(open(path))
            except (OSError, ValueError):
                continue
            no_oracle = {n for n in REGISTRY if not REGISTRY[n].oracle}
            for name, row in rows.items():
                if isinstance(row, dict) and attested(row, name in no_oracle):
                    best[name] = max(best.get(name, 0), rnd)

    stale = {n: best.get(n, 0) for n in REGISTRY if best.get(n, 0) < latest - 1}
    assert not stale, (
        f"queries with no attestation newer than r{latest - 1} "
        f"(latest driver round r{latest}): {stale} — run "
        f"tools/check_oracles.py --json SELFCHECK_r{latest}.json and commit it"
    )


def test_q_rejects_a_duplicate_name():
    """Registering a taken name raises instead of silently replacing
    the earlier entry."""
    from hbasewd_spark.queries import REGISTRY, q

    name, spec = next(iter(REGISTRY.items()))
    with pytest.raises(ValueError, match=name):
        q(name, None)(lambda spark, sf_dir: None)
    assert REGISTRY[name] is spec
