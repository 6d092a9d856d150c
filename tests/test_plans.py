"""Physical-plan shape assertions: the 100 TB posture, made regression-proof.

Correctness tests prove the numbers; these prove the *plans* — that filters
reach the parquet scan, projections prune the read schema, dimension joins
broadcast, top-k avoids a global sort, the NOT IN deny-list plans as a
null-aware broadcast anti-join, and the banded similarity joins never
degenerate into nested-loop sweeps.  Each assertion is a property that
would silently rot under refactoring while small-SF results stayed green.
"""

from __future__ import annotations

import re

import pytest

from hadoop_sync_spark.queries import load_all

QUERIES = load_all()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _filescan_lines(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "FileScan parquet" in ln]


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    """q02's predicates reach the scan; unused fact columns never leave
    the parquet footer (ReadSchema pruned)."""
    plan = _plan(spark, sf_dir, "q02_filter_predicates")
    assert re.search(r"PushedFilters: \[[^\]]", plan), "no pushed filters"
    scans = _filescan_lines(plan)
    assert scans, "no parquet scan in plan"
    # columns q02 never touches must be pruned from the lineitem scan
    for col in ("l_tax", "l_partkey", "l_suppkey"):
        assert col not in scans[0], f"{col} not pruned from scan"


def test_dimension_joins_broadcast(spark, sf_dir):
    """The six-table star join (q21) broadcasts every dimension: no
    sort-merge exchange, no cartesian product."""
    plan = _plan(spark, sf_dir, "q21_regional_revenue")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_topk_plans_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT (q03) must plan TakeOrderedAndProject — a per-
    partition heap + driver merge — never a global sort of the join."""
    plan = _plan(spark, sf_dir, "q03_top_unshipped_orders")
    assert "TakeOrderedAndProject" in plan


def test_notin_plans_null_aware_broadcast_anti(spark, sf_dir):
    """q83's NOT IN deny-list plans as a broadcast LeftAnti join (the
    trailing `true` on the join line is Spark's isNullAwareAntiJoin flag),
    so the fact side never shuffles for the exclusion."""
    plan = _plan(spark, sf_dir, "q83_notin_supplier_cnt")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan)
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "q62_jaccard_pairs",
        "q67_chargram_jaccard_pairs",
    ],
)
def test_banded_similarity_join_is_hash_joinable(spark, sf_dir, name):
    """The block-bucketed rewrite of the doc-window theta join must keep
    the plan free of nested-loop/cartesian operators — the rewrite exists
    precisely so the candidate join stays O(n) at 100 TB."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_pair_path_is_hash_joinable(spark, sf_dir):
    """q69's underlying sign-LSH banded candidate path (rp_band_pairs, the
    same call the registered contract wraps) must stay free of nested-loop/
    cartesian operators.  Asserted on the pair DataFrame directly because
    the registered q69 row now ends in one-row contract attaches (allow-
    listed broadcast scalars in test_plan_hygiene.py)."""
    from hadoop_sync_spark.functions.vectors import rp_band_pairs
    from hadoop_sync_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = rp_band_pairs(
        emb, threshold=0.35, n_planes=48, band_bits=4, max_bucket=500
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_pair_outputs_have_no_global_sort(spark, sf_dir):
    """The MinHash-LSH pair output (the same DataFrame q63's contract
    wraps) must not end in a global sort of the unbounded pair output
    (Exchange rangepartitioning) — determinism ordering lives in tests,
    not the 100 TB hot path.  Also re-asserts the no-nested-loop shape
    for the LSH bucket expansion."""
    from hadoop_sync_spark.queries.dedup import (
        _doc_shingles,
        lsh_candidate_pairs,
    )

    pairs = lsh_candidate_pairs(_doc_shingles(spark, sf_dir))
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, "global sort in LSH pair output"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_flagship_agg_is_partial_final(spark, sf_dir):
    """q01 aggregates partially before the exchange (map-side combine):
    two HashAggregate levels with one shuffle between them."""
    plan = _plan(spark, sf_dir, "q01_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") <= 2  # one agg exchange (+AQE wrapper slack)


def test_disjunctive_join_broadcasts_dimension(spark, sf_dir):
    """q84's disjunctive predicate must not prevent the part dimension
    from broadcasting (the single-table conjuncts are extracted and pushed
    below the join)."""
    plan = _plan(spark, sf_dir, "q84_disjunctive_join_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """A selective dimension filter feeding a shuffle join must inject a
    runtime bloom filter (`might_contain` on the fact side's join key), so
    at scale most fact rows die at the scan instead of crossing the
    shuffle.  Injection is size-gated: the application side must exceed
    `...applicationSideScanSizeThreshold` (10 GB default) — trivially true
    for a 100 TB fact table, emulated here by zeroing the threshold while
    broadcast and AQE are held off to force the shuffle-join shape."""
    from pyspark.sql import functions as F

    from hadoop_sync_spark.io import load_table

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        )
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "no runtime bloom filter injected"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_fingerprint_digest_is_aggregation_only(spark, sf_dir):
    """q97's table digests must be pure scan→aggregate pipelines: no sort,
    no cartesian/nested-loop join — the shuffle carries only 64 digest
    rows per side regardless of table size (the Merkle level-0 shape)."""
    plan = _plan(spark, sf_dir, "q97_table_fingerprint_diff")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final per side


def test_incremental_dedup_corpus_side_never_shuffles(spark, sf_dir):
    """q99's corpus-side fingerprint scan must be probed by a BROADCAST of
    the batch fingerprints — a SortMergeJoin there would shuffle the whole
    100 TB corpus to admit a small batch."""
    plan = _plan(spark, sf_dir, "q99_incremental_dedup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_eval_per_lang_plans_window_group_limit(spark, sf_dir):
    """q116's rank-then-filter must push the per-group limit below the
    shuffle (WindowGroupLimit): each task ships only its local top-k per
    language, or the exchange carries the whole corpus."""
    from hadoop_sync_spark.queries import load_all

    df = load_all()["q116_eval_per_lang"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Dynamic partition pruning — the runtime face of the reference's
    min/max shard pruning (README.md:44-46): a selective dim-side filter
    must inject a runtime subquery into the partitioned fact scan
    (SubqueryAdaptiveBroadcast dynamicpruning#N), so only matching
    partition directories are read at all.  At 100 TB this is the
    difference between scanning one year and scanning the table; it
    composes with the registry's static file pruning (q81) and the
    runtime bloom filter (test above)."""
    from pyspark.sql import functions as F

    from hadoop_sync_spark.io import load_table

    orders = load_table(spark, sf_dir, "orders")
    fact_dir = str(tmp_path / "po")
    dim_dir = str(tmp_path / "dim")
    orders.withColumn("o_year", F.year("o_orderdate")).write.partitionBy(
        "o_year"
    ).mode("overwrite").parquet(fact_dir)
    (
        orders.select(
            F.year("o_orderdate").alias("o_year"),
            F.col("o_orderpriority").alias("prio"),
        )
        .distinct()
        .write.mode("overwrite")
        .parquet(dim_dir)
    )
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("prio") == "1-URGENT")
    j = fact.join(dim, "o_year").groupBy("prio").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_robust_stats_single_doc_scale_exchange(spark, sf_dir):
    """q130's whole report must ride ONE hash-partitioning on source —
    the stacked-window formulation; the earlier join-based form
    recomputed the corpus per report column (7 exchanges)."""
    from hadoop_sync_spark.queries import load_all

    df = load_all()["q130_robust_source_stats"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_scd2_single_exchange(spark, sf_dir):
    """q119's three window passes and the segment aggregation must share
    one user_id exchange (the docstring's claim, pinned)."""
    from hadoop_sync_spark.queries import load_all

    df = load_all()["q119_scd2_intervals"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_retention_cohorts_two_exchanges(spark, sf_dir):
    """q124: one user-scale exchange (repartition serving the distinct,
    the cohort window, and the partial agg) plus one cell-scale exchange
    for the final (cohort, age) aggregation — nothing else."""
    from hadoop_sync_spark.queries import load_all

    df = load_all()["q124_retention_cohorts"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan[:2000]


@pytest.mark.parametrize(
    "name", ["q145_png_roundtrip_stats", "q146_jpeg_roundtrip_stats"]
)
def test_codec_roundtrip_plans_shuffle_keys_only(spark, sf_dir, name):
    """The codec round trips claim 'keys shuffle, payloads never do':
    exactly ONE exchange (the round-robin key-frame repartition), placed
    BEFORE both Arrow stages, no join, no sort — and the scan reads only
    doc_id (payload columns pruned)."""
    plan = _plan(spark, sf_dir, name)
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "roundrobin" in plan.lower(), plan[:2000]
    assert "Join" not in plan and "Sort" not in plan, plan[:2000]
    # the exchange must feed the python stages, not consume them: every
    # ArrowEvalPython/MapInPandas line sits ABOVE the exchange line in
    # Spark's tree rendering (child printed below parent)
    lines = plan.splitlines()
    exch = next(i for i, ln in enumerate(lines) if "Exchange" in ln)
    py = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    assert py and all(i < exch for i in py), plan[:2000]
    scans = _filescan_lines(plan)
    assert scans and "doc_id" in scans[0] and "text" not in scans[0]


# ----------------------------------------------- round-8 MoR/DV read plans
@pytest.mark.parametrize("k", [1, 8])
def test_iceberg_mor_read_plans_broadcast_anti_joins(spark, sf_dir, k):
    """q148's feeding path: merge-on-read delete application must plan
    as broadcast LEFT ANTI joins (the delete sets are metadata-scale),
    with no sort-merge join and no exchange of the data side beyond the
    scan itself.  The joins do not grow with the delete files: k
    position-delete files take ONE anti-join, and two equality-delete
    files sharing one id set take one more (1 + G, G the number of
    distinct equality-id sets)."""
    from hadoop_sync_spark.queries.lakehouse_q import (
        build_orders_iceberg_fixture,
    )

    table, _snaps = build_orders_iceberg_fixture(spark, sf_dir)
    for i in range(k):
        table.add_position_deletes([("data/f0.parquet", i)],
                                   now_ms=7000 + i)
    for i, custkey in enumerate((1, 2)):
        # field id 2 = o_custkey
        table.add_equality_deletes([{"o_custkey": custkey}], [2],
                                   now_ms=8000 + i)
    plan = (
        table.read(spark)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert len(anti) == 1 + 1, plan
    assert all("Broadcast" in ln for ln in anti), plan
    # the partition-attach join stays broadcast too
    assert "BroadcastHashJoin" in plan


def test_delta_dv_read_plans_broadcast_anti_join(spark, tmp_path):
    """q149's feeding path: DV subtraction is one broadcast LEFT ANTI
    join against (file, row_index) lineage — never a shuffle of the
    data rows."""
    import os

    import pandas as pd

    from hadoop_sync_spark.delta_log import DeltaLog

    d = str(tmp_path / "dvplan")
    os.makedirs(d)
    pd.DataFrame({"k": list(range(10))}).to_parquet(
        os.path.join(d, "a.parquet")
    )
    log = DeltaLog(d)
    log.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1}},
            {
                "metaData": {
                    "id": "t",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": spark.read.parquet(
                        os.path.join(d, "a.parquet")
                    ).schema.json(),
                    "partitionColumns": [],
                    "configuration": {},
                }
            },
            log.add_action_for("a.parquet"),
        ],
    )
    log.add_deletion_vector(1, "a.parquet", [2, 5], storage="i")
    plan = (
        log.read(spark)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan
    assert any(
        "LeftAnti" in ln and "Broadcast" in ln
        for ln in plan.splitlines()
    ), plan


def test_evolved_mixed_era_read_plan_no_shuffle(spark, tmp_path):
    """Spec evolution's mixed-era read (round 11) must stay a single
    scan + one metadata-sized BroadcastExchange (the partition attach)
    with ZERO shuffle exchanges — the era coalesce is an expression,
    never a join or a per-file plan.  Would silently rot into a
    shuffle if the attach ever lost its broadcast hint or the coalesce
    grew a repartition."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_sync_spark.iceberg_meta import DataFile, IcebergTable

    d = str(tmp_path / "evoplan")
    os.makedirs(os.path.join(d, "data"))
    t = IcebergTable.create(
        d, [("k", "bigint"), ("c", "bigint")], now_ms=1000
    )
    p1 = os.path.join(d, "data", "f1.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64()),
                             "c": pa.array([7], pa.int64())}), p1)
    t.append([DataFile("data/f1.parquet", {}, 1,
                       os.path.getsize(p1))], now_ms=2000)
    t.update_spec([("c", "long")], now_ms=3000)
    p2 = os.path.join(d, "data", "f2.parquet")
    pq.write_table(pa.table({"k": pa.array([2], pa.int64())}), p2)
    t.append([DataFile("data/f2.parquet", {"c": 8}, 1,
                       os.path.getsize(p2))], now_ms=4000)
    plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") == 1
    assert not re.search(r"Exchange (hash|range|SinglePartition)", plan)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
