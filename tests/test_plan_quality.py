"""Physical-plan regression tests: the plans we designed for must stay
the plans Catalyst picks (broadcast hash join — never nested loop — on
the spatial join; parquet filter pushdown on cube reads; map-side
partial aggregation; whole-stage codegen on the JVM paths)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smart_geocubes_spark.testing import spark_conf

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spatial_join_is_broadcast_hash(spark):
    from smart_geocubes_spark.queries import q_spatial_join_pip

    plan = plan_of(q_spatial_join_pip(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # r6: the diamond refine is the oracle's closed form in codegen —
    # the ONLY Python node allowed is the geoparse hop; the refine
    # itself must add none (was a second ArrowEvalPython through r5)
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_cube_load_pushes_tile_filter_to_parquet(spark, tmp_path):
    from smart_geocubes_spark.plans.materialize import (
        CubeSpec,
        create_cube,
        load,
        materialize,
    )
    from tests.test_materialize import ROI_A, SMALL_GRID

    path = str(tmp_path / "cube")
    create_cube(path, CubeSpec(grid=SMALL_GRID, channels=("dem",), time_epochs=None))
    materialize(spark, path, ROI_A)
    plan = plan_of(load(spark, path, ROI_A))
    assert "PushedFilters" in plan and "tile_id" in plan.split("PushedFilters", 1)[1][:200]


def test_partial_aggregation_and_codegen(spark):
    from smart_geocubes_spark.queries import q_pricing_summary

    df = q_pricing_summary(spark, SF)
    plan = plan_of(df)
    assert "partial_" in plan  # map-side combine before the exchange
    df.collect()  # finalize AQE so codegen stages are labeled
    final = plan_of(df)
    assert "isFinalPlan=true" in final
    assert "*(" in final  # WholeStageCodegen stage markers


def test_tile_assign_stays_jvm_side(spark):
    """The native tile-assignment path must not contain any Python eval
    between the geoparse UDF and the aggregation (floor math is columnar)."""
    from smart_geocubes_spark.operators.tiles import with_tiles_native
    from smart_geocubes_spark.sources.synth import GRID, pages_df

    pts = pages_df(spark, SF).selectExpr(
        "page_id", "lat_e5 / 100000.0 AS lat", "lon_e5 / 100000.0 AS lon"
    )
    df = with_tiles_native(pts, GRID).groupBy("tile_id").count()
    plan = plan_of(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_range_join_is_hash_not_nlj(spark):
    from smart_geocubes_spark.queries import q_range_join_time

    plan = plan_of(q_range_join_time(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prep_pipeline_single_python_node(spark):
    """The fused prep kernel must appear as exactly one Python eval node."""
    from smart_geocubes_spark.operators.prep import prep_pages
    from smart_geocubes_spark.sources.synth import pages_df

    df = prep_pages(pages_df(spark, SF).select("page_id", "url", "html", "warc_epoch"))
    plan = plan_of(df.groupBy("cell12").count())
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def _tasks_of(spark, df) -> list[int]:
    """Task count of each stage of one noop write of ``df``."""
    sc = spark.sparkContext
    group = f"tasks-of-{id(df)}"
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return [st.getStageInfo(s).numTasks
            for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds]


def _synthetic_pages(spark, n_parts: int):
    return spark.range(0, 10 * n_parts, 1, numPartitions=n_parts).selectExpr(
        "id AS page_id",
        "concat('https://h/geo/', id, ',', -id, '/p') AS url",
        "CAST(concat('<p>page ', id, '</p>') AS BINARY) AS html",
        "id AS warc_epoch",
    )


def test_prep_runs_one_python_task_per_slot(spark):
    """Each Python task pays a fixed cost before its first row: the prep
    hop over 3x the slots in partitions runs exactly one task per slot,
    and a frame with fewer partitions than slots keeps its count."""
    from smart_geocubes_spark.operators.prep import prep_pages

    slots = spark.sparkContext.defaultParallelism
    assert _tasks_of(spark, prep_pages(_synthetic_pages(spark, 3 * slots))) == [slots]
    assert _tasks_of(spark, prep_pages(_synthetic_pages(spark, 2))) == [2]
    assert prep_pages(_synthetic_pages(spark, 3 * slots)).count() == 30 * slots


def test_prep_adds_no_exchange(spark):
    """The narrowing is a coalesce: no html is shuffled."""
    from smart_geocubes_spark.operators.prep import prep_pages
    from smart_geocubes_spark.sources.synth import pages_df

    slots = spark.sparkContext.defaultParallelism
    pages = pages_df(spark, SF, parallelism=3 * slots).select("page_id", "url", "html", "warc_epoch")
    assert plan_of(prep_pages(pages)).count("Exchange") == plan_of(pages).count("Exchange") == 1


def test_asof_is_pure_projection(spark):
    """asof_nearest must be a one-pass projection over the event side:
    no join, no window, no exchange, no row fan-out (the literal-axis
    lookup replaces the crossJoin x |axis| + per-row-key window)."""
    from smart_geocubes_spark.queries import q_asof_time

    plan = plan_of(q_asof_time(spark, SF))
    for bad in ("Join", "CartesianProduct", "Window", "hashpartitioning"):
        assert bad not in plan, f"{bad} in asof plan"
    # the only exchange allowed is the documented round-robin spread of
    # the single-file driver parquet (Iceberg split stand-in) — the
    # lookup itself must add none
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan


def test_cell_encode_single_python_hop(spark):
    """cell_encode must run geoparse + Morton encode in ONE fused Arrow
    hop (round-3 verdict item #2: two chained ArrowEvalPython hops
    measured 6x slower than the fused kernel at 32 cores; the r6
    zero-Python JVM variant measured slower again — the Morton SQL
    macro duplicates the un-materialized parse expression)."""
    from smart_geocubes_spark.queries import q_cell_encode

    plan = plan_of(q_cell_encode(spark, SF))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_cell_rollup_single_python_hop(spark):
    """Parent-of-Morton must be JVM bit math: exactly one ArrowEvalPython
    (the res-12 encode), never a second chained pandas UDF."""
    from smart_geocubes_spark.queries import q_cell_rollup

    plan = plan_of(q_cell_rollup(spark, SF))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_embedding_neardup_has_no_nested_loop(spark):
    """The default near-dup plan is the block-grid GEMM join — broadcast
    hash joins on block ids + one Arrow kernel; the O(n^2)-row
    BroadcastNestedLoopJoin survives only in the all-pairs test oracle."""
    from smart_geocubes_spark.queries import ensure_base_views
    from smart_geocubes_spark.operators.similarity import embedding_neardup_pairs

    ensure_base_views(spark, SF)
    df = embedding_neardup_pairs(spark, spark.table("embeddings"), tau=0.45)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan or "ApplyInPandas" in plan


def test_knn_exact_path_stays_distributed(spark, monkeypatch):
    """No driver round-trip in the kNN operator: knn_join must build and
    collect its result without EVER calling toPandas (the round-1 code
    shipped all provisional top-k rows driver-side and back; only the
    per-qid stats may be collected)."""
    import pandas as pd
    from pyspark.sql import DataFrame

    from smart_geocubes_spark.operators.knn import knn_join

    def boom(self):
        raise AssertionError("driver round-trip (toPandas) inside knn_join")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    pts = spark.range(2000).selectExpr(
        "id AS point_id",
        "CAST(-150 + (id % 100) * 0.01 AS DOUBLE) AS lon",
        "CAST(62 + (id % 80) * 0.01 AS DOUBLE) AS lat",
    )
    q = pd.DataFrame({"qid": [1, 2], "qx": [-149.7, -149.5], "qy": [62.3, 62.5]})
    got = knn_join(spark, pts, q, k=3).collect()
    assert len(got) == 6  # 2 queries x top-3, fully distributed


def _assert_local_leaf(df) -> None:
    """``df`` reads its driver-built rows from a JVM local relation —
    no pickled Python RDD (``LogicalRDD`` / ``Scan ExistingRDD``), whose
    evaluation runs one Python task per task slot."""
    qe = df._jdf.queryExecution()
    logical, physical = qe.optimizedPlan().toString(), qe.executedPlan().toString()
    assert "LocalRelation" in logical, logical
    for leaf in ("LogicalRDD", "ExistingRDD"):
        assert leaf not in logical and leaf not in physical, (leaf, physical)


def _before_checkpoint(spark, monkeypatch, build) -> list:
    """The frames ``build()`` hands to ``localCheckpoint``, unexecuted
    (a checkpointed frame's own leaf is the checkpoint RDD)."""
    seen: list = []
    with monkeypatch.context() as mp:
        mp.setattr(
            type(spark.range(1)), "localCheckpoint",
            lambda self, eager=True: seen.append(self) or self,
        )
        build()
    return seen


def test_driver_built_frames_are_local_relations(spark, tmp_path, monkeypatch):
    """Driver-built frames enter Spark as Arrow tables: the frame that
    feeds the fill's block kernel, the broadcast catalog cells, kNN's
    query disk, an unfilled ROI's load() and an empty cube's lineage
    each have a LocalRelation leaf and no ExistingRDD."""
    import pandas as pd

    from smart_geocubes_spark.operators.knn import knn_join
    from smart_geocubes_spark.operators.spatial_join import explode_catalog_to_cells
    from smart_geocubes_spark.plans.materialize import (
        CubeSpec,
        create_cube,
        load,
        materialize,
        read_lineage,
    )
    from smart_geocubes_spark.sources.synth import catalog_df
    from tests.test_materialize import ROI_A, SMALL_GRID

    spec = CubeSpec(grid=SMALL_GRID, channels=("dem",), time_epochs=None)
    path, filled = str(tmp_path / "cube"), str(tmp_path / "filled")
    create_cube(path, spec)
    create_cube(filled, spec)
    # the frames the fill hands its block kernel (mapInArrow), as built
    fed: list = []
    real = type(spark.range(1)).mapInArrow
    with monkeypatch.context() as mp:
        mp.setattr(
            type(spark.range(1)), "mapInArrow",
            lambda self, *a, **k: fed.append(self) or real(self, *a, **k),
        )
        materialize(spark, filled, ROI_A)
    (plan,) = fed
    _assert_local_leaf(plan)
    _assert_local_leaf(explode_catalog_to_cells(spark, catalog_df(spark)))
    pts = spark.range(200).selectExpr(
        "id AS point_id", "CAST(-150 + id * 0.01 AS DOUBLE) AS lon", "CAST(62 AS DOUBLE) AS lat"
    )
    q = pd.DataFrame({"qid": [1], "qx": [-149.5], "qy": [62.0]})
    (prov,) = _before_checkpoint(spark, monkeypatch, lambda: knn_join(spark, pts, q, k=3))
    _assert_local_leaf(prov)
    _assert_local_leaf(load(spark, path, ROI_A))
    _assert_local_leaf(read_lineage(spark, path))


# a lineage parquet scan: block scans never read a stored chunk_key
_LINEAGE_SCAN = "ReadSchema: struct<chunk_key:"


def _pushed(plan: str, col: str) -> list[str]:
    """The PushedFilters segments of ``plan`` that name ``col``."""
    pushed = [seg[:300] for seg in plan.split("PushedFilters: ")[1:]]
    return [s for s in pushed if col in s.split("]", 1)[0]]


def _lineage_filters(monkeypatch, read):
    """Run ``read()`` with ``_lineage_filter`` wrapped: its result, and
    the pyarrow filters that the driver-side lineage reads it ran hand
    to ``Dataset.to_table`` — the pruning they really pass."""
    import smart_geocubes_spark.plans.materialize as M

    filters, real = [], M._lineage_filter
    with monkeypatch.context() as mp:
        mp.setattr(M, "_lineage_filter", lambda *a, **k: filters.append(real(*a, **k)) or filters[-1])
        out = read()
    return out, filters


def _assert_lineage_filters(filters: list, *cols: str) -> None:
    """Each recorded lineage read keeps the tile_id range guard, which
    is what prunes row groups, and an ``is_in`` on each of ``cols``."""
    assert filters, "no lineage read recorded"
    for f in map(str, filters):
        assert "(tile_id >= " in f and "(tile_id <= " in f, f
        for col in cols:
            assert f"is_in({col}," in f, (col, f)


def _assert_no_visibility_subplan(plan: str) -> None:
    """load()'s visibility is resolved on the driver: the returned plan
    holds no lineage scan, no winner window and no visibility join."""
    assert _LINEAGE_SCAN not in plan, "lineage scan in load() plan"
    assert "Window" not in plan
    assert "Join" not in plan and "BroadcastExchange" not in plan


def test_load_prunes_lineage_before_broadcast(spark, tmp_path, monkeypatch):
    """load()'s visibility read must read only the ROI's lineage rows:
    the driver-side lineage read filters on the ROI's tile_id range and
    set, so what it decodes is bounded by the query, not the cube — and
    the tile_id IN filter is pushed to the block scan, the only scan
    left in load()'s returned plan. A snapshot read of a temporal cube
    also filters its lineage read on its channels, allowed batch ids
    and TOI steps."""
    from smart_geocubes_spark.plans.materialize import (
        CubeSpec,
        create_cube,
        load,
        materialize,
    )
    from tests.test_materialize import ROI_A, SMALL_GRID

    path = str(tmp_path / "cube")
    epochs = (1577836800, 1609459200)
    create_cube(path, CubeSpec(grid=SMALL_GRID, channels=("dem", "slope"), time_epochs=epochs))
    bid = materialize(spark, path, ROI_A)["batch_id"]
    df, filters = _lineage_filters(monkeypatch, lambda: load(spark, path, ROI_A))
    assert len(filters) == 1
    _assert_lineage_filters(filters, "tile_id")
    plan = plan_of(df)
    _assert_no_visibility_subplan(plan)
    assert len(_pushed(plan, "tile_id")) == 1, plan
    _, filters = _lineage_filters(
        monkeypatch,
        lambda: load(spark, path, ROI_A, toi_epochs=[epochs[1]], as_of_batch=bid, channels=["dem"]),
    )
    _assert_lineage_filters(filters, "tile_id", "channel", "batch_id", "time_idx")


def test_ann_ivf_big_side_is_projection(spark):
    """IVF assignment must be the literal-centroid argmax projection —
    the embedding table reaches its list_id without any join or window
    fan-out; only the sample-sized query/centroid sides may nest-loop."""
    from smart_geocubes_spark.queries import ensure_base_views, q_ann_ivf

    ensure_base_views(spark, SF)
    plan = plan_of(q_ann_ivf(spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # tiny q x cent only
    assert "array_max" in plan  # the literal argmax projection


def test_polar_and_antimeridian_single_fused_hop(spark):
    """tile_assign_polar / antimeridian_norm run geoparse + projection/
    normalization in ONE fused Arrow kernel (round-3 verdict item #6;
    previously two chained hops, and x3 before the asNondeterministic
    + own-projection pin). The struct output feeds several expressions
    (extent filter + group key) off a single evaluation."""
    from smart_geocubes_spark.queries import q_antimeridian, q_tile_assign_polar

    for q in (q_tile_assign_polar, q_antimeridian):
        plan = plan_of(q(spark, SF))
        assert plan.count("ArrowEvalPython") == 1, q.__name__
        assert "BatchEvalPython" not in plan


def test_ann_lsh_bucket_single_eval(spark):
    """The hyperplane bucket kernel must run ONCE over the table: the
    bucketed base is localCheckpoint-ed with the UDF pinned
    nondeterministic, so the self-join's two subtrees scan the one
    materialization. Executed plan: ZERO ArrowEvalPython nodes (the one
    evaluation happened at checkpoint time; previously x3 — base,
    query filter, and probes each re-ran the kernel over the table)."""
    from smart_geocubes_spark.queries import ensure_base_views, q_ann_lsh

    ensure_base_views(spark, SF)
    plan = plan_of(q_ann_lsh(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("ExistingRDD") == 2  # both join sides read the checkpoint


def test_repetition_quality_is_pure_projection(spark):
    """Top-bigram frequency must come from the per-doc sorted-array
    run-length fold, not explode x n_bigrams + double groupBy: the
    plan is one projection — no Exchange, no Join, no Python."""
    from smart_geocubes_spark.queries import q_repetition_quality

    plan = plan_of(q_repetition_quality(spark, SF))
    assert "Exchange" not in plan and "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_corpus_funnel_is_join_free(spark):
    """The funnel composes lang/quality/token ops as PROJECTIONS
    (keep=True): no join anywhere — only the dedup groupBy and the
    final rollup shuffle."""
    from smart_geocubes_spark.queries import q_corpus_funnel

    plan = plan_of(q_corpus_funnel(spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # dedup groupBy + final rollup


def test_geoparse_text_single_udf_eval(spark):
    """The frozen extractor must run ONCE per row even though two regex
    columns consume its output (unaliased, Catalyst put two _udf calls
    in the eval node)."""
    from smart_geocubes_spark.queries import q_geoparse_text

    plan = plan_of(q_geoparse_text(spark, SF))
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("_udf(") == 1


def test_aqe_skew_join_splits_hot_partition(spark):
    """North-rule skew evidence: on a Zipfian join key (90% of rows on
    one key) AQE must actually SPLIT the hot partition — the final plan
    carries SortMergeJoin(skew=true) / AQEShuffleRead skewed. Thresholds
    are lowered to make fixture-scale data trip the same machinery that
    100 TB trips with defaults."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with spark_conf(spark, confs):
        left = spark.range(1000000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id % 1000 END AS k",
            "repeat('x', 64) AS pad",
            "id AS v",
        )
        right = spark.range(1000).selectExpr("id AS k", "id * 2 AS w")
        j = left.join(right, "k").selectExpr("sum(v) AS s")
        [row] = j.collect()
        assert row.s is not None
        plan = plan_of(j)
        assert "skew=true" in plan, "AQE did not split the hot partition"


def test_star_join_broadcasts_dimensions(spark):
    """The 5-table star join must broadcast every dimension (region/
    nation/customer) and hash-join the fact chain — the fact table must
    never go through a nested loop or be exchanged once per dimension."""
    from smart_geocubes_spark.queries import q_star_join_revenue

    plan = plan_of(q_star_join_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_merge_asof_by_is_pure_projection(spark):
    """Keyed as-of join must keep the event side a one-pass projection
    (per-key sorted-axis map literal — no join, no window, no hash
    exchange), like the fixed-axis asof."""
    from smart_geocubes_spark.queries import q_merge_asof_by

    plan = plan_of(q_merge_asof_by(spark, SF))
    for bad in ("Join", "Window", "hashpartitioning", "CartesianProduct"):
        assert bad not in plan, f"{bad} in merge_asof plan"


def test_runtime_bloom_filter_prunes_big_side(spark, tmp_path):
    """Scale evidence for selective joins (the lineage/anti-join story
    when neither side broadcasts): Spark's runtime row-level Bloom
    filter must inject a might_contain() predicate on the big side,
    built from the selective side. Thresholds lowered so fixture-scale
    data trips the same machinery 100 TB trips with defaults."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with spark_conf(spark, confs):
        spark.range(2000000).selectExpr("id AS k", "id % 97 AS v").write.parquet(
            str(tmp_path / "big")
        )
        spark.range(500).selectExpr("id * 4000 AS k").write.parquet(str(tmp_path / "small"))
        big = spark.read.parquet(str(tmp_path / "big"))
        small = spark.read.parquet(str(tmp_path / "small")).filter("k % 3 = 0")
        j = big.join(small, "k").groupBy().count()
        [row] = j.collect()
        assert row["count"] > 0
        plan = plan_of(j)
        assert "might_contain" in plan, "runtime Bloom filter not injected"


def test_host_quota_single_shuffle(spark):
    """Quota sampling = ONE shuffle on host_id: both windows and the
    final agg share the partitioning, so Catalyst must not insert a
    second exchange."""
    from smart_geocubes_spark.queries import q_host_quota_sample

    plan = plan_of(q_host_quota_sample(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_prefix_dup_bucketed_window_no_global_sort(spark):
    """Sort-neighbor dedup must partition the window by the key bucket:
    a global-order window (SinglePartition exchange) would funnel the
    corpus through one task at 100 TB."""
    from smart_geocubes_spark.queries import q_prefix_dup

    plan = plan_of(q_prefix_dup(spark, SF))
    assert "SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan  # O(n log n) by sorting, never a self-join


def test_pagerank_rounds_are_hash_joins(spark):
    """Pregel-as-joins: every per-round join must be hash (broadcast at
    fixture scale, shuffled-hash/SMJ at web scale) — a nested loop over
    the edge set would be O(E*V)."""
    from smart_geocubes_spark.queries import q_pagerank_hosts

    plan = plan_of(q_pagerank_hosts(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_topk_is_take_ordered(spark):
    """Top-k must be per-partition heaps (TakeOrderedAndProject), never
    a global sort; the only broadcast-nested-loop is the 1-row stats
    cross join."""
    from smart_geocubes_spark.queries import q_bm25_rank

    plan = plan_of(q_bm25_rank(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan  # scoring is all JVM higher-order fns


def test_patch_overlap_is_equi_join_not_nlj(spark):
    """The pairwise-overlap join must meet on the neighbor-cell EQUI
    key (hash join) — a naive interval-condition self-join plans the
    O(n^2) BroadcastNestedLoopJoin this operator exists to avoid."""
    from smart_geocubes_spark.queries import q_patch_overlap_area

    plan = plan_of(q_patch_overlap_area(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan  # integer min/max math in codegen


def test_url_rules_filter_no_window_no_fanout(spark):
    """Longest-prefix rule pick must be the array_max projection over
    the per-host rule array: one hash join on host_id, ZERO windows
    (a per-url window on a unique key is the anti-pattern) and no
    row fan-out join on the rules."""
    from smart_geocubes_spark.queries import q_url_rules_filter

    plan = plan_of(q_url_rules_filter(spark, SF))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan


def test_token_rarity_single_token_pass(spark):
    """The token frame must be computed ONCE (eager checkpoint) and
    feed both the tf aggregate and the join side as checkpoint scans —
    re-tokenizing the corpus per consumer doubles the dominant cost."""
    from smart_geocubes_spark.queries import q_token_rarity

    plan = plan_of(q_token_rarity(spark, SF))
    assert plan.count("ExistingRDD") == 2  # both subtrees read the checkpoint
    assert "ArrowEvalPython" not in plan  # JVM regexp tokenization


def test_hits_rounds_are_hash_joins(spark):
    """Same Pregel-as-joins contract as pagerank: every half-round
    join is a hash join, never a nested loop over the edge set."""
    from smart_geocubes_spark.queries import q_hits_hosts

    plan = plan_of(q_hits_hosts(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_bfs_rounds_are_hash_joins(spark):
    from smart_geocubes_spark.queries import q_bfs_hops

    plan = plan_of(q_bfs_hops(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_cms_probe_join_is_broadcast(spark):
    """The d*W counter table is KBs by construction — the probe side
    must join it BROADCAST (never shuffle the candidate set against
    it), and the whole sketch stays JVM-side."""
    from smart_geocubes_spark.queries import q_cms_heavy_hitters

    plan = plan_of(q_cms_heavy_hitters(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the one nested loop is the 1-row n_total cross join (same
    # accepted shape as bm25's stats join) — never the counter probe
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "ArrowEvalPython" not in plan  # md5 bucketing is codegen


def test_inverted_index_single_aggregate_no_python(spark):
    """Segmented postings build: explode -> distinct -> ONE combining
    aggregate; no Python nodes, no windows (a per-token window sort
    would be the global-sort anti-pattern the segmenting avoids)."""
    from smart_geocubes_spark.queries import q_inverted_index

    plan = plan_of(q_inverted_index(spark, SF))
    assert "ArrowEvalPython" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_quantiles_one_sort_shuffle(spark):
    """Rank selection needs exactly one hash exchange on event_type
    (the window sort); the rest is a combining aggregate. No Python."""
    from smart_geocubes_spark.queries import q_exact_quantiles

    plan = plan_of(q_exact_quantiles(spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 2  # window + final agg
    assert "Window" in plan
    assert "ArrowEvalPython" not in plan


def test_hist_quantiles_no_per_key_sort_of_rows(spark):
    """The sketch's whole point: the DATA pass is one combining
    aggregate; only the bin table (constant-sized per key) is window-
    sorted. No Python, and exactly one row-data exchange."""
    from smart_geocubes_spark.queries import q_approx_quantiles_hist

    plan = plan_of(q_approx_quantiles_hist(spark, SF))
    assert "ArrowEvalPython" not in plan
    assert "Window" in plan  # over bins, not rows
    assert plan.count("Exchange hashpartitioning") <= 2  # bin agg + window


def test_pmi_unigram_joins_are_broadcast(spark):
    """Pair counts join the vocabulary-sized unigram table twice —
    both must be broadcast hash joins; the only nested loop is the
    1-row n_bg cross join."""
    from smart_geocubes_spark.queries import q_pmi_collocations

    plan = plan_of(q_pmi_collocations(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "ArrowEvalPython" not in plan


def test_focal_mean3_two_python_nodes_no_joins(spark):
    """Halo exchange must be JVM strip projections + ONE grouped
    assembly: exactly one MapInPandas (block gen) and one grouped-map
    node; strips never route through joins or extra Python hops."""
    from smart_geocubes_spark.queries import q_focal_mean3

    plan = plan_of(q_focal_mean3(spark, SF))
    # block generation (MapInPandas) is materialized behind the eager
    # checkpoint: centers and strips both read the SAME ExistingRDD —
    # the one-generation contract
    assert plan.count("ExistingRDD") == 2
    assert plan.count("FlatMapGroupsInPandas") == 1  # the one assembly
    assert "Generate explode" in plan  # strips are a JVM generator
    assert "ArrowEvalPython" not in plan
    assert "Join" not in plan  # strips route by group key, not joins
    assert plan.count("Exchange hashpartitioning") == 1  # the one halo shuffle


def test_label_propagation_rounds_are_hash_joins(spark):
    """Same Pregel-as-joins contract as pagerank/HITS/BFS; the winner
    pick is a packed-min AGGREGATE, never a per-node window sort."""
    from smart_geocubes_spark.queries import q_label_propagation

    plan = plan_of(q_label_propagation(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "ArrowEvalPython" not in plan


def test_triangle_degree_orientation_plan(spark):
    """The degree orientation is two degree equi-joins + a projection
    (audited directly — inside triangle_stats it runs under an eager
    checkpoint, so it never shows in the census plan); the census
    itself stays free of data-sized NLJ/Cartesian in both orientations."""
    from pyspark.sql import functions as F

    from smart_geocubes_spark.operators.graph import (
        _degree_oriented,
        triangle_stats,
    )

    edges = spark.range(200).select(
        (F.col("id") % 17).alias("src"), (F.col("id") % 31).alias("dst")
    )
    und = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).filter("a != b").distinct()
    deg = (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    orient_plan = plan_of(_degree_oriented(und, deg))
    assert orient_plan.count("Join") == 2  # the two degree joins
    assert "CartesianProduct" not in orient_plan
    for o in ("degree", "id"):
        plan = plan_of(triangle_stats(edges, orientation=o))
        assert "CartesianProduct" not in plan
        assert "ArrowEvalPython" not in plan


def test_polygon_zonal_mask_stays_jvm_side(spark):
    """The per-pixel PIP mask must be array-lambda codegen, never a
    Python hop: exactly one MapInPandas (the block generator) and zero
    ArrowEvalPython; no joins — the polygon is inlined literals."""
    from smart_geocubes_spark.queries import q_zonal_polygon_stats

    plan = plan_of(q_zonal_polygon_stats(spark, SF))
    assert plan.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the only join is the broadcast channel-VALUES cross (literal-small)
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_typed_load_prunes_every_dtype_leaf(spark, tmp_path, monkeypatch):
    """A channel-projected read of a typed cube (a) prunes WHOLE dtype
    groups whose channels aren't requested (the boolean leaf never
    enters the plan), and (b) pushes the channel IN filter into every
    surviving leaf scan, which reads its own typed element schema."""
    from smart_geocubes_spark.plans.materialize import (
        CubeSpec,
        create_cube,
        load,
        materialize,
    )
    from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid

    grid = TileGrid(
        geobox=GeoBox(crs="EPSG:4326", x0=0.0, y0=20.0, res=0.01, width=2000, height=2000),
        chunk_px=100,
    )
    path = str(tmp_path / "tcube")
    create_cube(
        path,
        CubeSpec(grid=grid, channels=("dem", "mask"), dtypes=("float32", "bool"),
                 time_epochs=None),
    )
    materialize(spark, path, (2.3, 15.2, 4.8, 17.9))
    df, filters = _lineage_filters(
        monkeypatch, lambda: load(spark, path, (2.3, 15.2, 4.8, 17.9), channels=["dem"])
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # (a) group pruning: dem is float32, so the boolean leaf (and its
    # whole union branch) must be absent
    assert "dt-float" in plan and "array<float>" in plan
    assert "dt-boolean" not in plan and "array<boolean>" not in plan
    assert "Union" not in plan
    # (b) pushdown into the surviving leaf scan, and the channel filter
    # in the driver-side lineage read that resolved its visibility
    assert len(_pushed(plan, "channel")) == 1, plan
    _assert_no_visibility_subplan(plan)
    _assert_lineage_filters(filters, "tile_id", "channel")
    # both-group read keeps the per-leaf typed schemas under one union
    both = load(spark, path, (2.3, 15.2, 4.8, 17.9))
    bplan = both._sc._jvm.PythonSQLUtils.explainString(
        both._jdf.queryExecution(), "formatted"
    )
    assert "array<float>" in bplan and "array<boolean>" in bplan


def test_zone_map_stats_scan_never_reads_blocks(spark, tmp_path):
    """chunk_stats is a metadata read: no leaf scan's ReadSchema may
    contain the block array column. load(value_range=) narrows the
    pushed tile_id IN list to the surviving tiles only."""
    from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid
    from smart_geocubes_spark.plans.materialize import (
        CubeSpec,
        chunk_stats,
        create_cube,
        load,
        materialize,
    )

    grid = TileGrid(
        geobox=GeoBox(crs="EPSG:4326", x0=0.0, y0=20.0, res=0.01, width=2000, height=2000),
        chunk_px=100,
    )
    path = str(tmp_path / "zcube")
    create_cube(path, CubeSpec(grid=grid, channels=("dem",), time_epochs=None))
    roi = (2.3, 15.2, 4.8, 17.9)  # tiles tx 2..4, ty 2..4
    materialize(spark, path, roi)
    sdf = chunk_stats(spark, path, roi)
    splan = sdf._sc._jvm.PythonSQLUtils.explainString(
        sdf._jdf.queryExecution(), "formatted"
    )
    for seg in splan.split("ReadSchema: ")[1:]:
        assert "block:array" not in seg.split("\n", 1)[0]
    assert "v_min" in splan and "n_valid" in splan
    # value range only the ty=4 row can satisfy -> blocks scan pushes
    # In(tile_id, [82,83,84]), not the 9-tile ROI list
    df = load(spark, path, roi, value_range=(8500.0, 9000.0))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "[82,83,84]" in plan
    assert "[42,43,44,62,63,64,82,83,84]" not in plan


def test_band_math_single_shuffle_no_join(spark):
    """Band pairing is ONE hash aggregate on the chunk coordinate, not a
    self-join: no join nodes, no Python eval; the only data exchanges
    are the aggregate's hashpartitioning (plus the documented
    round-robin spread of the single-file driver parquet)."""
    from smart_geocubes_spark.queries import q_band_math

    df = q_band_math(spark, SF)
    # localCheckpoint already ran; pin the OPERATOR plan instead
    from smart_geocubes_spark.operators.algebra import band_math
    from smart_geocubes_spark.plans.materialize import (
        CubeSpec,
        create_cube,
        load,
        materialize,
    )
    from tests.test_materialize import ROI_A, SMALL_GRID

    import tempfile, shutil
    root = tempfile.mkdtemp(prefix="bmplan_")
    try:
        path = root + "/cube"
        create_cube(
            path, CubeSpec(grid=SMALL_GRID, channels=("dem", "slope"), time_epochs=None)
        )
        materialize(spark, path, ROI_A)
        out = band_math(load(spark, path, ROI_A), "dem", "slope", "(x, y) -> x + y")
        plan = plan_of(out)
        for bad in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                    "ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert bad not in plan, f"{bad} in band_math plan"
        # visibility is a literal filter on the block scan (no join, no
        # winner window), so the only shuffle is the pairing aggregate
        assert "Join" not in plan and "Window" not in plan
        assert plan.count("hashpartitioning") <= 1
        assert "zip_with" in plan
        assert df.count() > 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_regrid_cover_join_is_broadcast_one_arrow_hop(spark, tmp_path):
    """The (target tile -> source tile) cover joins the pruned scan as a
    BROADCAST hash join (the pair list is metadata-sized), and the
    whole assembly is exactly one Python node (FlatMapGroupsInPandas) —
    no nested loop, no second shuffle of block data."""
    from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid
    from smart_geocubes_spark.operators.regrid import regrid_nearest
    from smart_geocubes_spark.plans.materialize import (
        CubeSpec,
        create_cube,
        materialize,
    )
    from tests.test_materialize import ROI_A, SMALL_GRID

    path = str(tmp_path / "rgcube")
    create_cube(path, CubeSpec(grid=SMALL_GRID, channels=("dem",), time_epochs=None))
    materialize(spark, path, ROI_A)
    target = TileGrid(
        geobox=GeoBox(crs="EPSG:4326", x0=0.0, y0=20.0, res=0.025,
                      width=800, height=800),
        chunk_px=80,
    )
    plan = plan_of(regrid_nearest(spark, path, target, ROI_A))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
