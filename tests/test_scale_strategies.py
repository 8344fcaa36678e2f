"""Scale-posture tests: the physical-plan properties that matter at
100 TB, asserted on small data — broadcast of dims, bucketed joins
skipping the shuffle (the CompositeInputFormat precondition made
durable), and skew salting preserving join semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_2_10_0_src_mapreduce_spark.operators.joins import salted_join
from tests.conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_join_matches_plain_join(spark):
    # power-law key: 90% of left rows share key 0
    left = spark.range(1000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.createDataFrame(
        [(0, "hot"), (11, "cold"), (999, "tail")], ["k", "name"]
    )
    plain = sorted(
        (r.k, r.payload, r.name) for r in left.join(right, ["k"]).collect()
    )
    salted = sorted(
        (r.k, r.payload, r.name)
        for r in salted_join(left, right, ["k"], salt_buckets=8).collect()
    )
    assert salted == plain
    assert len(salted) > 900  # the hot key actually dominated


def test_salted_join_left_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    right = spark.createDataFrame([(1, "x")], ["k", "w"])
    out = {
        (r.k, r.v, r.w)
        for r in salted_join(left, right, ["k"], salt_buckets=4, how="left").collect()
    }
    assert out == {(1, "a", "x"), (2, "b", None)}


def test_aqe_skew_join_fires_on_planted_skew_without_salting(spark):
    """Documents WHEN manual salting is actually needed: with AQE's
    skew-join enabled and thresholds within range, Spark splits a
    skewed shuffle partition at runtime (SortMergeJoin(skew=true)) —
    no salting required. salted_join remains for the regimes AQE
    can't reach: aggregation skew (AQE only splits join partitions),
    broadcast-ineligible dimension joins below AQE's size thresholds,
    and engines/configs with AQE off. Runs in an isolated session so
    the lowered thresholds never leak into other tests."""
    iso = spark.newSession()
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.shuffle.partitions": "8",
    }.items():
        iso.conf.set(k, v)
    # 99% of left rows share key 0 → one shuffle partition dwarfs the rest
    left = iso.range(200_000).select(
        F.when(F.col("id") % 100 < 99, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = iso.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    joined = left.join(right, "k")
    assert len(joined.collect()) == 198_010
    # the AQE-final plan of THIS frame (collect() above finalized it)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, "AQE skew-join should have split the hot key"


def test_salted_join_rejects_right_outer(spark):
    df = spark.range(1)
    with pytest.raises(ValueError):
        salted_join(df, df, ["id"], how="right")


def test_dim_join_broadcasts_small_side(spark):
    """The DistributedCache pattern: dims must arrive as broadcast, the
    fact side must not shuffle before the join."""
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    customer = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    joined = orders.join(customer, orders.o_custkey == customer.c_custkey)
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """write_sorted_bucketed makes CompositeInputFormat's 'pre-sorted,
    identically partitioned' precondition durable: a join between two
    tables bucketed on the key runs with NO Exchange on either side."""
    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import write_sorted_bucketed

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    lineitem = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    write_sorted_bucketed(
        orders, "t_orders_b", "o_orderkey", buckets=8, path=str(tmp_path / "ob")
    )
    write_sorted_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b",
        "o_orderkey",
        buckets=8,
        path=str(tmp_path / "lb"),
    )
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_orders_b").join(spark.table("t_lineitem_b"), "o_orderkey")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def _degenerate_corpus(spark, n_hot: int, n_cold: int, dim: int = 8):
    """n_hot copies of ONE vector (a planted hot LSH bucket / hot IVF
    list) plus n_cold spread-out vectors. Deterministic, no RNG."""
    rows = []
    for i in range(n_hot):
        rows.append((i, [1.0] * dim))
    for j in range(n_cold):
        v = [float((j * (d + 3)) % 7 - 3) or 0.5 for d in range(dim)]
        rows.append((n_hot + j, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_lsh_hot_bucket_membership_capped(spark):
    """The 100×-scale guard: a degenerate bucket (all-same vector) must
    never exceed max_bucket members in ANY (table, bucket) group, so
    the candidate self-join is bounded at max_bucket² per key however
    hot the region gets."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        capped_lsh_buckets,
    )

    emb = _degenerate_corpus(spark, n_hot=300, n_cold=40)
    capped = capped_lsh_buckets(emb, dim=8, max_bucket=50)
    per_bucket = capped.groupBy("table_idx", "bucket").count()
    assert per_bucket.agg(F.max("count")).first()[0] <= 50
    # the guard actually fired: the hot region held 300 members pre-cap
    assert per_bucket.where(F.col("count") == 50).count() > 0


def test_lsh_two_level_cap_matches_one_level_and_spreads_skew(spark):
    """The cap must not itself be a skew funnel: the salted two-level
    cap has to (a) produce EXACTLY the one-level cap's output — the
    global smallest max_bucket by (md5(id), id) are a subset of every
    salt's smallest max_bucket, so level 1 never drops a survivor —
    and (b) actually split the degenerate bucket across salts so no
    level-1 window partition sees the whole membership."""
    from pyspark.sql.window import Window

    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        capped_lsh_buckets,
        lsh_signatures,
        md5_planes,
    )

    n_hot, max_bucket, cap_salts = 3000, 50, 8
    emb = _degenerate_corpus(spark, n_hot=n_hot, n_cold=40)
    two_level = capped_lsh_buckets(
        emb, dim=8, max_bucket=max_bucket, cap_salts=cap_salts
    )

    # reference: the plain one-level cap over the same signatures
    sigs = lsh_signatures(
        emb.select("vec_id", "embedding"),
        vec_col="embedding",
        planes=md5_planes(16, 6, 8),
    )
    w = Window.partitionBy("table_idx", "bucket").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    one_level = (
        sigs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )
    key = lambda df: sorted(  # noqa: E731
        (r.vec_id, r.table_idx, r.bucket) for r in df.collect()
    )
    assert key(two_level) == key(one_level)

    # level-1 partitions are (table, bucket, salt): the hot bucket's
    # n_hot members spread across cap_salts sub-groups, so no single
    # level-1 window partition holds the full membership, and level 2
    # sees at most cap_salts·max_bucket survivors per bucket
    salted = sigs.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(cap_salts)).cast("int")
    )
    max_sub = (
        salted.groupBy("table_idx", "bucket", "_salt")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_sub < n_hot  # genuinely split
    assert max_sub < 3 * n_hot // cap_salts  # and roughly evenly


def test_ivf_hot_list_blocks_bounded(spark):
    """One degenerate IVF list (every vector identical → one home list)
    must shard into blocks none of which exceeds ~2·block_size rows —
    the applyInPandas group is memory-bounded regardless of skew."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        _shard_blocks,
        ivf_assign,
        train_ivf_centroids,
    )

    emb = _degenerate_corpus(spark, n_hot=400, n_cold=0)
    cents = train_ivf_centroids(emb, n_centroids=4)
    assigned = ivf_assign(emb, cents, n_probe=2, keep_vec=True)
    # precondition: the hot list really is unbounded without sharding
    hot = assigned.groupBy("list_id").count().agg(F.max("count")).first()[0]
    assert hot >= 400
    blocks = _shard_blocks(assigned, "vec_id", block_size=64)
    sizes = blocks.groupBy("list_id", "cb", "qb").count()
    max_group = sizes.agg(F.max("count")).first()[0]
    # each side of a block is ≤ ~block_size up to hash variance; 3× is
    # far below the unbounded 800-row group this replaces
    assert max_group <= 3 * 64, f"block group too large: {max_group}"


def test_ivf_sharded_blocks_match_single_block(spark):
    """Sharding is a physical decomposition only: forcing many tiny
    blocks must give bit-identical results to one giant block (every
    (query, neighbor) pair meets in exactly one group)."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import ann_ivf_topk

    emb = _degenerate_corpus(spark, n_hot=5, n_cold=120)
    kw = dict(k=3, n_centroids=4, n_probe=2)
    single = {
        (r.query_id, r.rnk, r.neighbor_id, r.sim)
        for r in ann_ivf_topk(emb, block_size=1_000_000, **kw).collect()
    }
    sharded = {
        (r.query_id, r.rnk, r.neighbor_id, r.sim)
        for r in ann_ivf_topk(emb, block_size=16, **kw).collect()
    }
    assert sharded == single


def test_dedup_stop_shingle_df_cap_bounds_join_keys(spark):
    """A shingle planted in EVERY document (the quadratic join key at
    corpus scale) must be dropped by the df-cap so no surviving index
    key exceeds the cap."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.dedup import (
        _df_capped,
        _hashed_index,
        _shingled,
    )

    docs = spark.range(500).select(
        F.col("id"),
        F.concat(
            F.lit("the common header text "),  # planted stop-shingles
            F.col("id").cast("string"),
            F.lit(" unique tail words here"),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    inv = _hashed_index(_shingled(docs, "text", "id", 3))
    pre = inv.groupBy("h").count().agg(F.max("count")).first()[0]
    assert pre >= 500  # the planted key really is corpus-wide
    capped = _df_capped(inv, 100)
    post = capped.groupBy("h").count().agg(F.max("count")).first()[0]
    assert post <= 100


def test_filter_and_projection_reach_parquet_scan(spark):
    """Predicate pushdown + column pruning must reach the scan: the
    FileScan should list PushedFilters and read ONLY the projected
    columns (a scan reading all 16 lineitem columns for a 2-column
    projection is wrong at any scale)."""
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    q = li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan
    m = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert m and "l_orderkey" in m[0] and "l_extendedprice" not in m[0]


def test_runtime_bloom_filter_prunes_join_probe_side(spark):
    """Runtime row-level filtering: a selective filter on one join side
    should inject a bloom filter into the OTHER side's scan, so probe
    rows that cannot match never reach the shuffle — at 100 TB this is
    the difference between shuffling the fact table and shuffling the
    ~matching slice. The thresholds are sized for clusters, so the test
    lowers them to demonstrate the mechanism; production keeps the
    defaults (fires when the creation side is small and selective)."""
    iso = spark.newSession()
    iso.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    iso.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
    )
    iso.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    # AQE broadcast conversion would remove the shuffle (and the need
    # for the filter); force a shuffle join to exercise the mechanism
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = iso.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    orders = iso.read.parquet(f"{SF_SMALL}/orders.parquet").where(
        F.col("o_totalprice") > 400000
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter" in plan.lower() or "mightcontain" in plan.lower(), plan


def test_range_join_matches_naive_theta_join(spark):
    """The binned decomposition must be invisible: same pairs as the
    naive non-equi predicate, including negative points, intervals
    spanning many bins, overlapping intervals, and both closures."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.joins import range_join

    facts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(
            [-250, -10.5, -10, 0, 0.5, 9.99, 10, 59.9, 60, 123.4, 499, 500, 777]
        )],
        "fid long, p double",
    )
    ivals = spark.createDataFrame(
        [
            (0, -300.0, -5.0),   # negative span, many bins
            (1, -10.0, 10.0),    # straddles zero
            (2, 0.0, 60.0),
            (3, 40.0, 500.0),    # wide, overlaps 2
            (4, 500.0, 500.0),   # degenerate: empty under half-open
            (5, 600.0, 100.0),   # inverted: must not fabricate bins
        ],
        "iid long, lo double, hi double",
    )
    for closed in ("left", "both"):
        got = {
            (r.fid, r.iid)
            for r in range_join(
                facts, ivals, "p", "lo", "hi", bin_width=25.0, closed=closed
            ).collect()
        }
        upper = (
            (F.col("p") <= F.col("hi"))
            if closed == "both"
            else (F.col("p") < F.col("hi"))
        )
        want = {
            (r.fid, r.iid)
            for r in facts.crossJoin(ivals)
            .where((F.col("p") >= F.col("lo")) & upper)
            .collect()
        }
        assert got == want and got


def test_range_join_plans_an_equi_join_not_nested_loop(spark):
    """The whole point at scale: the bin key turns the interval
    predicate into an equi join Catalyst can shuffle-partition and AQE
    can skew-split — no BroadcastNestedLoop / cartesian anywhere."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.joins import range_join

    facts = spark.range(1000).select(
        F.col("id").alias("fid"), (F.col("id") % 97).cast("double").alias("p")
    )
    ivals = spark.range(50).select(
        F.col("id").alias("iid"),
        (F.col("id") * 2.0).alias("lo"),
        (F.col("id") * 2.0 + 5.0).alias("hi"),
    )
    plan = (
        range_join(facts, ivals, "p", "lo", "hi", bin_width=8.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_rolling_metrics_family(spark):
    """lag/mavg/cume/prank over a hand-checkable two-series frame."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.timeseries import (
        rolling_metrics,
    )

    series = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 30), ("a", 3, 20), ("b", 1, 5)],
        "k string, t int, n long",
    )
    rows = {
        (r.k, r.t): r
        for r in rolling_metrics(
            series, part_col="k", order_col="t", value_col="n"
        ).collect()
    }
    a2, a3, b1 = rows[("a", 2)], rows[("a", 3)], rows[("b", 1)]
    assert rows[("a", 1)].lag1 is None and a2.lag1 == 10.0 and a3.lag1 == 30.0
    assert a3.mavg3 == 20.0 and a2.mavg3 == 20.0  # (10+30+20)/3, (10+30)/2
    assert a3.cume == 60.0 and b1.cume == 5.0
    # prank within series by value: a→ 10<20<30 → 0, .5, 1
    assert rows[("a", 1)].prank == 0.0 and a3.prank == 0.5 and a2.prank == 1.0
    assert b1.prank == 0.0  # single-row series


def test_no_registered_query_plans_a_scale_killer(spark):
    """Executable form of the repo's scale audit: across ALL registered
    catalog queries, (a) no row-at-a-time Python UDF ever appears
    (BatchEvalPython — Arrow paths like ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas are the allowed Python surfaces), (b) no
    unqualified CartesianProduct outside the cartesian operator itself,
    and (c) the BroadcastNestedLoopJoin set is exactly the documented
    allowlist (the cartesian slot, the by-design O(n·q) brute-force
    anchor, and the scalar-attach pattern: a broadcast ONE-ROW
    aggregate cross-joined onto a frame). A new query acquiring one of
    these nodes must consciously extend the allowlist."""
    from hadoop_2_10_0_src_mapreduce_spark.plans.registry import all_queries

    sf_dir = "/root/testdata/sf0.001"
    # scalar-attach BNLJ (one-row broadcast side) riders; join_cross is
    # the cartesian operator itself; brute-force is the documented
    # O(n·q) correctness anchor
    bnlj_allowed = {
        "join_cross",
        "sim_topk_bruteforce",
        "sort_validate",
        "teragen_checksum",
        "word_stats",
        "text_fingerprint_rollup",
        "text_token_quality",
    }
    cartesian_allowed = {"join_cross"}
    bnlj_seen, offenders = set(), []
    for name, fn in sorted(all_queries().items()):
        plan = fn(spark, sf_dir)._jdf.queryExecution().sparkPlan().toString()
        if "BatchEvalPython" in plan:
            offenders.append(f"{name}: row-wise Python UDF (BatchEvalPython)")
        if "CartesianProduct" in plan and name not in cartesian_allowed:
            offenders.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan:
            bnlj_seen.add(name)
    assert not offenders, offenders
    assert bnlj_seen <= bnlj_allowed, (
        f"unexpected BroadcastNestedLoopJoin in {sorted(bnlj_seen - bnlj_allowed)}"
    )


def test_filter_novel_fps_never_shuffles_the_index(spark, tmp_path):
    """The incremental-dedup membership test must not re-shuffle the
    corpus-wide fingerprint index every micro-batch: the
    filter_novel_fps plan semi-joins the index against a BROADCAST of
    the batch fps and anti-joins the batch against the broadcast hits,
    so the only exchanges anywhere in the plan are BroadcastExchange —
    zero shuffle, zero sort of the index — while the output equals the
    naive anti-join exactly."""
    from hadoop_2_10_0_src_mapreduce_spark.operators import dedup

    idx_path = str(tmp_path / "fp_index")
    spark.range(0, 5000).selectExpr("md5(cast(id AS string)) AS fp").write.parquet(idx_path)
    index = spark.read.parquet(idx_path).select("fp")
    batch = spark.range(4990, 5010).selectExpr(
        "md5(cast(id AS string)) AS fp", "id AS doc_id"
    )

    out = dedup.filter_novel_fps(batch, index)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    for shuffle_marker in ("Exchange hashpartitioning",
                           "Exchange rangepartitioning",
                           "Exchange SinglePartition"):
        assert shuffle_marker not in plan, f"index path shuffles:\n{plan}"
    assert "Sort" not in plan.replace("SortMergeJoin", ""), plan

    naive = batch.join(index, "fp", "left_anti")
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in naive.collect()
    ) == list(range(5000, 5010))


def test_planted_skew_guards_bound_partitions(spark):
    """The skew posture as a measured fact (tools/skew_stress.py at
    10× bench sf records the full numbers in SURVEY §8; this is the
    same harness CI-sized): on a corpus with a 30%-hot join key and a
    degenerate LSH bucket, the guarded shuffle shapes keep every
    partition ≤ ~2× the mean row count while the naive shapes
    concentrate the hot key, and the bucket cap leaves no over-full
    bucket."""
    import tools.skew_stress as S

    join = S.run_join_stress(spark, 200_000)
    assert join["naive_ratio"] > 5, join
    assert join["salted_ratio"] <= 2.5, join
    assert join["join_rows"] == 200_000

    lsh = S.run_lsh_stress(spark, 20_000, max_bucket=256)
    assert lsh["naive_ratio"] > 3, lsh
    assert lsh["salted_ratio"] <= 2.0, lsh
    assert lsh["overfull_buckets_after_cap"] == 0

    cg = S.run_cogroup_stress(spark, 200_000)
    assert cg["bucketed_ratio"] <= 2.5, cg


def test_no_library_composition_plans_a_scale_killer(spark, tmp_path):
    """The same scale audit for the library entry points that do NOT
    ride a registered query: line-boilerplate removal, the
    contamination report, the span cutter, and the ANN maintenance
    append paths must never plan a row-wise Python UDF, a cartesian,
    or a nested-loop join."""
    from hadoop_2_10_0_src_mapreduce_spark.operators import ann_store, dedup, similarity

    docs = spark.createDataFrame(
        [(i, f"line one of {i}\nshared cookie banner text\nbody {i}")
         for i in range(6)],
        ["doc_id", "text"],
    )
    ev = docs.where(F.col("doc_id") == 0)
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    path = str(tmp_path / "ivf_m")
    similarity.save_ivf_index(emb.where(F.col("vec_id") % 2 == 0), path, n_centroids=4)

    from hadoop_2_10_0_src_mapreduce_spark.operators.joins import interval_join
    from hadoop_2_10_0_src_mapreduce_spark.pipeline import (
        chunk_documents,
        corpus_report,
        split_corpus_by_components,
    )

    iv_l = spark.range(20).select(
        F.col("id").alias("lid"),
        F.col("id").cast("double").alias("llo"),
        (F.col("id") + 3.0).alias("lhi"),
    )
    iv_r = spark.range(20).select(
        F.col("id").alias("rid"),
        (F.col("id") * 1.5).alias("rlo"),
        (F.col("id") * 1.5 + 2.0).alias("rhi"),
    )
    pairs_df = spark.createDataFrame([(0, 1), (2, 3)], ["id_a", "id_b"])
    plans = {
        "boilerplate": dedup.drop_boilerplate_lines(docs, "text", "doc_id"),
        "contamination_report": dedup.contamination_report(
            docs, ev, "text", "doc_id", n=3
        ),
        "cut_spans": dedup.cut_repeated_spans(docs, "text", "doc_id", k=3),
        "ivf_append_filing": similarity.ivf_assign(
            emb.select("vec_id", "embedding"),
            ann_store.read_meta(spark, path)["centroids"],
            n_probe=1, keep_vec=True,
        ),
        "chunking": chunk_documents(docs, max_tokens=4, overlap=1),
        "corpus_report": corpus_report(docs),
        "component_split": split_corpus_by_components(
            docs, pairs_df, {"train": 0.9, "val": 0.1}
        ),
        "interval_join": interval_join(
            iv_l, iv_r, "llo", "lhi", "rlo", "rhi", bin_width=2.0
        ),
    }
    offenders = []
    for name, df in plans.items():
        plan = df._jdf.queryExecution().sparkPlan().toString()
        for marker in ("BatchEvalPython", "CartesianProduct",
                       "BroadcastNestedLoopJoin"):
            if marker in plan:
                offenders.append(f"{name}: {marker}")
    assert not offenders, offenders


def test_lint_plan_flags_killers_and_passes_clean_plans(spark, tmp_path):
    """The user-facing linter applies the same judgment as the
    registered-query invariant: row-wise Python UDFs and cartesians are
    FATAL, nested loops WARN, a filter that never reached the scan
    WARNs, and an engine-shaped plan comes back clean."""
    from pyspark.sql.functions import udf

    from hadoop_2_10_0_src_mapreduce_spark.plans.lint import lint_plan

    pq = str(tmp_path / "t")
    spark.range(0, 1000).selectExpr("id", "id % 7 AS k").write.parquet(pq)
    t = spark.read.parquet(pq)

    slow = udf(lambda x: x + 1, "long")
    bad = t.select(slow("id").alias("y"))
    assert any(f.startswith("FATAL") and "BatchEvalPython" in f
               for f in lint_plan(bad))

    cart = t.crossJoin(t.selectExpr("id AS id2")).where("id * id2 > 100")
    assert any("CartesianProduct" in f or "BroadcastNestedLoopJoin" in f
               for f in lint_plan(cart))

    # UDF predicate blocks pushdown -> unpushed-filter warning
    pred = udf(lambda x: x > 10, "boolean")
    unpushed = t.where(pred("id"))
    assert any("unpushed-filter" in f or "BatchEvalPython" in f
               for f in lint_plan(unpushed))

    clean = (
        t.where("k = 3")
        .groupBy("k")
        .count()
    )
    assert lint_plan(clean) == []


def test_unguarded_allpairs_lint_rule(spark, monkeypatch):
    """The r9 lint rule encoding the decade-check class: an uncapped
    pair generator over a large input warns; capped or small inputs
    are silent. Threshold behavior checked statically (never executes
    the big frame), warning wiring checked through the real generator
    with a shrunk threshold."""
    import warnings as W

    from hadoop_2_10_0_src_mapreduce_spark.plans import lint
    from hadoop_2_10_0_src_mapreduce_spark.operators import dedup as D

    # static: Catalyst estimates range(10M) at 80 MB — over the 32 MiB
    # bar — without executing anything; a 10-row frame is under it
    big = spark.range(10_000_000)
    f = lint.unguarded_allpairs_finding(big, "minhash_lsh_pairs")
    assert f is not None and "unguarded-all-pairs" in f and "WARN" in f
    assert lint.unguarded_allpairs_finding(spark.range(10), "x") is None
    # a stats-less plan (a Python LocalRelation reports Long.Max) —
    # still warn (the conservative direction), but never print the
    # sentinel as MiB
    nostats = spark.createDataFrame([(1, "x")], ["id", "text"])
    g = lint.unguarded_allpairs_finding(nostats, "minhash_lsh_pairs")
    assert g is not None and "unknown (no statistics)" in g and "MiB" not in g

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta") for i in range(6)],
        ["doc_id", "text"],
    )
    monkeypatch.setattr(lint, "ALLPAIRS_GUARD_BYTES", 1)
    with pytest.warns(UserWarning, match="unguarded-all-pairs"):
        D.minhash_lsh_pairs(docs, "text", "doc_id")
    with pytest.warns(UserWarning, match="unguarded-all-pairs"):
        D.simhash_pairs(docs, "text", "doc_id")
    with W.catch_warnings():
        W.simplefilter("error")  # any warning would fail the test
        D.minhash_lsh_pairs(docs, "text", "doc_id", max_bucket=64)
        D.simhash_pairs(docs, "text", "doc_id", max_bucket=64)


def test_interval_join_matches_naive_theta_and_plans_equi(spark):
    """The two-sided bin decomposition with one-bin pair claiming must
    be invisible (same pairs as the naive overlap predicate, both
    closures, with wide/degenerate/negative intervals and pairs that
    share MANY bins) and must plan an equi join, not a nested loop."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.joins import interval_join

    left = spark.createDataFrame(
        [
            (0, -300.0, -5.0),
            (1, -10.0, 10.0),
            (2, 0.0, 60.0),
            (3, 40.0, 500.0),   # shares ~18 bins with rid=3 below
            (4, 77.0, 77.0),    # empty under half-open, a point when closed
            (5, 600.0, 100.0),  # inverted
        ],
        "lid long, llo double, lhi double",
    )
    right = spark.createDataFrame(
        [
            (0, -6.0, -5.5),
            (1, 9.0, 41.0),
            (2, 60.0, 60.0),
            (3, 0.0, 499.0),
            (4, 501.0, 700.0),
        ],
        "rid long, rlo double, rhi double",
    )
    for closed in ("left", "both"):
        got = sorted(
            (r.lid, r.rid)
            for r in interval_join(
                left, right, "llo", "lhi", "rlo", "rhi",
                bin_width=25.0, closed=closed,
            ).collect()
        )
        # the naive predicate alone "matches" EMPTY intervals (e.g.
        # [60,60) against anything containing 60); true overlap
        # semantics require both intervals non-empty, which the
        # operator enforces by dropping degenerates pre-explode
        if closed == "both":
            pred = (
                (F.col("llo") <= F.col("rhi")) & (F.col("rlo") <= F.col("lhi"))
                & (F.col("llo") <= F.col("lhi")) & (F.col("rlo") <= F.col("rhi"))
            )
        else:
            pred = (
                (F.col("llo") < F.col("rhi")) & (F.col("rlo") < F.col("lhi"))
                & (F.col("llo") < F.col("lhi")) & (F.col("rlo") < F.col("rhi"))
            )
        want = sorted(
            (r.lid, r.rid)
            for r in left.crossJoin(right).where(pred).collect()
        )
        assert got == want and got
        # duplicate-free by construction (one-bin claim), without distinct
        assert len(got) == len(set(got))

    plan = (
        interval_join(
            left, right, "llo", "lhi", "rlo", "rhi", bin_width=25.0
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="disjoint"):
        interval_join(left, left, "llo", "lhi", "llo", "lhi", bin_width=1.0)
    with _pytest.raises(ValueError, match="bin_width"):
        interval_join(left, right, "llo", "lhi", "rlo", "rhi", bin_width=0)


def test_interval_join_and_funnel_under_planted_skew(spark):
    """The r5 verdict asked for the hot paths under adversarial
    distributions, not just the gate fixtures' mild ones.

    interval_join with SKEWED interval lengths — 50k tiny intervals
    piled into one dominant bin plus wide stragglers: the closed-form
    expected pair count holds (one-bin claiming loses nothing when a
    bin is hot), the join remains a plain equi join (so AQE skew-join
    can split the hot bin at runtime), and partition_size_stats on the
    bin key FLAGS the pile-up — the documented diagnostic for
    re-picking bin_width.

    funnel at 10x the gate population with a whale user holding ~87%
    of all events: round 0 is a groupBy-min, which partial-aggregates
    map-side (asserted structurally: the plan carries partial_min
    before the exchange), so the frames the K-1 join rounds ride are
    USERS — one row per user, whale indistinguishable — and the depth
    distribution is exact."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.joins import interval_join
    from hadoop_2_10_0_src_mapreduce_spark.operators.sortpart import (
        partition_size_stats,
    )
    from hadoop_2_10_0_src_mapreduce_spark.operators.timeseries import funnel

    # --- interval_join: one dominant bin -------------------------------
    tiny = spark.range(50_000).select(
        F.col("id").alias("lid"),
        (F.col("id") % 1000 / 2000.0).alias("llo"),          # all in [0, 0.5)
        (F.col("id") % 1000 / 2000.0 + 0.0001).alias("lhi"),
    )
    wide = spark.range(50_000, 50_002).select(
        F.col("id").alias("lid"),
        F.lit(0.0).alias("llo"),
        F.lit(100.0).alias("lhi"),                            # spans 100 bins
    )
    left = tiny.unionByName(wide)
    right = spark.createDataFrame(
        [(0, 0.0, 1.0), (1, 5.0, 6.0)], "rid long, rlo double, rhi double"
    )
    out = interval_join(
        left, right, "llo", "lhi", "rlo", "rhi", bin_width=1.0
    )
    # every tiny interval overlaps band 0 only; each wide one overlaps both
    assert out.count() == 50_000 + 2 * 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan

    stats = partition_size_stats(
        left.repartition(32, F.floor(F.col("llo") / F.lit(1.0)))
    ).collect()[0]
    assert stats.max_avg_ratio > 10  # the diagnostic flags the hot bin

    # --- funnel: 10x population + whale key ----------------------------
    whale = spark.range(100_000).select(
        F.lit(0).cast("long").alias("user_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.lit("view").alias("event_type"),
    )
    stages = F.array(
        F.struct(F.lit(0).alias("off"), F.lit("view").alias("et")),
        F.struct(F.lit(1).alias("off"), F.lit("click").alias("et")),
        F.struct(F.lit(2).alias("off"), F.lit("purchase").alias("et")),
    )
    crowd = (
        spark.range(1, 15_001)
        .select(
            F.col("id").alias("user_id"),
            F.explode(F.slice(stages, 1, (F.col("id") % 3 + 1).cast("int"))).alias("s"),
        )
        .select(
            "user_id",
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("user_id") * 10 + F.col("s.off")
            ).alias("ts"),
            F.col("s.et").alias("event_type"),
        )
    )
    events = whale.unionByName(crowd)
    fun = funnel(events, ["view", "click", "purchase"])
    plan = fun._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan  # whale combines map-side in round 0
    depth = {
        r.stages_completed: r.n for r in
        fun.groupBy("stages_completed").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # id%3==0 -> view only (depth 1, 5000 users) + the whale;
    # id%3==1 -> view+click (depth 2); id%3==2 -> all three (depth 3)
    assert depth == {1: 5001, 2: 5000, 3: 5000}


def test_interval_join_fails_fast_on_missized_bin_width(spark):
    """One interval much wider than bin_width would silently replicate
    its row across millions of bins (and can overrun Spark's sequence
    limit with an opaque executor error); past max_bins_per_row the
    job must instead fail with the offending span and the knob to
    turn, while the same data under an adequate cap still answers."""
    import pytest as _pytest

    from hadoop_2_10_0_src_mapreduce_spark.operators.joins import interval_join

    left = spark.createDataFrame(
        [(0, 0.0, 5.0), (1, 0.0, 1e5)], "lid long, llo double, lhi double"
    )
    right = spark.createDataFrame(
        [(0, 1.0, 2.0)], "rid long, rlo double, rhi double"
    )
    bad = interval_join(
        left, right, "llo", "lhi", "rlo", "rhi", bin_width=1.0
    )
    with _pytest.raises(Exception, match="max_bins_per_row"):
        bad.collect()
    ok = interval_join(
        left, right, "llo", "lhi", "rlo", "rhi",
        bin_width=1.0, max_bins_per_row=200_000,
    )
    assert sorted((r.lid, r.rid) for r in ok.collect()) == [(0, 0), (1, 0)]


def test_adaptive_geometry_matches_sql_twin_and_pins_fixture_scales():
    """The r6 sf1 scaling gate found the two fixed-geometry queries
    growing quadratically (18x / 15.9x wall for 10x bytes). The fix —
    cell/bucket counts derived from a corpus count — is only
    oracle-checkable if the engine's integer formula and the DuckDB
    scalar-subquery twin agree EXACTLY at every corpus size, including
    threshold boundaries; and bench/gate comparability requires the
    historical fixture corpora to resolve to the historical fixed
    geometry (16 cells, 6 planes)."""
    import duckdb

    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        adaptive_centroids,
        adaptive_centroids_sql,
        adaptive_planes,
        adaptive_planes_sql,
    )

    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
        CELL_CAP,
        CELL_TARGET,
        LSH_MAX_PLANES,
        LSH_MIN_PLANES,
        LSH_TARGET_BUCKET,
    )

    con = duckdb.connect()
    # boundary sweep: around every plane threshold, the cell floor,
    # and the cell cap (the trainer's sample bound)
    ns = [1, 16, 525, 2000, 2100, 2112, 2113, 20000, 21000, 1_000_000,
          CELL_CAP * CELL_TARGET - 1, CELL_CAP * CELL_TARGET,
          CELL_CAP * CELL_TARGET + 1]
    for p in range(LSH_MIN_PLANES, LSH_MAX_PLANES):
        b = (1 << p) * LSH_TARGET_BUCKET
        ns += [b - 1, b, b + 1]
    for n in ns:
        con.execute(f"CREATE OR REPLACE TABLE e AS SELECT * FROM range({n})")
        kc = con.execute("SELECT " + adaptive_centroids_sql("e")).fetchone()[0]
        pc = con.execute("SELECT " + adaptive_planes_sql("e")).fetchone()[0]
        assert kc == adaptive_centroids(n), (n, kc)
        assert pc == adaptive_planes(n), (n, pc)

    # fixture pins: sf0.01 (525-vector planted corpus / 500 vectors)
    # and sf0.1 (2100 / 2000) keep the pre-r6 geometry bit-for-bit;
    # sf1 (21000 / 20000) scales to 160 cells / 10 bits.
    assert adaptive_centroids(525) == 16 and adaptive_centroids(2100) == 16
    assert adaptive_planes(500) == 6 and adaptive_planes(2000) == 6
    assert adaptive_centroids(21000) == 160 and adaptive_planes(20000) == 10
