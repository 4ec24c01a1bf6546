package graft

/** Plan-shape regression guards for invariants PLANS.md audits by hand:
  * each test inspects the INITIAL physical plan of a declared query
  * (driver-side only — nothing executes) so an edit that silently
  * reintroduces a scan-filter hash chain (PLANS.md trap 5), a
  * nested-loop range join, or an extra exchange fails a unit test
  * instead of degrading a bench. Inputs are the sf0.001 parquet tables;
  * plan SHAPE at this size matches the audited sf0.1 shapes for
  * everything asserted here (no AQE decisions are asserted). One case
  * instead counts the Spark jobs a declaration starts once its stores
  * are warm, which catches an eager checkpoint put back into a plan.
  */
class PlanGuardSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("pruned_scan pushes the shipdate bounds into the parquet scan") {
    val p = plan("pruned_scan")
    assert(p.contains("PushedFilters"), "no pushdown section in scan")
    assert(p.contains("l_shipdate"), "shipdate filter missing from plan")
  }

  test("bloom_join keeps hashing out of scan filters and off md5") {
    val p = plan("bloom_join")
    // trap 5: a nullable hash chain under a null-intolerant predicate
    // gets inferred as isnotnull(<chain>) and inlined below the scan
    assert(!p.contains("md5("), "md5 reappeared in the bloom path")
    assert(p.contains("xxhash64"), "bloom positions no longer xxhash64")
  }

  test("interval_join never plans a nested-loop or cartesian join") {
    val p = plan("interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "bucket blocking lost")
    assert(!p.contains("CartesianProduct"), "cartesian range join")
  }

  test("salted_rollup stays an equi-join (no cartesian fallback)") {
    val p = plan("salted_rollup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("order_quantiles plans exactly one key exchange before its windows") {
    val p = plan("order_quantiles")
    val keyExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(keyExchanges === 1,
      s"expected 1 hash exchange (window + aggregate reuse it), got $keyExchanges")
  }

  test("abc_class joins the dim side broadcast") {
    assert(plan("abc_class").contains("BroadcastHashJoin"))
  }

  test("cms_freq broadcasts the counter table to the probe join") {
    assert(plan("cms_freq").contains("BroadcastExchange"))
  }

  test("dup_spans plans no joins — aggregates and a window only") {
    val p = plan("dup_spans")
    assert(!p.contains("Join"), "span counting must not self-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("near_dup_retain joins label frame without cartesian fallback") {
    val p = plan("near_dup_retain")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("star_join broadcasts the dim chain and never goes cartesian") {
    val p = plan("star_join")
    assert(p.contains("BroadcastHashJoin"), "nation/region broadcast lost")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("PushedFilters"), "o_orderdate bounds not pushed to scan")
  }

  test("fuzzy_match plans an equi-join on the blocking key, never all-pairs") {
    val p = plan("fuzzy_match")
    assert(!p.contains("CartesianProduct"), "blocking key lost → all-pairs edit distance")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("asof_tolerance stays a union + one window pass (no range join)") {
    val p = plan("asof_tolerance")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"), "tolerance must not reintroduce a join")
  }

  test("asof_nearest is the union plan with two sorts, never a join") {
    val p = plan("asof_nearest")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"), "nearest must stay join-free")
  }

  test("copurchase_rank unrolls Pregel rounds without cartesian fallback") {
    val p = plan("copurchase_rank")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("merge_upsert is one full-outer key join (no nested loop)") {
    val p = plan("merge_upsert")
    assert(p.contains("FullOuter"), "full-outer merge join lost")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("pricing_summary plans one aggregate pair over the scan") {
    val p = plan("pricing_summary")
    assert(!p.contains("Join"), "Q1 shape must not join")
    assert(p.contains("PushedFilters"), "shipdate bound not pushed")
  }

  test("customer_deciles cuts deciles distributed — no global ntile sort") {
    val p = plan("customer_deciles")
    // r9: the cut goes through Stats.ntileExact — a range exchange plus
    // a row_number window PARTITIONED by the range-partition id. The
    // old plan's single-partition ntile window over the whole customer
    // frame must never come back. r10: the ranged frame is PINNED by an
    // eager localCheckpoint (ADVICE r9 — both fan-out consumers must
    // see one frozen partition assignment), so the range exchange runs
    // in the checkpoint job and the final plan reads the pinned RDD.
    assert(!p.contains("ntile("), "global ntile window reappeared")
    assert(p.contains("ExistingRDD"),
      "expected the scan of the pinned (localCheckpoint'd) ranged frame")
    assert(p.contains("__gr_pid"),
      "expected the row_number window keyed by the range-partition id")
  }

  test("rfm_segments runs its three quintile cuts distributed") {
    val p = plan("rfm_segments")
    assert(!p.contains("ntile("), "global ntile window reappeared")
    assert(p.contains("ExistingRDD"),
      "expected scans of the pinned ranged frames")
    assert(p.contains("__gr_pid"),
      "expected range-partition-keyed row_number windows")
  }

  test("ntileExact's range exchange is pinned — exactly one materialization") {
    // The ADVICE r9 invariant, locked: globalRowNumber's two consumers
    // (per-range row_number; per-range counts) must observe identical
    // range-partition assignments. The implementation pins the ranged
    // frame with an EAGER localCheckpoint, so (a) the checkpointed
    // plan's RDD is shared — the final plan holds ExistingRDD scans,
    // and (b) no rangepartitioning exchange remains in the final plan
    // to be re-executed with resampled boundaries.
    val df = spark.range(100).selectExpr("id", "id % 7 AS v")
    val p = ext.Stats.globalRowNumber(df,
      Seq(org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.col("id")))
      .queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"), "ranged frame no longer pinned")
    assert(!p.contains("rangepartitioning"),
      "unpinned range exchange resurfaced in the consuming plan")
  }

  test("q5/q7/q8 push their date filters and never go cartesian") {
    for (q <- Seq("q5_local_volume", "q7_volume_shipping", "q8_market_share")) {
      val p = plan(q)
      assert(p.contains("PushedFilters"), s"$q: no pushed scan filters")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian join")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: nested loop")
    }
  }

  test("q18 filters the per-order aggregate BEFORE joining back") {
    val p = plan("q18_large_orders")
    // The qty > 300 filter must sit over the aggregate, below the join:
    // plans print top-down, so the aggregate-side filter appears after
    // the first join node.
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0)
    assert(p.lastIndexOf("HashAggregate") > joinIdx,
      "per-order aggregate not below the join (probe side would be full fact)")
  }

  test("q21 plans orderkey-clustered aggregates, no semi/anti pair joins") {
    val p = plan("q21_sole_late")
    assert(!p.contains("LeftSemi"), "decorrelated form regressed to semi join")
    assert(!p.contains("LeftAnti"), "decorrelated form regressed to anti join")
    assert(!p.contains("CartesianProduct"))
  }

  test("multi_distinct plans one Expand, not three scans") {
    val p = plan("multi_distinct")
    assert(p.contains("Expand"), "multi-distinct lost its Expand plan")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected one lineitem scan, got $scans")
  }

  test("nullsafe_join stays a hash join (EqualNullSafe keys)") {
    val p = plan("nullsafe_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "null-safe join fell out of the hash/merge families")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("window_shapes runs its windows over the post-aggregate frame") {
    val p = plan("window_shapes")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0)
    assert(p.lastIndexOf("HashAggregate") > winIdx,
      "windows must sit above the (brand, month) aggregate")
  }

  test("hierarchy_flatten's final plan is ONE join over checkpointed state") {
    val p = plan("hierarchy_flatten")
    assert(!p.contains("CartesianProduct"))
    // Earlier doubling rounds materialize via localCheckpoint (lineage
    // cut — composing lazily doubles the tree to 2^r − 1 joins); the
    // visible plan is the LAST round's single self-join over the
    // checkpointed state.
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).size
    assert(joins === 1, s"expected 1 join over checkpointed state, got $joins")
  }

  test("stock_sim plans one part-key exchange for the sorted-group fold") {
    val p = plan("stock_sim")
    assert(p.contains("FlatMapGroupsInR") || p.contains("MapGroups") ||
      p.contains("mapGroups") || p.contains("FlatMapGroups"),
      "sorted-group fold operator missing from plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("repeat_affinity joins on order keys only (no part-pair cartesian)") {
    val p = plan("repeat_affinity")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("multi_touch's pair join is user-keyed with the range as residual") {
    val p = plan("multi_touch")
    assert(!p.contains("CartesianProduct"), "range predicate lost its equi key")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q12_shipmodes keys the join on l_orderkey with lateness as residual") {
    val p = plan("q12_shipmodes")
    assert(!p.contains("CartesianProduct"), "lateness test lost its equi key")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("PushedFilters"), "no pushdown section in scan")
    assert(p.contains("l_shipdate"), "ship-window bounds not pushed to scan")
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).size
    assert(joins === 1, s"expected exactly 1 lineitem⋈orders join, got $joins")
  }

  test("warm-store MinHash declarations start no Spark job (no eager checkpoint)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val queries = Seq("near_dup_minhash", "containment_near_dup",
      "source_overlap", "probe_near_dups")
    queries.foreach(q => SparkEntry.queries(q)(spark, dir)) // warms the stores
    // Opening a parquet table reads its footers in a job of its own;
    // source_overlap opens `documents` once, so it may start exactly the
    // jobs a bare open starts, and nothing more.
    val opens = Map("source_overlap" -> 1)
    // Jobs are attributed by job group, so work from any other thread is
    // not counted; the sentinel job's start is posted after every job the
    // declarations started, so seeing it means the count is complete.
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == "plan-guard-sentinel") flushed.countDown()
            else if (g.startsWith("plan-guard:")) jobs.add(g)
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("plan-guard:open", "declare")
      Tables.documents(spark, dir)
      queries.foreach { q =>
        sc.setJobGroup(s"plan-guard:$q", "declare")
        SparkEntry.queries(q)(spark, dir)
      }
      sc.setJobGroup("plan-guard-sentinel", "flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val started = jobs.toArray.toSeq.groupBy(identity).map { case (g, js) => g -> js.size }
    val perOpen = started.getOrElse("plan-guard:open", 0)
    queries.foreach { q =>
      assert(started.getOrElse(s"plan-guard:$q", 0) === opens.getOrElse(q, 0) * perOpen,
        s"declaring $q with warm stores started jobs: $started")
    }
  }

  test("global windows are exactly the 13 bounded sites of the PLANS.md census") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    // PLANS.md "Global-window census": a window with no partition spec
    // runs in one task, so each listed site is over a bounded,
    // post-aggregate frame. A new site must be judged and listed there.
    // The census reads each declaration's optimized logical plan, with
    // subqueries: a physical walk stops at the adaptive-plan wrapper.
    val expected = Map("rfm_segments" -> 3, "customer_deciles" -> 1,
      "interval_count" -> 1, "interval_topk" -> 1, "session_quantiles" -> 2,
      "orders_backlog" -> 1, "orders_mom_growth" -> 1, "collocations" -> 1,
      "copurchase_pairs" -> 1, "supplier_concentration" -> 1)
    val found = SparkEntry.queries.toSeq.map { case (name, q) =>
      name -> q(spark, dir).queryExecution.optimizedPlan.collectWithSubqueries {
        case w: Window if w.partitionSpec.isEmpty => w
      }.size
    }.filter(_._2 > 0).toMap
    assert(found === expected)
  }
}
