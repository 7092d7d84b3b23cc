package graft

import org.apache.spark.sql.functions._

/** Item-item CF invariants: neighbor symmetry before the top-k cut,
  * cosine bounds, the power-listener cap's determinism, and that user
  * recommendations are novel (never already-listened) and correctly
  * integer-scored. Value-level correctness is the DuckDB gate.
  */
class RecommendSpec extends SparkSuite {

  private lazy val nbr  = ops.Recommend.recItemItemCf(spark, sf).cache()
  private lazy val recs = ops.Recommend.recUserTopn(spark, sf).cache()

  test("neighbor cosine is in (0, 1] and co <= min(audiences)") {
    val bad = nbr.filter(col("cosine") <= 0 || col("cosine") > 1.0 + 1e-12 ||
      col("co_users") > least(col("n_users_a"), col("n_users_b")))
    assert(bad.count() == 0)
    assert(nbr.count() > 0)
  }

  test("ranks are 1..k dense per item, ordered by (cosine desc, id)") {
    import spark.implicits._
    val perItem = nbr.select($"item_id", $"rank", $"cosine", $"rec_item_id")
      .collect().groupBy(_.getLong(0))
    assert(perItem.nonEmpty)
    perItem.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val pairs = sorted.map(r => (-r.getDouble(2), r.getLong(3))).toSeq
      assert(pairs == pairs.sorted, "rank order must follow (cosine desc, id asc)")
    }
  }

  test("the similarity relation is symmetric before the top-k cut") {
    // rebuild the uncut scored table via the private core: every (a,b)
    // must appear as (b,a) with the identical cosine
    import spark.implicits._
    val listens = ops.Recommend.cappedListens(spark, sf)
    val a = listens.select($"user_id", $"item_id".as("a"))
    val b = listens.select($"user_id", $"item_id".as("b"))
    val co = a.join(b, Seq("user_id")).filter($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("co"))
      .filter($"co" >= ops.Recommend.minCoListeners)
    val fwd = co.select($"a", $"b", $"co")
    val rev = co.select($"b".as("a"), $"a".as("b"), $"co")
    // the neighbor table is built from fwd UNION rev: check both merged
    // directions agree with nbr on every surviving (item, rec) pair
    val got = nbr.select($"item_id".as("a"), $"rec_item_id".as("b"), $"co_users".as("co"))
    assert(got.join(fwd.union(rev), Seq("a", "b", "co"), "left_anti").count() == 0)
  }

  test("power-listener cap keeps at most K tracks per user, deterministically") {
    import spark.implicits._
    val capped = ops.Recommend.cappedListens(spark, sf)
    val over = capped.groupBy($"user_id").agg(count(lit(1)).as("n"))
      .filter($"n" > ops.Recommend.maxItemsPerUser)
    assert(over.count() == 0)
    // deterministic under re-evaluation (window ties broken by item id)
    val c1 = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val c2 = ops.Recommend.cappedListens(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(c1 == c2)
  }

  test("audience overlap: jaccard in (0,1], co bounded by both audiences, ranked") {
    import spark.implicits._
    val ov = ops.Recommend.dmAudienceOverlap(spark, sf)
    val rows = ov.collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val (co, na, nb, j) = (r.getAs[Long]("co_users"), r.getAs[Long]("n_users_a"),
        r.getAs[Long]("n_users_b"), r.getAs[Double]("jaccard"))
      assert(co <= math.min(na, nb) && j > 0.0 && j <= 1.0)
      assert(j == co.toDouble / (na + nb - co).toDouble, "jaccard must be the exact rational")
    }
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to rows.length).toSeq)
    val js = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("jaccard")).toSeq
    assert(js == js.sorted.reverse, "rank must be jaccard-descending")
  }

  test("user recommendations are novel and integer-scored by co-counts") {
    import spark.implicits._
    val listened = ops.Recommend.cappedListens(spark, sf)
      .select($"user_id", $"item_id".as("rec_item_id"))
    assert(recs.join(listened, Seq("user_id", "rec_item_id")).count() == 0,
      "a recommendation must never be an already-listened track")
    assert(recs.count() > 0)
    // score = sum of the voting neighbors' co_users: re-derive for one user
    val u = recs.select($"user_id").head().getLong(0)
    val nbrV = nbr.select($"item_id", $"rec_item_id", $"co_users")
    val expect = ops.Recommend.cappedListens(spark, sf).filter($"user_id" === u)
      .join(nbrV, Seq("item_id"))
      .groupBy($"rec_item_id").agg(sum($"co_users").as("s"), count(lit(1)).as("v"))
      .join(listened.filter($"user_id" === u).select($"rec_item_id"), Seq("rec_item_id"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = recs.filter($"user_id" === u)
      .select($"rec_item_id", $"score", $"n_via")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.subsetOf(expect), "served scores must equal the re-derived vote sums")
  }

  test("neighbor ranking: partial top-k heap runs BELOW the exchange (round-10)") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    // the uncached core: this suite caches recItemItemCf, and cache
    // substitution would swap the whole subtree for an InMemoryRelation,
    // hiding the aggregate from the plan walk
    val df = ops.Recommend.neighbors(spark, sf)
    df.collect() // finalize AQE
    val nodes = tools.PlanWalk.flatten(df.queryExecution.executedPlan)
    val aggs = nodes.collect { case a: ObjectHashAggregateExec => a }
    def withTopK(mode: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateMode) =
      aggs.filter(_.aggregateExpressions.exists(ae =>
        ae.mode == mode && ae.aggregateFunction.isInstanceOf[graft.functions.PartialTopK]))
    val partials = withTopK(Partial)
    assert(partials.nonEmpty, "no partial-mode partial_topk planned:\n" +
      df.queryExecution.executedPlan.toString)
    assert(withTopK(Final).nonEmpty, "no final-mode partial_topk planned")
    val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.exists(e =>
      tools.PlanWalk.flatten(e).exists(p => partials.exists(_ eq p))),
      "partial_topk partial mode not below any shuffle exchange:\n" +
        df.queryExecution.executedPlan.toString)
  }

  test("one fact scan: rec_user_topn's plan reads facts only through the pinned profile (round-11)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the entry materializes the listen profile once (eager
    // localCheckpoint) and feeds the capped window, the neighbor build,
    // and the novelty anti-join from it — so the FINAL executed plan
    // must contain ZERO file scans of the fact tables (all three
    // branches read the checkpointed profile; before round 11 the plan
    // carried three separate lineitem⋈orders derivations)
    val df = ops.Recommend.recUserTopn(spark, sf)
    df.collect() // finalize AQE
    val factScans = tools.PlanWalk.flatten(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f.toString }
      .filter(s => s.contains("lineitem") || s.contains("orders"))
    assert(factScans.isEmpty,
      s"fact tables scanned outside the pinned profile:\n${factScans.mkString("\n")}")
  }

  test("novelty holds past the power-listener cap (round-10 fix)") {
    import spark.implicits._
    // user 1 listens to 205 distinct items — items 201..205 fall OUTSIDE
    // the top-200 capped profile (count ties broken by item asc). Users
    // 2..21 co-listen {1, 201}, making 201 the one strong neighbor of 1.
    // Pre-fix, the capped anti-join would recommend user 1 their own
    // item 201; the full-listen-set anti-join must not.
    val dir = java.nio.file.Files.createTempDirectory("graft_rec_cap").toString
    val orders = (1L to 21L).map(u => (u, u)).toDF("o_orderkey", "o_custkey")
    val lines = ((1L to 205L).map(i => (1L, i)) ++
      (2L to 21L).flatMap(u => Seq((u, 1L), (u, 201L)))).toDF("l_orderkey", "l_partkey")
    orders.write.parquet(s"$dir/orders.parquet")
    lines.write.parquet(s"$dir/lineitem.parquet")
    assert(ops.Recommend.cappedListens(spark, dir)
      .filter($"user_id" === 1L && $"item_id" === 201L).count() == 0,
      "fixture must place item 201 outside user 1's cap")
    val r = ops.Recommend.recUserTopn(spark, dir)
    val full = ops.Recommend.listenCounts(spark, dir)
      .select($"user_id", $"item_id".as("rec_item_id"))
    assert(r.join(full, Seq("user_id", "rec_item_id")).count() == 0,
      "no recommendation may be in the user's FULL listen history")
    assert(r.filter($"user_id" === 1L && $"rec_item_id" === 201L).count() == 0,
      "the over-cap listened item must not resurface as a recommendation")
  }

  test("coverage eval: metrics recompute exactly from the served rec table") {
    import spark.implicits._
    val recs = ops.Recommend.recUserTopn(spark, sf)
      .select($"user_id", $"rec_item_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val row = ops.Recommend.recCoverageEval(spark, sf).head
    assert(row.getLong(0) == recs.map(_._1).distinct.length)
    assert(row.getLong(1) == recs.length)
    val distinctItems = recs.map(_._2).distinct.length
    assert(row.getLong(2) == distinctItems)
    assert(row.getDouble(4) == distinctItems.toDouble / row.getLong(3))
    assert(row.getDouble(5) == distinctItems.toDouble / recs.length)
    val top10 = recs.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (id, n) => (-n, id) }.take(10).map(_._2.toLong).sum
    assert(row.getDouble(6) == top10.toDouble / recs.length)
    assert(row.getDouble(4) > 0.0 && row.getDouble(4) <= 1.0)
    assert(row.getDouble(6) > 0.0 && row.getDouble(6) <= 1.0)
  }

  test("basket lift: measures recompute from their own counts; ranks dense") {
    val rows = ops.Recommend.recBasketLift(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to rows.length).toSeq)
    rows.foreach { r =>
      val (co, na, nc, nt) = (r.getAs[Long]("co_users"), r.getAs[Long]("n_ant"),
        r.getAs[Long]("n_cons"), r.getAs[Long]("n_users_total"))
      assert(r.getAs[Long]("antecedent") != r.getAs[Long]("consequent"))
      assert(co >= ops.Recommend.minCoListeners && co <= math.min(na, nc))
      assert(r.getAs[Double]("confidence") == co.toDouble / na.toDouble)
      assert(r.getAs[Double]("lift") == (co * nt).toDouble / (na * nc).toDouble)
    }
    // lift ordering is the output ordering
    val lifts = rows.map(_.getAs[Double]("lift")).toSeq
    assert(lifts == lifts.sorted.reverse)
  }

  test("redeclareByUser: a re-exchanged derivation throws, the capped derivation passes") {
    import spark.implicits._
    val lc = ops.Recommend.pinProfileByUser(ops.Recommend.listenCounts(spark, sf))
    assert(ops.Recommend.redeclareByUser(ops.Recommend.cappedFrom(lc)).count() > 0)
    // same partition count as the pin, so the RDD count check alone passes
    // it; the rows are laid out by item_id, not user_id
    val n = spark.sessionState.conf.numShufflePartitions
    val e = intercept[IllegalArgumentException](
      ops.Recommend.redeclareByUser(lc.repartition(n, $"item_id")))
    assert(e.getMessage.contains("re-exchanges"), e.getMessage)
  }
}
