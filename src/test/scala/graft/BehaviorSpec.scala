package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 operators: funnel/retention, near-dup clustering, TF-IDF
  * top-k, deterministic stratified sampling. */
class BehaviorSpec extends AnyFunSuite with RegistryRows {
  import SparkTestSession._

  test("q_funnel stage counts are monotone and lag sums consistent") {
    val r = queries.Behavior.qFunnel(spark, sf).collect()(0)
    val (nu, n1, n2, n3) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nu >= n1 && n1 >= n2 && n2 >= n3,
      s"funnel not monotone: $nu >= $n1 >= $n2 >= $n3")
    assert(n1 > 0, "no user reached stage 1 — degenerate fixture")
    // strictly-after semantics make every stage gap positive, so the
    // summed gaps are positive exactly when someone reached the stage
    if (n2 > 0) assert(r.getLong(4) > 0) else assert(r.isNullAt(4))
    if (n3 > 0) assert(r.getLong(5) > 0) else assert(r.isNullAt(5))
  }

  test("q_funnel plans ONE data-sized shuffle (stacked windows share it)") {
    val plan = queries.Behavior.qFunnel(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    // one Exchange on user_id; the closing one-row aggregate uses a
    // SinglePartition exchange, not a hash one
    assert(exchanges == 1, s"expected 1 hash exchange, plan:\n$plan")
  }

  test("q_retention: offset-0 row equals cohort size and offsets bounded") {
    val rows = queries.Behavior.qRetention(spark, sf).collect()
    val byCohort = rows.groupBy(_.getLong(0))
    for ((cohort, rs) <- byCohort) {
      val day0 = rs.find(_.getLong(1) == 0L)
      assert(day0.isDefined, s"cohort $cohort missing offset 0")
      val base = day0.get.getLong(2)
      // every user is active on their own cohort day, and no later
      // offset can retain more users than the cohort has
      assert(rs.forall(_.getLong(2) <= base))
      assert(rs.forall(r => r.getLong(1) >= 0 &&
        r.getLong(1) <= queries.Behavior.RetentionDays))
    }
  }

  test("connectedComponents labels a chain graph through multi-step propagation") {
    import spark.implicits._
    // path 10-20-30-40 needs 3 propagation rounds; 50 is isolated
    val nodes = Seq(10L, 20L, 30L, 40L, 50L).toDF("doc_id")
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L)).toDF("d1", "d2")
    val got = queries.Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 10L, 4L), (20L, 10L, 4L), (30L, 10L, 4L),
      (40L, 10L, 4L), (50L, 50L, 1L)))
  }

  test("connectedComponents reuses one loop session per caller and leaves the caller's conf alone") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // a caller session of its own, so no concurrent suite shares its loop session
    val caller = spark.newSession()
    caller.conf.set("spark.sql.adaptive.enabled", "true")
    caller.conf.set("spark.sql.shuffle.partitions", "6")
    val loop = queries.Dedup.loopSession(caller)
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    loop.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = { runs.incrementAndGet(); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    import caller.implicits._
    val nodes = Seq(10L, 20L, 30L, 40L, 50L).toDF("doc_id")
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L)).toDF("d1", "d2")
    def call(): Int = {
      val got = queries.Dedup.connectedComponents(nodes, pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((10L, 10L), (20L, 10L), (30L, 10L), (40L, 10L), (50L, 50L)))
      org.apache.spark.graftx.JobProbe.drain(spark.sparkContext)
      runs.get()
    }
    val first = call()
    val second = call()
    assert(first > 0 && second > first,
      s"the loop ran outside the caller's loop session ($first, then $second runs on it)")
    assert(queries.Dedup.loopSession(caller) eq loop)
    assert(caller.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(caller.conf.get("spark.sql.shuffle.partitions") == "6")
  }

  test("contractedComponents: filament chain collapses locally, contracted loop converges in few rounds") {
    import spark.implicits._
    import java.util.concurrent.atomic.AtomicInteger
    // a 100-node filament 0-1-2-...-99 spanning 10 bands of 10 nodes:
    // the shape that costs plain label propagation O(diameter) rounds
    val chain = (0L until 99L).map(i => (i, i + 1, i / 10, (i + 1) / 10))
      .toDF("d1", "d2", "band1", "band2")
    val iters = new AtomicInteger(-1)
    val got = queries.Dedup.contractedComponents(chain, iters)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // one component labeled by its min member
    assert(got == (0L until 100L).map(i => (i, 0L)).toSet)
    // the iterated graph is the 10-super-node boundary chain, not the
    // 100-node filament: seeded min-neighbor labels + 2-hop pointer
    // jumping close a diameter-9 chain within 4 rounds (plain
    // propagation on the raw chain measures ~8 on this fixture)
    assert(iters.get() > 0 && iters.get() <= 4,
      s"contracted loop took ${iters.get()} rounds")
    val rawIters = new AtomicInteger(-1)
    queries.Dedup.connectedComponents(
      (0L until 100L).toDF("doc_id"),
      chain.select("d1", "d2"), itersOut = rawIters).count()
    assert(rawIters.get() > iters.get(),
      s"contraction did not reduce rounds: raw=${rawIters.get()} contracted=${iters.get()}")
  }

  test("q_dedup_clusters covers every doc; near-dup pairs land in one cluster") {
    val docs = Tables.documents(spark, sf)
    val clusters = queries.Dedup.qDedupClusters(spark, sf).cache()
    assert(clusters.count() == docs.count())
    assert(clusters.filter("cluster_id > doc_id").count() == 0)
    // every Jaccard pair must be intra-cluster (components absorb edges)
    val lab = clusters.select(col("doc_id"), col("cluster_id"))
    val crossEdges = queries.Dedup.qNgramJaccard(spark, sf)
      .select(col("d1"), col("d2"))
      .join(lab.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("cluster_id", "c1"), "d1")
      .join(lab.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("cluster_id", "c2"), "d2")
      .filter("c1 <> c2").count()
    assert(crossEdges == 0, s"$crossEdges similarity edges cross clusters")
    // sizes are consistent: summing each distinct cluster once = n docs
    val sizeSum = clusters.select("cluster_id", "cluster_size").distinct()
      .agg(sum("cluster_size")).collect()(0).getLong(0)
    assert(sizeSum == docs.count())
    clusters.unpersist()
  }

  test("q_triangles matches a local recount of the pair-graph motifs") {
    val pairs = queries.Dedup.qNgramJaccard(spark, sf)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = pairs.flatMap(p => Set(p._1, p._2))
    val deg = nodes.map(v =>
      v -> pairs.count(p => p._1 == v || p._2 == v).toLong).toMap
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    val und = pairs ++ pairs.map(p => (p._2, p._1))
    val tris = pairs.toSeq.map { case (a, b) =>
      nodes.count(c => c > b && und((a, c)) && und((b, c))).toLong
    }.sum
    val r = queries.Dedup.qTriangles(spark, sf).collect()(0)
    assert(r.getLong(0) == nodes.size.toLong, "n_nodes")
    assert(r.getLong(1) == pairs.size.toLong, "n_edges")
    assert(r.getLong(2) == wedges, "n_wedges")
    assert(r.getLong(3) == tris, "n_triangles")
    if (wedges > 0)
      assert(r.getLong(4) == 3000L * tris / wedges, "clustering_x1000")
  }

  test("pageRank is exact: constant on regular graphs, hand-computed on a path") {
    import spark.implicits._
    // triangle = 2-regular: every iteration sends pr/2 along both
    // edges, receives 2·(pr/2) back — rank stays at PrScale forever
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("d1", "d2")
    val triRanks = queries.Dedup.pageRank(tri, iters = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(triRanks.toSet ==
      Set((1L, 2L, 1000000L), (2L, 2L, 1000000L), (3L, 2L, 1000000L)))
    // path 1-2-3 after ONE iteration (integer arithmetic, by hand):
    // ends get 150000 + 850*(1000000 DIV 2)/1000 = 575000;
    // middle gets 150000 + 850*(1000000+1000000)/1000 = 1850000
    val path = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val r1 = queries.Dedup.pageRank(path, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(r1 == Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L))
  }

  test("q_pagerank covers exactly the edge-touching docs; mass never inflates") {
    val pr = queries.Dedup.qPageRank(spark, sf).cache()
    val active = queries.Dedup.qNgramJaccard(spark, sf)
      .selectExpr("d1 AS doc_id").union(
        queries.Dedup.qNgramJaccard(spark, sf).selectExpr("d2 AS doc_id"))
      .distinct().count()
    assert(pr.count() == active, "one rank row per edge-touching doc")
    // integer DIV only sheds mass: total rank <= n·PrScale, and every
    // node keeps at least the base rank
    val n = pr.count()
    val total = pr.agg(sum("pr_rank")).collect()(0).getLong(0)
    assert(total <= n * queries.Dedup.PrScale, "rank mass inflated")
    assert(pr.filter(s"pr_rank < 150000").count() == 0, "below base rank")
    pr.unpersist()
  }

  test("q_tfidf emits at most k ranked terms per doc, scores non-increasing") {
    val df = queries.Text.qTfidf(spark, sf).cache()
    val k = queries.Text.TfidfTopK
    assert(df.filter(s"rnk < 1 OR rnk > $k").count() == 0)
    val over = df.groupBy("doc_id").count().filter(s"count > $k").count()
    assert(over == 0)
    val misordered = df.selectExpr("doc_id",
      "score - lead(score) OVER (PARTITION BY doc_id ORDER BY rnk) AS step")
      .filter("step < 0").count()
    assert(misordered == 0, "scores must be non-increasing in rank")
    df.unpersist()
  }

  test("q_tfidf plans the bounded-heap top-k (TopKRewrite applies)") {
    // the extensions-injected rule rewrites the row_number idiom; the
    // shared test session has no extensions, so apply the rule's
    // target operator shape check via a rewritten session run
    val s2 = spark.newSession()
    s2.experimental.extraOptimizations = Seq(plans.TopKRewrite)
    plans.TopKPerKey.ensureStrategy(s2)
    val plan = queries.Text.qTfidf(s2, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
      s"TopKRewrite did not fire on q_tfidf:\n$plan")
  }

  test("misra_gries never loses an item above n/(k+1), across partitionings") {
    import spark.implicits._
    // zipf-ish synthetic stream: item i appears ~ n/i times
    val rng = new scala.util.Random(7)
    val items = (1 to 40).flatMap(i => Seq.fill(2000 / i)(s"item_$i"))
    val data = rng.shuffle(items)
    val n = data.size.toLong
    val k = 10
    val exact = data.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val mustSurvive = exact.filter(_._2 > n / (k + 1)).keySet
    for (parts <- Seq(1, 4, 13)) { // merge order must not matter
      val sketch = data.toDF("term").repartition(parts)
        .agg(functions.HeavyHitters.misraGries(col("term"), k).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.item"), col("h.cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sketch.size <= k)
      val lost = mustSurvive -- sketch.keySet
      assert(lost.isEmpty, s"parts=$parts lost guaranteed heavy hitters: $lost")
      // residual counters never overcount and undercount by <= n/(k+1)
      sketch.foreach { case (t, c) =>
        assert(c <= exact(t), s"$t overcounted: $c > ${exact(t)}")
        assert(exact(t) - c <= n / (k + 1) + 1,
          s"$t undercounted beyond the bound: $c vs ${exact(t)}")
      }
    }
  }

  test("q_heavy_hitters equals the naive full-shuffle computation") {
    import spark.implicits._
    val got = queries.Text.qHeavyHitters(spark, sf)
      .select("term", "cnt").as[(String, Long)].collect().toSet
    val words = Tables.documents(spark, sf)
      .select(explode(split(lower($"text"), "[^a-z]+")).as("term"))
      .filter(length($"term") > 0)
    val n = words.count()
    val want = words.groupBy($"term").count()
      .filter($"count" * 10000L >= n * queries.Text.HhPctX100)
      .as[(String, Long)].collect().toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("q_sample_stratified is deterministic and respects per-stratum rates") {
    val a = queries.Text.qSampleStratified(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    val b = queries.Text.qSampleStratified(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(a == b, "sample must be identical across runs (no RNG)")
    // the nibble rule holds row-by-row
    val bad = queries.Text.qSampleStratified(spark, sf)
      .filter("(lang = 'en' AND h >= '1') OR (lang <> 'en' AND h >= '4')")
      .count()
    assert(bad == 0)
  }

  test("q_funnel_time equals the brute-force discrete-percentile recompute") {
    import org.apache.spark.sql.functions._
    // per-user funnel stage times, brute force
    val evs = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .selectExpr("user_id", "event_type", "ts DIV 1000 AS tus").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    val durs = evs.toSeq.flatMap { case (uid, rows) =>
      val t1 = rows.filter(_._2 == "view").map(_._3).sorted.headOption
      val t2 = t1.flatMap(a => rows.filter(r => r._2 == "click" && r._3 > a)
        .map(_._3).sorted.headOption)
      val t3 = t2.flatMap(b => rows.filter(r => r._2 == "purchase" && r._3 > b)
        .map(_._3).sorted.headOption)
      t2.map(b => ("view_click", b - t1.get, uid)).toSeq ++
        t3.map(c => ("click_buy", c - t2.get, uid)).toSeq
    }
    def disc(vs: Seq[Long], q: Double): Long =
      vs.sorted.apply(math.ceil(q * vs.length).toInt - 1)
    val exp = durs.groupBy(_._1).view.mapValues { vs =>
      val ds = vs.map(_._2)
      (ds.length.toLong, disc(ds, 0.5), disc(ds, 0.9), ds.max)
    }.toMap
    val got = queries.Behavior.qFunnelTime(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == exp, s"funnel-time mismatch:\n got $got\n exp $exp")
    assert(got.keySet == Set("view_click", "click_buy"),
      "both funnel legs must convert at sf0.001")
    // the distribution adds what the sums hide: p90 strictly above p50
    // on at least one leg (a degenerate corpus would make this vacuous)
    assert(got.values.exists(v => v._3 > v._2),
      "p90 == p50 everywhere — distribution view vacuous")
    // cross-query reconciliation: the leg populations are exactly
    // q_funnel's conversion counts, and the brute-force duration
    // masses equal q_funnel's reported sums — the two entries can
    // never tell different funnel stories
    val f = queries.Behavior.qFunnel(spark, sf).collect().head
    assert(got("view_click")._1 == f.getAs[Long]("n_view_click"))
    assert(got("click_buy")._1 == f.getAs[Long]("n_full_funnel"))
    assert(durs.filter(_._1 == "view_click").map(_._2).sum ==
      f.getAs[Long]("sum_view_to_click_us"))
    assert(durs.filter(_._1 == "click_buy").map(_._2).sum ==
      f.getAs[Long]("sum_click_to_buy_us"))
  }
}
