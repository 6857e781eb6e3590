package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class CoreOlapSpec extends AnyFunSuite with RegistryRows {
  import SparkTestSession._

  test("q01 aggregates match a hand check") {
    import org.apache.spark.sql.functions._
    val df = queries.CoreOlap.q01(spark, sf)
    val total = df.agg(sum("count_order")).head.getLong(0)
    val expected = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")).count()
    assert(total == expected)
  }

  test("q_window_topn returns exactly 3 rows per priority") {
    val df = queries.CoreOlap.qWindowTopn(spark, sf)
    val counts = df.groupBy("o_orderpriority").count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) == 3))
  }

  test("q_asof_join click always precedes (or ties) purchase") {
    val df = queries.CoreOlap.qAsofJoin(spark, sf)
    assert(df.filter("click_tus > tus").count() == 0)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q_shared_scan computes its three reports over ONE table scan") {
    // AQE wraps finished stages in leaf QueryStage nodes that hide the
    // scan from plan.collect; the scan count is static, so assert on a
    // non-adaptive plan (same approach as the spatial pruning spec)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = queries.CoreOlap.qSharedScan(spark, sf)
      val plan = df.queryExecution.executedPlan
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.size == 1, s"expected one shared scan, got ${scans.size}")
      assert(plan.toString.contains("Expand"), "grouping sets should Expand")
      // each report's '(all)' markers confirm the three distinct key sets
      assert(df.filter("gid = 3").count() > 0) // by returnflag
      assert(df.filter("gid = 5").count() > 0) // by linestatus
      assert(df.filter("gid = 6").count() > 0) // by ship month
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q_set_ops partitions add up to the underlying sets") {
    import org.apache.spark.sql.functions._
    val v = queries.CoreOlap.qSetOps(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val high = Tables.customer(spark, sf)
      .filter(col("c_acctbal") > queries.CoreOlap.SetOpsBalanceBar).count()
    val buyers = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    val orders = Tables.orders(spark, sf).count()
    // INTERSECT + EXCEPT partition each input set exactly
    assert(v("high_buyer") + v("high_dormant") == high)
    assert(v("high_buyer") + v("buyer_low_bal") == buyers)
    // EXCEPT ALL keeps multiplicity: total minus one per distinct buyer
    assert(v("repeat_surplus") == orders - buyers)
  }

  test("q_mode returns exactly one row per user, backed by a real count") {
    import org.apache.spark.sql.functions._
    val df = queries.CoreOlap.qMode(spark, sf).cache()
    val users = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull).select("user_id").distinct().count()
    assert(df.count() == users)
    // the mode's count is the user's true max frequency
    val truth = Tables.events(spark, sf).filter(col("user_id").isNotNull)
      .groupBy("user_id", "event_type").count()
      .groupBy("user_id").agg(max("count").as("mx"))
    assert(df.join(truth, "user_id").filter(col("cnt") =!= col("mx")).count() == 0)
    df.unpersist()
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q_quartile_bucket buckets partition each group exactly") {
    import org.apache.spark.sql.functions._
    val df = queries.CoreOlap.qQuartileBucket(spark, sf).cache()
    assert(df.filter("quartile < 1 OR quartile > 4").count() == 0)
    // per-type bucket counts sum to the type's event count
    val byType = df.groupBy("event_type").agg(sum("n").as("tot"))
    val truth = Tables.events(spark, sf).groupBy("event_type").count()
    assert(byType.join(truth, "event_type")
      .filter(col("tot") =!= col("count")).count() == 0)
    // no window/sort in the plan: boundary agg + broadcast join only
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"quartile bucketing must not plan a window:\n$plan")
    df.unpersist()
  }

  test("BloomJoin.semi is exactly the semi join, and the probe prefilters") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val fact = (1L to 10000L).map(k => (k % 997, k)).toDF("key", "payload")
    val dim = Seq(1L, 5L, 900L, 996L).toDF("dkey")
    val got = operators.BloomJoin.semi(fact, dim, "key", "dkey", 100L)
    val want = fact.join(dim.select($"dkey".as("key")), Seq("key"), "left_semi")
    assert(got.collect().toSet == want.collect().toSet)
    // the probe prefilters the parquet-backed plan (local relations
    // get constant-folded, so assert on the real-table query), and
    // its Filter runs inside a WholeStageCodegen span (starred node)
    val df = queries.CoreOlap.qBloomJoin(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Filter .*bloom_might_contain_long""".r
      .findFirstIn(plan).isDefined,
      s"bloom probe not in a codegen'd Filter:\n$plan")
  }

  test("q_bloom_join equals the plain IN-subquery formulation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = queries.CoreOlap.qBloomJoin(spark, sf).collect().toSeq
    val want = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf)
        .filter($"o_orderpriority" === "1-URGENT" &&
          $"o_totalprice" > queries.CoreOlap.BloomOrderPrice)
        .select($"o_orderkey".as("l_orderkey")), Seq("l_orderkey"), "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        (sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000L)
          .cast("long")) / 10000.0).as("revenue"))
      .orderBy($"l_returnflag").collect().toSeq
    assert(got == want)
  }

  test("q_skyline equals the brute-force dominance definition, no cartesian in plan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = queries.CoreOlap.qSkyline(spark, sf)
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute-force oracle on the collected base table (sf0.001 is small)
    val base = Tables.orders(spark, sf).select($"o_orderkey",
      round($"o_totalprice" * 100).cast("long").as("pc"),
      unix_micros($"o_orderdate".cast("timestamp")).as("od"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = base.filter { case (_, pc, od) =>
      !base.exists { case (_, pc2, od2) =>
        pc2 <= pc && od2 <= od && (pc2 < pc || od2 < od) }
    }.sortBy(t => (t._2, t._3, t._1))
    assert(rows.toSeq == want.toSeq,
      s"skyline mismatch: got ${rows.length}, want ${want.length}")
    // the distributed plan must never fall back to a product join
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"skyline planned a cartesian product:\n$plan")
  }

  test("q_ntile histogram-split plan equals the plain ntile window, sorts per cell") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val got = queries.CoreOlap.qNtile(spark, sf).collect().toSeq
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    val want = Tables.orders(spark, sf)
      .withColumn("quartile", ntile(4).over(w))
      .groupBy($"o_orderpriority", $"quartile")
      .agg(count(lit(1)).as("n"),
        (sum(round($"o_totalprice" * 100).cast("long")) / 100.0).as("sum_price"))
      .orderBy($"o_orderpriority", $"quartile")
      .collect().toSeq
    assert(got == want, s"histogram-split ntile diverged from the window ntile")
    // the only full-width window sort must be per (priority, cell) —
    // a sort on priority alone is the single-task-per-group plan this
    // formulation exists to avoid. AQE leaf stages hide SortExec from
    // plan.collect, so assert on a non-adaptive plan.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = queries.CoreOlap.qNtile(spark, sf)
      val rowNumSorts = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec
          if s.sortOrder.exists(_.child.toString.contains("o_totalprice")) =>
          (s.sortOrder.map(_.child.toString),
            s.child.outputPartitioning.toString)
      }
      assert(rowNumSorts.nonEmpty, "no row_number sort found in the plan")
      assert(rowNumSorts.forall(_._2.contains("cell")),
        s"row_number sort is not partitioned by cell: $rowNumSorts")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q_grouping_sets equals the three plain groupBys it fuses; levels reconcile") {
    import org.apache.spark.sql.functions._
    val rows = queries.CoreOlap.qGroupingSets(spark, sf).collect()
    // gid bitmask over (returnflag, linestatus, shipmonth):
    // detail set aggregates shipmonth only (001b=1), month set
    // aggregates rf+ls (110b=6), grand total all three (111b=7)
    val byGid = rows.groupBy(_.getAs[Int]("gid"))
    assert(byGid.keySet == Set(1, 6, 7), byGid.keySet.toString)
    val li = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        month(col("l_shipdate")).as("m"),
        round(col("l_quantity") * 100).cast("long").as("q"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3)))
    val detail = li.groupBy(t => (t._1, t._2)).view
      .mapValues(v => (v.size.toLong, v.map(_._4).sum)).toMap
    val monthly = li.groupBy(_._3).view
      .mapValues(v => (v.size.toLong, v.map(_._4).sum)).toMap
    assert(byGid(1).map(r => (r.getString(0), r.getString(1)) ->
      (r.getAs[Long]("n"), r.getAs[Long]("qty_c100"))).toMap == detail)
    assert(byGid(6).map(r => r.getAs[Int]("shipmonth") ->
      (r.getAs[Long]("n"), r.getAs[Long]("qty_c100"))).toMap == monthly)
    val Array(total) = byGid(7).toArray
    assert(total.getAs[Long]("n") == li.length.toLong &&
      total.getAs[Long]("qty_c100") == li.map(_._4).sum)
    // aggregated dimensions carry the "(all)"/-1 markers
    assert(byGid(1).forall(_.getAs[Int]("shipmonth") == -1))
    assert(byGid(6).forall(r => r.getString(0) == "(all)" &&
      r.getString(1) == "(all)"))
  }

  test("q_order_count_dist equals the brute-force distribution; agg reuses the join shuffle") {
    import org.apache.spark.sql.functions._
    val got = queries.CoreOlap.qOrderCountDist(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perCust = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = Tables.customer(spark, sf).select("c_custkey").collect()
      .map(r => perCust.getOrElse(r.getLong(0), 0L))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == exp, s"got $got\nexp $exp")
    // the LEFT join keeps zero-order customers only while the priority
    // filter stays in the join condition — the bucket must be live
    // whenever the brute force says so
    assert(got.keySet == exp.keySet)
    // plan pin ON THE SCALE PATH (at sf0.001 the orders side simply
    // broadcasts — disable that to see the 100-TB shuffle-join plan):
    // exactly three hash exchanges — one per join side and one for
    // the reduced count-of-counts; a fourth would mean the c_custkey
    // aggregate stopped reusing the join's partitioning
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hashEx = queries.CoreOlap.qOrderCountDist(spark, sf)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning
              .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
        }
      assert(hashEx.size == 3, s"expected 3 hash exchanges, got ${hashEx.size}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("q_global_share equals the brute-force above-mean share scan") {
    import org.apache.spark.sql.functions._
    val got = queries.CoreOlap.qGlobalShare(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rev = Tables.lineitem(spark, sf)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 10000).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val tot = rev.values.sum
    val n = rev.size.toLong
    val exp = rev.toSeq
      .filter { case (_, c) => BigInt(c) * n > BigInt(tot) }
      .map { case (k, c) => (k, c, (BigInt(c) * 1000000 / tot).toLong) }
      .sortBy(t => (-t._2, t._1))
    assert(got.toSeq == exp, s"got ${got.take(5).toSeq} exp ${exp.take(5)}")
    assert(got.nonEmpty, "above-mean set must be non-empty at every SF")
    // the global scalar rides a broadcast, never a constant-key window
    val plan = queries.CoreOlap.qGlobalShare(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), "1-row global must broadcast")
    assert(!plan.contains("Window"), "no constant-key window allowed")
  }

  test("q_large_orders matches a driver-side recompute and the threshold binds") {
    import org.apache.spark.sql.functions._
    def r0(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val qty = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r0(r.getDouble(2) * 100)))
      .toMap
    val exp = qty.toSeq
      .filter(_._2 > queries.CoreOlap.LargeOrderQtyMin)
      .map { case (ok, sq) =>
        val (ck, pc) = ord(ok); (ck, ok, pc, sq) }
      .sortBy(t => (-t._4, t._2))
    val got = queries.CoreOlap.qLargeOrders(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == exp,
      s"got ${got.take(3).toSeq}\n exp ${exp.take(3)}")
    // binding: some orders qualify, most do not
    assert(exp.nonEmpty && exp.size < qty.size,
      s"threshold does not bind: ${exp.size}/${qty.size}")
  }

  test("q_waiting_suppliers equals the LITERAL correlated EXISTS/NOT-EXISTS form; gates bind") {
    // the query collapses Q21's two correlated subqueries into one
    // order-key aggregate — this recompute applies them literally,
    // lineitem by lineitem, so the collapse itself is what's proven
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_suppkey", "l_returnflag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val status = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byOrder = li.groupBy(_._1)
    val waits = (for {
      (ok, rows) <- byOrder.toSeq if status(ok) == "F"
      (_, s1, rf) <- rows if rf == "R"
      if rows.exists(l2 => l2._2 != s1) // EXISTS other supplier
      if !rows.exists(l3 => l3._2 != s1 && l3._3 == "R") // NOT EXISTS other late
    } yield (s1, ok)).distinct
    val numwait = waits.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val supp = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_suppkey", "s_name", "s_nationkey").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val nat = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val exp = numwait.toSeq.map { case (sk, nw) =>
      val (sn, nk) = supp(sk); (nat(nk), sn, nw)
    }.sortBy(t => (-t._3, t._2)).take(100)
    val got = queries.CoreOlap.qWaitingSuppliers(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == exp, s"got ${got.take(3)}\n exp ${exp.take(3)}")
    // every gate binds: some orders are F-and-multi-supplier-and-one-
    // late, and others fail each leg of the predicate
    assert(exp.nonEmpty, "no waiting suppliers at sf0.001")
    val fOrders = byOrder.keySet.filter(ok => status(ok) == "F")
    assert(waits.map(_._2).toSet.size < fOrders.size,
      "the EXISTS/NOT-EXISTS gates do not bind")
  }

  test("q_nation_trade equals the textbook disjunctive-pair recompute, both directions populated") {
    import org.apache.spark.sql.functions._
    val q = queries.CoreOlap
    def r4(x: Double): Long =
      BigDecimal(x * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong
    val natByKey = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val supN = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_suppkey", "s_nationkey").collect()
      .map(r => r.getLong(0) -> natByKey(r.getInt(1))).toMap
    val custN = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getLong(0) -> natByKey(r.getInt(1))).toMap
    val ordCust = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(expr("l_shipdate >= timestamp'1996-01-01' AND " +
        "l_shipdate < timestamp'1998-01-01'"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_discount"), year(col("l_shipdate")).cast("long").as("y"))
      .collect()
    // the LITERAL (n1=A AND n2=B) OR (n1=B AND n2=A) form
    val cells = li.flatMap { r =>
      val sn = supN(r.getLong(1))
      val cn = custN(ordCust(r.getLong(0)))
      val ok = (sn == q.TradeNationA && cn == q.TradeNationB) ||
        (sn == q.TradeNationB && cn == q.TradeNationA)
      if (!ok) None
      else Some(((sn, cn, r.getLong(4)),
        r4(r.getDouble(2) * (1.0 - r.getDouble(3)))))
    }
    val exp = cells.groupBy(_._1).view.mapValues(v =>
      (v.length.toLong, v.map(_._2).sum / 10000.0)).toMap
    val got = q.qNationTrade(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getLong(2)) -> (r.getLong(3), r.getDouble(4))).toMap
    assert(got == exp, s"got $got\nexp $exp")
    assert(got.keys.map(_._1).toSet ==
      Set(q.TradeNationA, q.TradeNationB), "a trade direction is empty")
  }

  test("q_returned_customers equals the brute-force top-20 and resolves by TakeOrdered, not a global sort") {
    import org.apache.spark.sql.functions.expr
    val q = queries.CoreOlap
    def r4c(x: Double): Long =
      BigDecimal(x * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong
    val ords = spark.read.parquet(s"$sf/orders.parquet")
      .filter(expr("o_orderdate >= timestamp'1996-01-01' AND " +
        "o_orderdate < timestamp'1996-07-01'"))
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val nat = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val cells = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
      .collect()
      .filter(r => r.getString(1) == "R" && ords.contains(r.getLong(0)))
      .map(r => ords(r.getLong(0)) ->
        r4c(r.getDouble(2) * (1.0 - r.getDouble(3))))
    val exp = cells.groupBy(_._1).toSeq.map { case (ck, v) =>
      val (nm, nk) = cust(ck)
      (ck, nm, nat(nk), v.length.toLong, v.map(_._2).sum / 10000.0)
    }.sortBy(t => (-t._5, t._1)).take(20)
    val df = q.qReturnedCustomers(spark, sf)
    val got = df.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(got == exp, s"got ${got.take(3)}\nexp ${exp.take(3)}")
    // the top-20 must resolve as TakeOrdered on the reduced aggregate
    // — a global Sort of the aggregate (or worse, the fact) would be
    // the silent 100-TB regression
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"limit not resolved by TakeOrdered:\n$plan")
  }

  test("q_small_quantity equals the LITERAL correlated-average recompute; the fifth-of-average gate binds") {
    val q = queries.CoreOlap
    def r0(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val brandParts = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey", "p_brand").collect()
      .filter(_.getString(1) == q.SmallQtyBrand).map(_.getLong(0)).toSet
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .filter(r => brandParts(r.getLong(0)))
      .map(r => (r.getLong(0), r0(r.getDouble(1) * 100),
        r0(r.getDouble(2) * 100)))
    // the LITERAL correlated form: each row compared against ITS
    // part's average quantity, recomputed per row
    val byPart = li.groupBy(_._1)
    val small = li.filter { case (pk, qc, _) =>
      val rows = byPart(pk)
      // qc < 0.2 * avg  ⇔  5*qc*n < Σqc  (exact integers)
      5L * qc * rows.length < rows.map(_._2).sum
    }
    val r = q.qSmallQuantity(spark, sf).collect().head
    assert(r.getAs[Long]("n_small") == small.length.toLong,
      s"n_small ${r.getAs[Long]("n_small")} != ${small.length}")
    assert(r.getAs[Double]("total_price") ==
      small.map(_._3).sum / 100.0, "total_price")
    assert(r.getAs[Double]("avg_yearly") ==
      small.map(_._3).sum / 100.0 / 7.0, "avg_yearly")
    // binding both ways: some brand lineitems qualify, most do not
    assert(small.nonEmpty && small.length < li.length,
      s"gate does not bind: ${small.length}/${li.length}")
  }

  test("q_promo_parts equals the per-leg recompute; the part-side implicate pushes into the part scan") {
    val q = queries.CoreOlap
    def r4c(x: Double): Long =
      BigDecimal(x * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey", "p_brand", "p_size").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val cells = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .collect().flatMap { r =>
        val (brand, size) = parts(r.getLong(0))
        val qty = r.getDouble(1)
        // later legs win, as the plan's otherwise-chain does
        val leg = q.PromoLegs.zipWithIndex.reverse.collectFirst {
          case ((b, szMax, qLo, qHi), i)
            if brand == b && size >= 1 && size <= szMax &&
              qty >= qLo && qty <= qHi => i.toLong
        }
        leg.map(_ -> r4c(r.getDouble(2) * (1.0 - r.getDouble(3))))
      }
    val exp = cells.groupBy(_._1).view.mapValues(v =>
      (v.length.toLong, v.map(_._2).sum / 10000.0)).toMap
    val df = q.qPromoParts(spark, sf)
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == exp, s"got $got\nexp $exp")
    assert(got.keySet == q.PromoLegs.indices.map(_.toLong).toSet,
      "a leg selected nothing at sf0.001")
    // the scale claim: Catalyst derives the part-only implicate of
    // the disjunction and pushes it INTO the part scan node — the
    // brand predicate must sit in the scan's dataFilters, so the
    // join's build side is the qualifying sliver, not the part
    // table. Structural walk (AQE off so the tree is plain), not a
    // plan-string grep: long filter lists truncate in toString under
    // suite orderings and a string pin flakes (seen in-suite r18)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df2 = q.qPromoParts(spark, sf)
      df2.collect()
      val scans = df2.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("part.parquet")) => f
      }
      assert(scans.nonEmpty, "no part scan in the plan")
      assert(scans.exists(_.dataFilters.exists(
        _.references.exists(_.name == "p_brand"))),
        "part-side implicate not pushed into the part scan: " +
          scans.map(_.dataFilters.mkString(", ")).mkString(" | "))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  // ------------------------------------------------------------------
  // r19: the classic-family completion. Each recompute applies the
  // TEXTBOOK form literally (correlated subqueries, EXISTS, NOT IN,
  // scalar MAX) so the decorrelated/semi-join/broadcast plans are
  // what the tests prove equivalent.

  private def r4(x: Double): Long =
    BigDecimal(x * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP)
      .toLong

  test("q_min_acct_supplier equals the LITERAL correlated-MIN recompute; ties kept") {
    val q = queries.CoreOlap
    val natReg = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getInt(2))).toMap
    val regions = spark.read.parquet(s"$sf/region.parquet")
      .select("r_regionkey", "r_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val rs = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal").collect()
      .flatMap { r =>
        val (nm, rk) = natReg(r.getInt(2))
        if (regions(rk) == q.MinAcctRegion)
          Some(r.getLong(0) -> (r.getString(1), nm,
            BigDecimal(r.getDouble(3) * 100)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
        else None
      }.toMap
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey", "p_name", "p_type", "p_size").collect()
      .filter(r => r.getString(2) == q.MinAcctPartType &&
        r.getInt(3) <= q.MinAcctSizeMax)
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val link = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_partkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
      .filter { case (pk, sk) => parts.contains(pk) && rs.contains(sk) }
    // the literal correlated MIN, part by part, with every tied witness
    val exp = link.groupBy(_._1).toSeq.flatMap { case (pk, ls) =>
      val mn = ls.map(l => rs(l._2)._3).min
      ls.filter(l => rs(l._2)._3 == mn).map { case (_, sk) =>
        val (sn, nn, ac) = rs(sk); (ac, sn, nn, pk, parts(pk))
      }
    }.sortBy(t => (-t._1, t._2, t._4))
    val got = q.qMinAcctSupplier(spark, sf).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(got == exp, s"got ${got.take(3)}\nexp ${exp.take(3)}")
    assert(exp.nonEmpty, "the Q2 sliver is empty at sf0.001")
  }

  test("q_order_priority equals the LITERAL EXISTS recompute and never duplicates orders") {
    import org.apache.spark.sql.functions.expr
    val q = queries.CoreOlap
    val returned = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(expr("l_returnflag = 'R'")).select("l_orderkey").collect()
      .map(_.getLong(0)).toSet
    val ords = spark.read.parquet(s"$sf/orders.parquet")
      .filter(expr("o_orderdate >= timestamp'1996-01-01' AND " +
        "o_orderdate < timestamp'1996-07-01'"))
      .select("o_orderkey", "o_orderpriority").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val exp = ords.filter(o => returned(o._1)).groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
    val got = q.qOrderPriority(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exp, s"got $got\nexp $exp")
    // the EXISTS gate binds: some window orders have no returned line
    assert(exp.values.sum < ords.length,
      "every window order has a returned line - the EXISTS is vacuous")
  }

  test("q_revenue_forecast equals the recompute and plans scan-local (no join, one exchange)") {
    import org.apache.spark.sql.functions.expr
    val q = queries.CoreOlap
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(expr("l_shipdate >= timestamp'1996-01-01' AND " +
        "l_shipdate < timestamp'1997-01-01'"))
      .select("l_extendedprice", "l_discount", "l_quantity").collect()
      .filter { r =>
        val dc = BigDecimal(r.getDouble(1) * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        dc >= 5 && dc <= 7 && r.getDouble(2) < 24
      }
    val exp = (rows.length.toLong,
      rows.map(r => r4(r.getDouble(0) * r.getDouble(1))).sum / 10000.0)
    val df = q.qRevenueForecast(spark, sf)
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).head
    assert(got == exp, s"got $got exp $exp")
    // scan-local: no join anywhere in the executed plan
    df.collect()
    val plan = df.queryExecution.executedPlan
    val joins = plan.collect {
      case j if j.nodeName.toLowerCase.contains("join") => j
    }
    assert(joins.isEmpty, s"Q6 grew a join: ${joins.map(_.nodeName)}")
  }

  test("q_market_share equals the recompute; the nation numerator is populated every year") {
    import org.apache.spark.sql.functions.{col, year}
    val q = queries.CoreOlap
    val natName = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getInt(2))).toMap
    val regions = spark.read.parquet(s"$sf/region.parquet")
      .select("r_regionkey", "r_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val supN = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_suppkey", "s_nationkey").collect()
      .map(r => r.getLong(0) -> natName(r.getInt(1))._1).toMap
    val custReg = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getLong(0) -> regions(natName(r.getInt(1))._2)).toMap
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("y")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val promo = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey", "p_type").collect()
      .filter(_.getString(1) == "PROMO").map(_.getLong(0)).toSet
    val cells = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount").collect()
      .flatMap { r =>
        if (!promo(r.getLong(1))) None
        else {
          val (ck, y) = ord(r.getLong(0))
          if (custReg(ck) != q.MktShareRegion) None
          else Some((y, supN(r.getLong(2)),
            r4(r.getDouble(3) * (1.0 - r.getDouble(4)))))
        }
      }
    val exp = cells.groupBy(_._1).toSeq.map { case (y, v) =>
      val tot = v.map(_._3).sum
      val nat = v.filter(_._2 == q.MktShareNation).map(_._3).sum
      (y, tot / 10000.0, nat / 10000.0, 1000L * nat / tot)
    }.sortBy(_._1)
    val got = q.qMarketShare(spark, sf).collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got == exp, s"got $got\nexp $exp")
    assert(exp.forall(_._3 > 0), "a year has an empty nation numerator")
  }

  test("q_nation_profit equals the recompute over the name sliver") {
    import org.apache.spark.sql.functions.{col, year}
    val q = queries.CoreOlap
    val natName = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val supN = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_suppkey", "s_nationkey").collect()
      .map(r => r.getLong(0) -> natName(r.getInt(1))).toMap
    val years = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val blue = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey", "p_name").collect()
      .filter(_.getString(1).startsWith(q.ProfitPartPrefix))
      .map(_.getLong(0)).toSet
    val cells = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount").collect()
      .filter(r => blue(r.getLong(1)))
      .map(r => ((supN(r.getLong(2)), years(r.getLong(0))),
        r4(r.getDouble(3) * (1.0 - r.getDouble(4)))))
    val exp = cells.groupBy(_._1).toSeq.map { case ((n, y), v) =>
      (n, y, v.length.toLong, v.map(_._2).sum / 10000.0)
    }.sortBy(t => (t._1, -t._2))
    val got = q.qNationProfit(spark, sf).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == exp, s"got ${got.take(3)}\nexp ${exp.take(3)}")
  }

  test("q_shipmode_priority equals the recompute; both branches populated in both classes") {
    import org.apache.spark.sql.functions.expr
    val q = queries.CoreOlap
    val prio = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderpriority").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val hi = Set("1-URGENT", "2-HIGH")
    val cells = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(expr("l_shipdate >= timestamp'1997-01-01' AND " +
        "l_shipdate < timestamp'1998-01-01'"))
      .select("l_orderkey", "l_linestatus").collect()
      .map(r => (r.getString(1), hi(prio(r.getLong(0)))))
    val exp = cells.groupBy(_._1).toSeq.map { case (ls, v) =>
      (ls, v.count(_._2).toLong, v.count(!_._2).toLong)
    }.sortBy(_._1)
    val got = q.qShipmodePriority(spark, sf).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == exp, s"got $got\nexp $exp")
    assert(exp.forall(t => t._2 > 0 && t._3 > 0),
      "a priority branch is empty")
  }

  test("q_promo_revenue equals the recompute; every 1996 month present") {
    import org.apache.spark.sql.functions.{col, date_format, expr}
    val q = queries.CoreOlap
    val ptype = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey", "p_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cells = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(expr("l_shipdate >= timestamp'1996-01-01' AND " +
        "l_shipdate < timestamp'1997-01-01'"))
      .select(col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("m"),
        col("l_extendedprice"), col("l_discount"))
      .collect()
      .map { r =>
        (r.getString(1), ptype(r.getLong(0)) == "PROMO",
          r4(r.getDouble(2) * (1.0 - r.getDouble(3))))
      }
    val exp = cells.groupBy(_._1).toSeq.map { case (m, v) =>
      val tot = v.map(_._3).sum
      val promo = v.filter(_._2).map(_._3).sum
      (m, tot / 10000.0, promo / 10000.0, 1000L * promo / tot)
    }.sortBy(_._1)
    val got = q.qPromoRevenue(spark, sf).collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got == exp, s"got ${got.take(3)}\nexp ${exp.take(3)}")
    assert(exp.length == 12, s"expected 12 ship months, got ${exp.length}")
  }

  test("q_top_supplier equals the LITERAL scalar-MAX recompute") {
    import org.apache.spark.sql.functions.expr
    val q = queries.CoreOlap
    val names = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_suppkey", "s_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val revs = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(expr("l_shipdate >= timestamp'1996-01-01' AND " +
        "l_shipdate < timestamp'1996-04-01'"))
      .select("l_suppkey", "l_extendedprice", "l_discount").collect()
      .map(r => r.getLong(0) -> r4(r.getDouble(1) * (1.0 - r.getDouble(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val mx = revs.values.max
    val exp = revs.filter(_._2 == mx).toSeq
      .map { case (sk, rc) => (sk, names(sk), rc / 10000.0) }
      .sortBy(_._1)
    val got = q.qTopSupplier(spark, sf).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == exp, s"got $got\nexp $exp")
  }

  test("q_part_supplier_census equals the LITERAL NOT-IN recompute; the excluded set binds") {
    val q = queries.CoreOlap
    val excl = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_suppkey", "s_acctbal").collect()
      .filter(r => BigDecimal(r.getDouble(1) * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong < q.CensusAcctMaxC100)
      .map(_.getLong(0)).toSet
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey", "p_brand", "p_type", "p_size").collect()
      .filter(r => r.getString(1) != "Brand#1" && r.getString(2) != "PROMO" &&
        q.CensusSizes.contains(r.getInt(3)))
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getInt(3)))
      .toMap
    val link = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_partkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
      .filter { case (pk, sk) => parts.contains(pk) && !excl(sk) }
    val exp = link.groupBy(l => parts(l._1)).toSeq.map { case (k, v) =>
      (k._1, k._2, k._3, v.map(_._2).distinct.length.toLong)
    }.sortBy(t => (-t._4, t._1, t._2, t._3))
    val got = q.qPartSupplierCensus(spark, sf).collect().map(r =>
      (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSeq
    assert(got == exp, s"got ${got.take(3)}\nexp ${exp.take(3)}")
    assert(excl.nonEmpty, "the excluded-supplier sliver is empty")
  }

  test("q_dominant_suppliers equals the recompute; both gates bind") {
    import org.apache.spark.sql.functions.expr
    val q = queries.CoreOlap
    val supp = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_suppkey", "s_name", "s_nationkey").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val nat = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val pq = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(expr("l_shipdate >= timestamp'1996-01-01' AND " +
        "l_shipdate < timestamp'1997-01-01'"))
      .select("l_partkey", "l_suppkey", "l_quantity").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val byPart = pq.groupBy(_._1._1)
    val dominated = pq.toSeq.filter { case ((pk, _), sq) =>
      val grp = byPart(pk)
      grp.size >= 2 && 2 * sq > grp.values.sum
    }
    val exp = dominated.groupBy(_._1._2).toSeq.map { case (sk, v) =>
      val (sn, nk) = supp(sk); (sn, nat(nk), v.length.toLong)
    }.sortBy(t => (-t._3, t._1))
    val got = q.qDominantSuppliers(spark, sf).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == exp, s"got ${got.take(3)}\nexp ${exp.take(3)}")
    assert(exp.nonEmpty, "no dominant suppliers at sf0.001")
    // the multi-supplier gate binds: some dominance pairs were
    // excluded as sole-supplier parts
    val sole = pq.toSeq.count { case ((pk, _), sq) =>
      val grp = byPart(pk); grp.size < 2 && 2 * sq > grp.values.sum
    }
    assert(sole > 0, "the n_supp >= 2 gate is vacuous at sf0.001")
  }

  test("q_distinct_count keeps the NULL l_returnflag group") {
    import org.apache.spark.sql.functions._
    // a copy of lineitem with the flag NULLed on every 7th order
    val dir = java.nio.file.Files.createTempDirectory("graft_nullflag").toString
    Tables.lineitem(spark, sf)
      .withColumn("l_returnflag",
        when(col("l_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("l_returnflag")))
      .write.parquet(s"$dir/lineitem.parquet")
    val li = Tables.lineitem(spark, dir)
    assert(li.filter(col("l_returnflag").isNull).count() > 0)
    val exp = li.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey"), countDistinct("l_partkey"),
        countDistinct("l_suppkey", "l_partkey"), count(lit(1)))
      .collect().toSet
    val got = queries.CoreOlap.qDistinctCount(spark, dir).collect().toSet
    assert(exp.exists(_.isNullAt(0)))
    assert(got == exp)
  }
}
