package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SpatialSpec extends AnyFunSuite with RegistryRows {
  import SparkTestSession._

  test("q_cone_search distances are within the radius") {
    val df = queries.Spatial.qConeSearch(spark, sf)
    assert(df.filter("dist_r6 >= 25.0 OR dist_r6 < 0").count() == 0)
  }

  test("q_radial_profile partitions the cone exactly; spherical areas are sane") {
    val cone = queries.Spatial.qConeSearch(spark, sf).collect()
      .map(_.getAs[Double]("dist_r6"))
    val prof = queries.Spatial.qRadialProfile(spark, sf).collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    // annuli tile the cone: per-bin counts equal a driver-side rebin,
    // and nothing is lost or double-counted
    val want = cone.groupBy(d => math.floor(d / 2.5).toLong).view.mapValues(_.length)
    assert(prof.keySet == want.keys.toSet)
    for ((b, n) <- want) assert(prof(b).getAs[Long]("n") == n.toLong, s"bin $b")
    assert(prof.values.map(_.getAs[Long]("n")).sum == cone.length)
    for (r <- prof.values) {
      val (lo, hi) = (r.getAs[Double]("r_lo"), r.getAs[Double]("r_hi"))
      assert(hi == lo + 2.5)
      // spherical annulus area: positive, and at fixed width GROWS
      // with radius on this side of 90°
      assert(r.getAs[Double]("area_sr") > 0)
      assert(r.getAs[Double]("dens_per_sr") ==
        r.getAs[Long]("n") / r.getAs[Double]("area_sr"))
    }
    val areas = prof.toSeq.sortBy(_._1).map(_._2.getAs[Double]("area_sr"))
    assert(areas.zip(areas.tail).forall { case (a, b) => b > a },
      "annulus areas must grow with radius below 90 degrees")
  }

  test("q_completeness reconciles with the association and its unmatched half") {
    val prof = queries.Spatial.qCompleteness(spark, sf).collect()
    assert(prof.nonEmpty)
    val totDet = prof.map(_.getAs[Long]("n_det")).sum
    val totMatch = prof.map(_.getAs[Long]("n_matched")).sum
    // every detection is in exactly one bin
    assert(totDet == Tables.orders(spark, sf).count())
    // matched + unmatched partition the detections exactly
    val unmatched = queries.Spatial.qXmatchUnmatched(spark, sf).count()
    assert(totMatch == totDet - unmatched,
      s"matched $totMatch + unmatched $unmatched != total $totDet")
    for (r <- prof) {
      assert(r.getAs[Long]("n_matched") <= r.getAs[Long]("n_det"))
      assert(r.getAs[Long]("match_pct") ==
        100 * r.getAs[Long]("n_matched") / r.getAs[Long]("n_det"))
    }
  }

  test("q_completeness plan rides the grid — no cartesian or nested-loop join") {
    val plan = queries.Spatial.qCompleteness(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian product in plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested-loop join in plan")
  }

  test("q_zone_xmatch plan has no cartesian or nested-loop join") {
    val plan = queries.Spatial.qZoneXmatch(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian product in plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested-loop join in plan")
  }

  test("q_zone_xmatch pairs are canonical (k1 < k2) and unique") {
    val df = queries.Spatial.qZoneXmatch(spark, sf)
    assert(df.filter("k1 >= k2").count() == 0)
    assert(df.count() == df.select("k1", "k2").distinct().count())
  }

  test("q_xmatch_2cat plan has no cartesian; pairs unique; every match within radius") {
    val df = queries.Spatial.qXmatch2cat(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian product in plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested-loop join in plan")
    assert(df.count() == df.select("det_k", "obj_k").distinct().count(),
      "duplicate (detection, object) pair — a candidate arose in more than one cell")
    assert(df.filter("dist_r6 >= 1.0 OR dist_r6 < 0").count() == 0)
  }

  test("q_xmatch_2cat matches the brute-force two-catalog join") {
    // in-Spark oracle twin of the DuckDB one: all (det, obj) pairs
    val obj = Tables.customer(spark, sf).selectExpr("c_custkey AS obj_k",
      "(c_custkey*137 % 36000)/100.0 AS ra2", "(c_custkey*97 % 17000)/100.0 - 85.0 AS decl2")
    val det = Tables.orders(spark, sf).selectExpr("o_orderkey AS det_k",
      "(o_orderkey*149 % 36000)/100.0 AS ra1", "(o_orderkey*101 % 17000)/100.0 - 85.0 AS decl1")
    val rad = "0.017453292519943295"
    val deg = "57.29577951308232"
    val brute = det.crossJoin(obj).selectExpr("det_k", "obj_k",
      s"""ROUND(2*ASIN(SQRT(
         |  SIN((decl1 - decl2)*$rad/2) * SIN((decl1 - decl2)*$rad/2)
         |  + COS(decl1*$rad) * COS(decl2*$rad)
         |    * SIN((ra1 - ra2)*$rad/2) * SIN((ra1 - ra2)*$rad/2)))*$deg, 6) AS dist_r6""".stripMargin)
      .filter("dist_r6 < 1.0")
      .select("det_k", "obj_k").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val grid = queries.Spatial.qXmatch2cat(spark, sf)
      .select("det_k", "obj_k").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grid == brute, s"grid ${grid.size} pairs vs brute ${brute.size}")
  }

  test("q_xmatch_unmatched partitions the detections exactly against the matched set") {
    val det = Tables.orders(spark, sf).count()
    val matched = queries.Spatial.qXmatch2cat(spark, sf)
      .select("det_k").distinct().count()
    val unmatched = queries.Spatial.qXmatchUnmatched(spark, sf).count()
    assert(matched + unmatched == det,
      s"$matched matched + $unmatched unmatched != $det detections")
    // disjointness: no detection appears on both sides
    val overlap = queries.Spatial.qXmatchUnmatched(spark, sf)
      .join(queries.Spatial.qXmatch2cat(spark, sf), "det_k").count()
    assert(overlap == 0, "a detection is both matched and unmatched")
  }

  test("q_spatial_density counts sum to the full catalog") {
    val df = queries.Spatial.qSpatialDensity(spark, sf)
    val total = df.agg(sum("n")).head.getLong(0)
    assert(total == Tables.customer(spark, sf).count())
  }

  test("adaptive ra-bucket grid is much finer than the old fixed 12-degree cells") {
    val nrb = queries.Spatial.zoneRaBuckets(1.0, 1.0).toMap
    // equator zone (dec in [-1, 0)): bound ~1.0006 deg -> ~359 buckets
    assert(nrb(89) >= 300, s"equator zone too coarse: ${nrb(89)}")
    // |dec|=85 edge zone: bound = 2*asin(sin(.5deg)/cos(86deg)) ~ 14.3 deg
    assert(nrb(174) >= 20 && nrb(174) <= 30, s"polar zone: ${nrb(174)}")
    // total grid cells: old fixed grid had 30/zone; adaptive must dominate
    val total = nrb.filterKeys(z => z >= 5 && z <= 174).values.map(_.toLong).sum
    assert(total > 170L * 30 * 5, s"grid only $total cells")
    // every zone's bucket width must still cover the worst-case ra drift
    assert(nrb.values.forall(_ >= 1))
  }

  test("cone search over the zone-partitioned catalog prunes partitions and matches the flat scan") {
    val out = java.nio.file.Files.createTempDirectory("graft_zones").toString
    queries.Spatial.writeZonePartitioned(spark, sf, out)
    val zoneDirs = new java.io.File(out).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("zone="))
    assert(zoneDirs > 20, s"expected many zone dirs, got $zoneDirs")

    // AQE wraps finished stages in leaf QueryStage nodes that hide the
    // scan from plan.collect; partition pruning is static anyway, so
    // assert on a non-adaptive plan.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val cone = queries.Spatial.conePartitioned(spark, out, 180.0, 20.0, 25.0)
      // identical answer to the flat-table cone search
      val flat = queries.Spatial.qConeSearch(spark, sf)
        .select("k").collect().map(_.getLong(0)).toSet
      val part = cone.select("k").collect().map(_.getLong(0)).toSet
      assert(part == flat, s"partitioned cone differs: ${(part diff flat) ++ (flat diff part)}")

      // the scan must carry a partition filter on zone and read only the
      // cone's dec stripes ([-5, 45] -> zones 17..27, 11 of ~34 dirs)
      cone.collect() // execute so the scan metrics are final
      val scans = cone.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
        "no PartitionFilters on the zone-partitioned scan")
      val planStr = scans.head.toString
      assert(planStr.contains("PartitionFilters"), "PartitionFilters missing from plan")
      val numFiles = scans.head.metrics("numFiles").value
      val totalFiles = new java.io.File(out).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("zone="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet")).toLong).sum
      assert(numFiles > 0 && numFiles < totalFiles,
        s"scan read $numFiles of $totalFiles files - no pruning")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("two-level (zone, rb) layout prunes BOTH keys and reads fewer files than dec-only") {
    // denser catalog (1500 points) + a multi-task ingest (8 writer
    // tasks, same for both layouts): production tables always have
    // many files per partition dir — every ingest task writes one per
    // dir it touches — and the file-count win of ra-cell pruning only
    // becomes visible when dirs hold >1 file.
    val sfd = "/root/testdata/sf0.01"
    val outZ = java.nio.file.Files.createTempDirectory("graft_zonly").toString
    val outZR = java.nio.file.Files.createTempDirectory("graft_zra").toString
    queries.Spatial.writeZonePartitioned(spark, sfd, outZ, ingestTasks = 8)
    queries.Spatial.writeZoneRaPartitioned(spark, sfd, outZR, ingestTasks = 8)
    val (raC, decC, r) = (137.0, 14.0, 2.0) // k=100's locus position: non-empty cone
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val flat = queries.Spatial.points(spark, sfd)
        .withColumn("dist_r6", round(
          queries.Spatial.distDeg(col("ra"), col("decl"), lit(raC), lit(decC)), 6))
        .filter(s"dist_r6 < $r").select("k").collect().map(_.getLong(0)).toSet
      assert(flat.nonEmpty, "degenerate fixture: empty cone")
      def scanOf(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.head
      }
      val cone2 = queries.Spatial.coneZoneRaPartitioned(spark, outZR, raC, decC, r)
      assert(cone2.select("k").collect().map(_.getLong(0)).toSet == flat,
        "two-level cone differs from the flat scan")
      val s2 = scanOf(cone2)
      // BOTH partition columns participate in the pruning predicate
      val pf = s2.partitionFilters.map(_.toString).mkString(";")
      assert(pf.contains("zone") && pf.contains("rb"),
        s"expected zone AND rb in PartitionFilters, got: $pf")
      val s1 = scanOf(queries.Spatial.conePartitioned(spark, outZ, raC, decC, r))
      assert(s1.metrics("numOutputRows").value > s2.metrics("numOutputRows").value,
        "ra-cell pruning did not reduce rows scanned")
      val (f1, f2) = (s1.metrics("numFiles").value, s2.metrics("numFiles").value)
      assert(f2 > 0 && f2 < f1,
        s"two-level read $f2 files, dec-only read $f1 - expected strict reduction")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q_two_point_sampled: pair counts shrink together; bins match brute force over the md5-sampled catalogs") {
    val out = queries.Spatial.qTwoPointSampled(spark, sf).collect()
    assert(out.length == queries.Spatial.TpcBins)
    val full = queries.Spatial.qTwoPointCorr(spark, sf).collect()
    // sampling composes upstream: every bin's DD/DR/RR is a subset count
    for ((sRow, fRow) <- out.zip(full); c <- Seq(2, 3, 4))
      assert(sRow.getLong(c) <= fRow.getLong(c),
        s"bin ${sRow.getInt(0)} col $c grew under sampling")
    assert(out.map(_.getLong(2)).sum < full.map(_.getLong(2)).sum,
      "sampling did not shrink DD")
    // brute-force the sampled DD bins driver-side with the same predicate
    val md = java.security.MessageDigest.getInstance("MD5")
    def keep(k: Long): Boolean = {
      val h = md.digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      h.charAt(0) < queries.Spatial.TpcSampleHex.charAt(0)
    }
    val pts = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0)).filter(keep)
      .map(k => (k, (k * 137 % 36000) / 100.0, (k * 97 % 17000) / 100.0 - 85.0))
    def hav(a: (Long, Double, Double), b: (Long, Double, Double)): Double = {
      val (r1, d1, r2, d2) = (math.toRadians(a._2), math.toRadians(a._3),
        math.toRadians(b._2), math.toRadians(b._3))
      val s1 = math.sin((d1 - d2) / 2); val s2 = math.sin((r1 - r2) / 2)
      val x = s1 * s1 + math.cos(d1) * math.cos(d2) * s2 * s2
      BigDecimal(math.toDegrees(2 * math.asin(math.sqrt(x))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ddBrute = (for {
      i <- pts.indices; j <- (i + 1) until pts.length
      d = hav(pts(i), pts(j)) if d < queries.Spatial.TpcThetaMax
    } yield math.floor(d * 4).toInt)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (row <- out)
      assert(row.getLong(2) == ddBrute.getOrElse(row.getInt(0), 0L),
        s"sampled DD mismatch in bin ${row.getInt(0)}")
  }

  test("polygon and ellipse searches prune zone partitions and match the flat scan; results lie inside the region") {
    // brute-force membership cross-check: every returned point passes
    // the same predicate re-derived driver-side, every omitted one fails
    val pts = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
      .map(k => (k, (k * 137 % 36000) / 100.0, (k * 97 % 17000) / 100.0 - 85.0))
    val vs = queries.Spatial.PolyVerts
    def inPoly(ra: Double, decl: Double): Boolean =
      vs.indices.forall { i =>
        val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.size)
        (x2 - x1) * (decl - y1) - (y2 - y1) * (ra - x1) >= 0
      }
    val wantPoly = pts.filter(p => inPoly(p._2, p._3)).map(_._1).toSet
    assert(wantPoly.nonEmpty, "degenerate test polygon: no points inside")
    val gotPoly = queries.Spatial.qPolySearch(spark, sf)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(gotPoly == wantPoly, "polygon membership mismatch vs brute force")

    val out = java.nio.file.Files.createTempDirectory("graft_polyzones").toString
    queries.Spatial.writeZonePartitioned(spark, sf, out)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for ((name, part, flat) <- Seq(
        ("poly", queries.Spatial.polyPartitioned(spark, out),
          queries.Spatial.qPolySearch(spark, sf)),
        ("ellipse", queries.Spatial.ellipsePartitioned(spark, out),
          queries.Spatial.qEllipseSearch(spark, sf)))) {
        assert(part.select("k").collect().map(_.getLong(0)).toSet ==
          flat.select("k").collect().map(_.getLong(0)).toSet,
          s"partitioned $name differs from the flat scan")
        part.collect()
        val scans = part.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
          s"no PartitionFilters on the zone-partitioned $name scan")
        val numFiles = scans.head.metrics("numFiles").value
        val totalFiles = new java.io.File(out).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("zone="))
          .map(_.listFiles().count(_.getName.endsWith(".parquet")).toLong).sum
        assert(numFiles > 0 && numFiles < totalFiles,
          s"$name scan read $numFiles of $totalFiles files - no pruning")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // ellipse results honor the membership metric
    val m = queries.Spatial.qEllipseSearch(spark, sf)
    assert(m.filter("m_r6 >= 1.0 OR m_r6 < 0").count() == 0)
  }

  test("q_nearest_nbr: one row per matched point, no product join, true argmin") {
    import org.apache.spark.sql.functions._
    val df = queries.Spatial.qNearestNbr(spark, sf).cache()
    // one nearest neighbor per point
    assert(df.groupBy("k1").count().filter(col("count") > 1).count() == 0)
    // the reported neighbor's distance can never beat another candidate:
    // cross-check against the full xmatch pair list (symmetric closure)
    val pairs = queries.Spatial.qZoneXmatch(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val best = (pairs ++ pairs.map(t => (t._2, t._1, t._3)))
      .groupBy(_._1).map { case (k, ps) =>
        val md = ps.map(_._3).min
        k -> (md, ps.filter(_._3 == md).map(_._2).min)
      }
    val got = df.collect().map(r => (r.getLong(0), (r.getDouble(2), r.getLong(1)))).toMap
    assert(got == best, s"argmin mismatch: ${(best.toSet diff got.toSet).take(3)}")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "nearest-nbr planned a product")
    df.unpersist()
  }

  test("q_knn3 is planned onto the bounded-heap TopK operator and ranks correctly") {
    import org.apache.spark.sql.functions._
    val df = queries.Spatial.qKnn3(spark, sf)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // with GraftExtensions the idiom becomes FinalTopK (verified in
    // TopKPerKeySpec); this shared session runs without the extension,
    // where Spark's own WindowGroupLimit must still bound the heap
    assert(plan.contains("FinalTopK") || plan.contains("WindowGroupLimit"),
      s"top-3 idiom planned as an unbounded per-group sort:\n$plan")
    // per point: at most 3 neighbors, ranks dense from 1, distances
    // non-decreasing with rank
    val byK = rows
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
      .groupBy(_._1).values
    assert(byK.forall(_.length <= 3))
    assert(byK.forall(g => g.map(_._2).sorted.toSeq == (1 to g.length).toSeq))
    assert(byK.forall(g => g.sortBy(_._2).sliding(2).forall(
      w => w.length < 2 || w(0)._3 <= w(1)._3)))
  }

  test("q_fof_groups matches brute-force connected components; no cartesian in plan") {
    val df = queries.Spatial.qFofGroups(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "FoF pair graph planned a product")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // brute-force in-Spark oracle: all within-link pairs, then
    // union-find on the driver (the candidate sets are tiny at sf0.001)
    val pts = Tables.customer(spark, sf).selectExpr("c_custkey AS k",
      "(c_custkey*137 % 36000)/100.0 AS ra", "(c_custkey*97 % 17000)/100.0 - 85.0 AS decl")
    val rad = "0.017453292519943295"
    val deg = "57.29577951308232"
    val a = pts.selectExpr("k AS k1", "ra AS ra1", "decl AS decl1")
    val pairs = a.crossJoin(pts).selectExpr("k1", "k AS k2",
      s"""ROUND(2*ASIN(SQRT(
         |  SIN((decl1 - decl)*$rad/2) * SIN((decl1 - decl)*$rad/2)
         |  + COS(decl1*$rad) * COS(decl*$rad)
         |    * SIN((ra1 - ra)*$rad/2) * SIN((ra1 - ra)*$rad/2)))*$deg, 6) AS d""".stripMargin)
      .filter(s"k1 < k2 AND d < ${queries.Spatial.fofLinkDeg(pts.count())}")
      .select("k1", "k2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((x, y) <- pairs) { val (rx, ry) = (find(x), find(y));
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry) }
    val exp = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .groupBy(find).map { case (root, ms) => (root, ms.length.toLong) }
    assert(got == exp, s"FoF groups mismatch: got $got expected $exp")
  }

  test("q_two_point_corr: bin counts match brute force; estimator is the exact LS ratio") {
    import org.apache.spark.sql.functions._
    val out = queries.Spatial.qTwoPointCorr(spark, sf).collect()
    assert(out.length == queries.Spatial.TpcBins)
    // brute-force both catalogs at sf0.001 (150 points): every pair
    // binned the same way the query bins them
    def pts(m1: Int, m2: Int) = Tables.customer(spark, sf).selectExpr("c_custkey AS k",
      s"(c_custkey*$m1 % 36000)/100.0 AS ra", s"(c_custkey*$m2 % 17000)/100.0 - 85.0 AS decl")
    val rad = "0.017453292519943295"; val deg = "57.29577951308232"
    def dist(a: String, b: String) =
      s"""ROUND(2*ASIN(SQRT(SIN((decl$a - decl$b)*$rad/2)*SIN((decl$a - decl$b)*$rad/2)
         | + COS(decl$a*$rad)*COS(decl$b*$rad)*SIN((ra$a - ra$b)*$rad/2)*SIN((ra$a - ra$b)*$rad/2)))*$deg, 6)""".stripMargin
    def brute(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame, half: Boolean) = {
      val xx = x.selectExpr("k AS k1", "ra AS ra1", "decl AS decl1")
      val yy = y.selectExpr("k AS k2", "ra AS ra2", "decl AS decl2")
      xx.crossJoin(yy).selectExpr("k1", "k2", s"${dist("1", "2")} AS d")
        .filter(s"d < ${queries.Spatial.TpcThetaMax}" + (if (half) " AND k1 < k2" else ""))
        .selectExpr("CAST(FLOOR(d*4) AS INT) AS bin").groupBy("bin").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    val d = pts(137, 97); val r = pts(149, 103)
    val (ddB, drB, rrB) = (brute(d, d, half = true), brute(d, r, half = false), brute(r, r, half = true))
    val n = d.count()
    for (row <- out) {
      val b = row.getInt(0)
      assert(row.getLong(2) == ddB.getOrElse(b, 0L), s"dd bin $b")
      assert(row.getLong(3) == drB.getOrElse(b, 0L), s"dr bin $b")
      assert(row.getLong(4) == rrB.getOrElse(b, 0L), s"rr bin $b")
      // the estimator columns are exactly the integer LS reduction
      assert(row.getLong(5) == row.getLong(2)*n - row.getLong(3)*(n-1) + row.getLong(4)*n)
      assert(row.getLong(6) == row.getLong(4)*n)
      if (row.getLong(6) > 0)
        assert(row.getDouble(7) == row.getLong(5).toDouble / row.getLong(6))
    }
    assert(out.map(_.getLong(2)).sum > 0, "no DD pairs at all — theta bins vacuous")
  }

  // --- chunk-overlap halo layout + stored nightly association -----

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("halo layout: one core copy per point, bounded replication, self-match shuffle-free and equal to the flat grid xmatch") {
    val pts = queries.Spatial.points(spark, sf)
    val halo = queries.Spatial.withHaloCells(pts, 1.0, 5.0).localCheckpoint()
    val n = pts.count()
    assert(halo.filter("is_core = 1").count() == n,
      "every point must have exactly one core copy")
    assert(halo.groupBy("k", "cell").count().filter("count > 1").count() == 0,
      "at most one replica of a point per cell")
    // chunk >> overlap regime: a 1-degree halo on 5-degree cells means
    // <= 2 zones x <= 2 ra-cells per point, never a 3x3 blowup
    assert(halo.count() <= 4 * n, s"replication ${halo.count()} vs $n points")

    queries.Spatial.writeXmatchHalo(pts, "halo_self_t", 1.0, 5.0, 4)
    val stored = spark.table("halo_self_t")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // pin the both-sides-big shape: no broadcast fallback, plan
      // asserted non-adaptively (the CoreOlapSpec pruning approach)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val m = queries.Spatial
        .xmatchStored(stored.filter("is_core = 1"), stored, 1.0)
        .filter("k1 < k2")
      val plan = m.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"halo cross-match must not shuffle either bucketed side:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"), s"product join in:\n$plan")
      assert(pairSet(m) == pairSet(queries.Spatial.qZoneXmatch(spark, sf)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("two stored catalogs cross-match shuffle-free and equal the flat two-catalog grid join") {
    val dets = queries.Spatial.detections(spark, sf)
      .selectExpr("det_k AS k", "ra", "decl")
    queries.Spatial.writeXmatchProbe(dets, "probe_det_t", 5.0, 4)
    queries.Spatial.writeXmatchHalo(queries.Spatial.points(spark, sf),
      "halo_obj_t", 1.0, 5.0, 4)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val m = queries.Spatial.xmatchStored(
        spark.table("probe_det_t"), spark.table("halo_obj_t"), 1.0)
      val plan = m.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"stored-to-stored association must be cell-local:\n$plan")
      assert(pairSet(m) == pairSet(queries.Spatial.qXmatch2cat(spark, sf)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("stored association: batches reproduce the batch cross-match; replay and empty batches append nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_assoc").toString
    val matchPath = s"$dir/matches"
    queries.Spatial.writeXmatchHalo(queries.Spatial.points(spark, sf),
      "halo_assoc_t", 1.0, 5.0, 4)
    val objHalo = spark.table("halo_assoc_t")
    val dets = queries.Spatial.detections(spark, sf)
      .selectExpr("det_k AS k", "ra", "decl")
    val n0 = queries.Spatial.associateNewDetections(spark,
      dets.filter("k % 2 = 0"), objHalo, matchPath, 0L, 1.0)
    val n1 = queries.Spatial.associateNewDetections(spark,
      dets.filter("k % 2 = 1"), objHalo, matchPath, 1L, 1.0)
    assert(n0 + n1 > 0, "no matches at all — association vacuous")
    val stored = queries.Spatial.MatchStore.read(spark, matchPath)
    assert(stored.count() == n0 + n1)
    // the union of the nightly appends IS the flat association
    assert(pairSet(stored.select("det_k", "obj_k", "dist_r6")) ==
      pairSet(queries.Spatial.qXmatch2cat(spark, sf)))
    // batches land in prunable batch_id partitions of the declared type
    assert(stored.filter("batch_id = 0").count() == n0)
    // replaying a committed batch is a no-op, not a double-association
    assert(queries.Spatial.associateNewDetections(spark,
      dets.filter("k % 2 = 1"), objHalo, matchPath, 1L, 1.0) == 0L)
    assert(queries.Spatial.MatchStore.read(spark, matchPath).count() == n0 + n1)
    // an all-quiet night (zero detections) appends nothing and leaves
    // the table readable
    assert(queries.Spatial.associateNewDetections(spark,
      dets.filter("k < 0"), objHalo, matchPath, 2L, 1.0) == 0L)
    assert(queries.Spatial.MatchStore.read(spark, matchPath).count() == n0 + n1)
  }

  test("object creation closes the nightly cycle: transients become matchable; replay creates nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_objcreate")
    val matchPath = s"$base/matches"
    val transientPath = s"$base/transients"
    val deltaPath = s"$base/obj_delta"
    val IdOffset = 1000000L
    queries.Spatial.writeXmatchHalo(queries.Spatial.points(spark, sf),
      "halo_cycle_t", 1.0, 5.0, 4)
    val objHalo = spark.table("halo_cycle_t")
    val dets = queries.Spatial.detections(spark, sf)
      .select("det_k", "ra", "decl")
    val (_, nTrans) = queries.Spatial.associateBatch(spark, dets, objHalo,
      matchPath, transientPath, 0L, 1.0)
    assert(nTrans > 0, "fixture needs transients for the cycle to be non-vacuous")
    val created = queries.Spatial.createObjectsFromTransients(spark,
      transientPath, 0L, deltaPath, IdOffset, 1.0)
    assert(created == nTrans, "every transient must become exactly one object")
    // replay creates nothing (staged-append replay guard on batch_id)
    assert(queries.Spatial.createObjectsFromTransients(spark,
      transientPath, 0L, deltaPath, IdOffset, 1.0) == 0L)
    assert(queries.Spatial.ObjDeltaStore.read(spark, deltaPath)
      .filter("is_core = 1").count() == nTrans)
    // re-probing the SAME detections against base ∪ delta leaves
    // nothing unmatched: the delta closed the catalog
    val probe = queries.Spatial.withHomeCell(
      dets.selectExpr("det_k AS k", "ra", "decl"), 5.0)
    val mBase = queries.Spatial.xmatchStored(probe, objHalo, 1.0)
    val mDelta = queries.Spatial.xmatchStored(probe,
      queries.Spatial.ObjDeltaStore.read(spark, deltaPath), 1.0)
    val matched = mBase.select("k1").union(mDelta.select("k1"))
      .distinct().count()
    assert(matched == dets.count(),
      s"base+delta matched $matched of ${dets.count()} detections")
    // and each transient matches its own new object at distance zero
    assert(mDelta.filter(col("k2") === col("k1") + IdOffset &&
      col("dist_r6") === 0.0).count() == nTrans)

    // --- compaction: fold the delta into the base ---
    val before = pairSet(mBase.select("k1", "k2", "dist_r6")) ++
      pairSet(mDelta.select("k1", "k2", "dist_r6"))
    val nPts = queries.Spatial.points(spark, sf).count()
    // simulate a crashed predecessor's STALE stage (complete, but its
    // delta-state stamp no longer matches): compaction must rebuild
    // from base ∪ delta, never restore the stale snapshot
    val stagePath = s"$deltaPath" + "_compact_stage"
    queries.Spatial.points(spark, sf).select("k", "ra", "decl").limit(1)
      .write.parquet(stagePath)
    val stateP = new org.apache.hadoop.fs.Path(stagePath, "_DELTA_STATE")
    val fsys2 = stateP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fsys2.create(stateP, true)
    try out.write("batch_id=999".getBytes("UTF-8")) finally out.close()
    val compacted = queries.Spatial.compactHaloDelta(spark, "halo_cycle_t",
      deltaPath, 1.0, 5.0, 4)
    assert(compacted == nPts + nTrans,
      s"compacted $compacted objects, expected ${nPts + nTrans}")
    assert(!graft.sources.Catalog.tableExists(spark, deltaPath),
      "compaction must drop the folded delta")
    // base-only association now equals the previous base ∪ delta
    val after = queries.Spatial.xmatchStored(probe,
      spark.table("halo_cycle_t"), 1.0)
    assert(pairSet(after.select("k1", "k2", "dist_r6")) == before)
    // idempotent: a re-run with no delta rebuilds the same base
    assert(queries.Spatial.compactHaloDelta(spark, "halo_cycle_t",
      deltaPath, 1.0, 5.0, 4) == compacted)
  }

  test("halo geometry contract: a wider probe THROWS instead of silently losing pairs") {
    queries.Spatial.writeXmatchHalo(queries.Spatial.points(spark, sf),
      "halo_contract_t", 1.0, 5.0, 4)
    // within the written radius: reads fine
    assert(queries.Spatial.haloTableFor(spark, "halo_contract_t", 1.0)
      .count() > 0)
    assert(queries.Spatial.haloTableFor(spark, "halo_contract_t", 0.5)
      .count() > 0)
    // wider than written: replicas don't cover it — must refuse
    val e = intercept[IllegalArgumentException] {
      queries.Spatial.haloTableFor(spark, "halo_contract_t", 1.5)
    }
    assert(e.getMessage.contains("halo radius"))
    // a table without the geometry properties is not a verifiable
    // layout — must also refuse rather than guess
    import spark.implicits._
    Seq((1L, 0.0, 0.0, 1, 0L)).toDF("k", "ra", "decl", "is_core", "cell")
      .write.mode("overwrite").saveAsTable("halo_noprops_t")
    intercept[IllegalArgumentException] {
      queries.Spatial.haloTableFor(spark, "halo_noprops_t", 0.1)
    }
  }

  test("q_xmatch_reprocess: both stored sides join with zero hash exchange and match the brute force") {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val m = queries.Spatial.qXmatchReprocess(spark, sf)
      // the only exchange allowed is the final presentation sort's
      // range partitioning — the archive × catalog join itself moves
      // neither at-rest side
      val plan = m.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"reprocess must not shuffle either stored side:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"), s"product join in:\n$plan")
      // content: the full detection×object association, brute-force
      val expected = pairSet(queries.Spatial.qXmatch2cat(spark, sf))
      assert(pairSet(m.selectExpr("det_k AS k1", "obj_k AS k2", "dist_r6"))
        == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("q_assoc_delta: base∪delta read associates every detection; delta side broadcasts") {
    val df = queries.Spatial.qAssocDelta(spark, sf)
    // the delta sliver must ride as a broadcast, never a shuffle of
    // the probe side (the two-join LSM read shape)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"delta probe should broadcast the delta sliver:\n$plan")
    val rows = df.collect()
    val totals = queries.Spatial.detections(spark, sf)
      .groupBy(expr("det_k % 3").as("batch_id"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Long]("batch_id") -> r.getAs[Long]("n")).toMap
    assert(rows.nonEmpty)
    for (r <- rows) {
      val b = r.getAs[Long]("batch_id")
      // after object creation every detection associates to SOMETHING
      // (its own transient-born object at worst)
      assert(r.getAs[Long]("n_assoc_dets") == totals(b),
        s"batch $b: not every detection associated")
      assert(r.getAs[Double]("min_dist_r6") == 0.0,
        s"batch $b: transient self-matches should pin min dist to 0")
    }
    // the new-object pairs include at least one per transient
    val nTrans = queries.Spatial.qTransientRate(spark, sf)
      .agg(sum("n_transient")).head().getLong(0)
    assert(nTrans > 0, "fixture needs transients for a non-vacuous delta")
    assert(rows.map(_.getAs[Long]("n_new_obj_pairs")).sum >= nTrans)
  }

  test("q_forced_phot equals the driver-side rollup of the brute-force association") {
    // recompute per-object photometry from the flat two-catalog match
    // (itself brute-force-verified) joined to the detections' flux
    val flux = queries.Spatial.detections(spark, sf)
      .select("det_k", "flux_c100").collect()
      .map(r => r.getAs[Long]("det_k") -> r.getAs[Long]("flux_c100")).toMap
    val pairs = queries.Spatial.qXmatch2cat(spark, sf).collect()
      .map(r => (r.getAs[Long]("det_k"), r.getAs[Long]("obj_k")))
    val expected = pairs.groupBy(_._2).map { case (obj, ps) =>
      val fs = ps.map(p => flux(p._1))
      val nights = ps.map(_._1 % 3).distinct.size
      obj -> (ps.size.toLong, nights.toLong, fs.min, fs.max, fs.sum)
    }
    val got = queries.Spatial.qForcedPhot(spark, sf).collect()
      .map(r => r.getAs[Long]("obj_k") ->
        (r.getAs[Long]("n_epochs"), r.getAs[Long]("n_nights"),
          r.getAs[Long]("flux_min_c100"), r.getAs[Long]("flux_max_c100"),
          r.getAs[Long]("flux_sum_c100"))).toMap
    assert(got == expected)
    // multi-epoch objects exist, else the rollup is trivially per-pair
    assert(got.values.exists(_._1 > 1L))
  }

  test("probe geometry contract: a desynchronized cell grid THROWS instead of silently losing pairs") {
    val dets = queries.Spatial.detections(spark, sf)
      .selectExpr("det_k AS k", "ra", "decl")
    queries.Spatial.writeXmatchProbe(dets, "probe_geom_t", 2.5, 4)
    // matching geometry: reads fine
    assert(queries.Spatial.probeTableFor(spark, "probe_geom_t", 2.5, 4)
      .count() > 0)
    // a probe celled under a different zone grid (or bucketed
    // differently) equi-joins almost nothing — must refuse, not lose
    intercept[IllegalArgumentException] {
      queries.Spatial.probeTableFor(spark, "probe_geom_t", 5.0, 4)
    }
    intercept[IllegalArgumentException] {
      queries.Spatial.probeTableFor(spark, "probe_geom_t", 2.5, 8)
    }
    // a table without the geometry properties is not a verifiable
    // archive — refuse rather than guess
    import spark.implicits._
    Seq((1L, 0.0, 0.0, 0L)).toDF("k", "ra", "decl", "cell")
      .write.mode("overwrite").saveAsTable("probe_noprops_t")
    intercept[IllegalArgumentException] {
      queries.Spatial.probeTableFor(spark, "probe_noprops_t", 5.0, 4)
    }
  }

  test("orphaned-location reclaim needs ownership evidence: marker or graft_ prefix clears, foreign data throws") {
    import org.apache.hadoop.fs.Path
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val f = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // graft's own writers drop the marker at commit, so a fresh JVM
    // can prove ownership of a CALLER-NAMED table's leftover location
    queries.Spatial.writeXmatchHalo(queries.Spatial.points(spark, sf),
      "halo_owned_t", 1.0, 5.0, 4)
    assert(f.exists(new Path(new Path(wh, "halo_owned_t"), "_GRAFT_OWNED")))
    // simulated fresh-JVM orphan (no catalog entry) WITH the marker:
    // reclaimed, so the lifecycle can recreate the table
    val marked = new Path(wh, "orphan_marked_t")
    f.mkdirs(marked)
    f.create(new Path(marked, "part-0000.parquet"), true).close()
    f.create(new Path(marked, "_GRAFT_OWNED"), true).close()
    queries.Spatial.clearOrphanedTableLocation(spark, "orphan_marked_t")
    assert(!f.exists(marked))
    // graft_-prefixed names stay reclaimable without a marker
    val pref = new Path(wh, "graft_orphan_pref_t")
    f.mkdirs(pref)
    f.create(new Path(pref, "part-0000.parquet"), true).close()
    queries.Spatial.clearOrphanedTableLocation(spark, "graft_orphan_pref_t")
    assert(!f.exists(pref))
    // a marker-less directory WITH data could be a foreign table at a
    // colliding name: LOUD refusal (r13 review: the silent no-op
    // re-introduced the recovery wedge), and the data survives
    val foreign = new Path(wh, "orphan_foreign_t")
    f.mkdirs(foreign)
    f.create(new Path(foreign, "data.parquet"), true).close()
    val e = intercept[IllegalStateException] {
      queries.Spatial.clearOrphanedTableLocation(spark, "orphan_foreign_t")
    }
    assert(e.getMessage.contains("ownership evidence"))
    assert(f.exists(new Path(foreign, "data.parquet")))
    f.delete(foreign, true)
  }

  test("q_crowding equals the brute-force neighbor-count histogram, zero bucket included") {
    val pts = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
      .map(k => (k, (k * 137 % 36000) / 100.0, (k * 97 % 17000) / 100.0 - 85.0))
    def hav(a: (Long, Double, Double), b: (Long, Double, Double)): Double = {
      val (r1, d1, r2, d2) = (math.toRadians(a._2), math.toRadians(a._3),
        math.toRadians(b._2), math.toRadians(b._3))
      val s1 = math.sin((d1 - d2) / 2); val s2 = math.sin((r1 - r2) / 2)
      val x = s1 * s1 + math.cos(d1) * math.cos(d2) * s2 * s2
      BigDecimal(math.toDegrees(2 * math.asin(math.sqrt(x))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val nn = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for (i <- pts.indices; j <- (i + 1) until pts.length
         if hav(pts(i), pts(j)) < 1.0) {
      nn(pts(i)._1) += 1; nn(pts(j)._1) += 1
    }
    val hist = pts.map(p => nn(p._1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = pts.length.toLong
    val got = queries.Spatial.qCrowding(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSet == hist.keySet)
    // a real census needs BOTH isolated objects and a crowded tail
    assert(hist.contains(0L) && hist.keySet.exists(_ >= 2L))
    for (r <- got) {
      val k = r.getLong(0)
      assert(r.getAs[Long]("n_objects") == hist(k), s"bucket $k")
      assert(r.getAs[Long]("n_total") == total)
      assert(r.getAs[Long]("obj_milli") == hist(k) * 1000 / total)
    }
  }

  test("q_cone_search_many matches per-probe brute force and keeps zero-match probes") {
    val pts = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
      .map(k => (k, (k * 137 % 36000) / 100.0, (k * 97 % 17000) / 100.0 - 85.0))
    def hav(ra1: Double, d1: Double, ra2: Double, d2: Double): Double = {
      val (a, b, c, d) = (math.toRadians(ra1), math.toRadians(d1),
        math.toRadians(ra2), math.toRadians(d2))
      val s1 = math.sin((b - d) / 2); val s2 = math.sin((a - c) / 2)
      val x = s1 * s1 + math.cos(b) * math.cos(d) * s2 * s2
      BigDecimal(math.toDegrees(2 * math.asin(math.sqrt(x))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = queries.Spatial.qConeSearchMany(spark, sf).collect()
      .map(r => r.getAs[Long]("probe_id") -> r).toMap
    assert(got.keySet == queries.Spatial.ConeProbes.map(_._1).toSet)
    for ((pid, ra0, dec0, rad) <- queries.Spatial.ConeProbes) {
      val hits = pts.map { case (k, ra, de) => (k, hav(ra, de, ra0, dec0)) }
        .filter(_._2 < rad)
      val r = got(pid)
      assert(r.getAs[Long]("n_matches") == hits.length.toLong, s"probe $pid")
      if (hits.isEmpty) {
        assert(r.isNullAt(r.fieldIndex("min_dist_r6")), s"probe $pid")
        assert(r.getAs[String]("ids_sig") == "", s"probe $pid")
      } else {
        assert(r.getAs[Double]("min_dist_r6") == hits.map(_._2).min,
          s"probe $pid")
        // the salted two-level digest: per-salt md5 of the ascending
        // sub-stream, outer md5 of the salt digests in salt order
        val expectedSig = md5hex(
          hits.map(_._1).groupBy(_ % queries.Spatial.ConeSigSalts)
            .toSeq.sortBy(_._1)
            .map { case (_, ks) => md5hex(ks.sorted.mkString(",")) }
            .mkString(","))
        assert(r.getAs[String]("ids_sig") == expectedSig, s"probe $pid")
      }
    }
    // the declination floor guarantees the zero-match path is live
    assert(got(5L).getAs[Long]("n_matches") == 0L)
    // the dense probe (30° cone) needs sf0.01's density (the 150-point
    // sf0.001 pattern never enters its ra window — it doubles as a
    // second zero-match probe there): every salt bucket populated, so
    // each per-group id buffer holds ~1/16th of the cone — the
    // bounded-state property the two-level digest buys
    val sfd = "/root/testdata/sf0.01"
    val pts01 = spark.read.parquet(s"$sfd/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
      .map(k => (k, (k * 137 % 36000) / 100.0, (k * 97 % 17000) / 100.0 - 85.0))
    val denseHits = pts01.map { case (k, ra, de) =>
      (k, hav(ra, de, 200.0, 0.0)) }.filter(_._2 < 30.0).map(_._1)
    assert(denseHits.map(_ % queries.Spatial.ConeSigSalts).distinct.size ==
      queries.Spatial.ConeSigSalts.toInt,
      "dense probe must populate every salt bucket at sf0.01")
    val got01 = queries.Spatial.qConeSearchMany(spark, sfd).collect()
      .map(r => r.getAs[Long]("probe_id") -> r).toMap
    assert(got01(6L).getAs[Long]("n_matches") == denseHits.length.toLong)
    assert(got01(6L).getAs[String]("ids_sig") == md5hex(
      denseHits.groupBy(_ % queries.Spatial.ConeSigSalts).toSeq.sortBy(_._1)
        .map { case (_, ks) => md5hex(ks.sorted.mkString(",")) }
        .mkString(",")), "dense-probe salted digest")
  }

  test("q_cone_search_many plan: one catalog scan, broadcast probes, one hash shuffle") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = queries.Spatial.qConeSearchMany(spark, sf)
        .queryExecution.executedPlan
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.size == 1,
        s"k probes must share ONE catalog scan, got ${scans.size}")
      val hashShuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
      }
      // two hash shuffles: the (probe, salt) aggregate over match
      // rows, then the outer digest fold over the ≤ probes×salts
      // per-salt frame (tiny by construction) — the salted signature's
      // documented cost of bounding per-group aggregation state
      assert(hashShuffles.size == 2,
        s"the (probe, salt) aggregate + the tiny outer digest fold, got ${hashShuffles.size}")
      assert(plan.toString.contains("BroadcastExchange"),
        "the probe list must broadcast, never shuffle the scan side")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q_tracklets equals the brute-force consecutive-night pair census") {
    def hav(ra1: Double, d1: Double, ra2: Double, d2: Double): Double = {
      val (a, b, c, d) = (math.toRadians(ra1), math.toRadians(d1),
        math.toRadians(ra2), math.toRadians(d2))
      val s1 = math.sin((b - d) / 2); val s2 = math.sin((a - c) / 2)
      val x = s1 * s1 + math.cos(b) * math.cos(d) * s2 * s2
      BigDecimal(math.toDegrees(2 * math.asin(math.sqrt(x))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val objs = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
      .map(k => ((k * 137 % 36000) / 100.0, (k * 97 % 17000) / 100.0 - 85.0))
    val dets = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey").collect().map(_.getLong(0))
      .map(k => (k, (k * 149 % 36000) / 100.0, (k * 101 % 17000) / 100.0 - 85.0))
    val trans = dets.filter { case (_, ra, dec) =>
      !objs.exists(o => hav(ra, dec, o._1, o._2) < 1.0) }
    val byNight = trans.groupBy(_._1 % 3)
    val rate = queries.Spatial.TrackRateDeg
    val exp = (0L until 2L).map { nf =>
      val pairs = for {
        a <- byNight.getOrElse(nf, Array.empty[(Long, Double, Double)])
        b <- byNight.getOrElse(nf + 1, Array.empty[(Long, Double, Double)])
        d = hav(a._2, a._3, b._2, b._3) if d < rate
      } yield (a._1, b._1, d)
      nf -> (pairs.length.toLong,
        pairs.map(_._1).distinct.length.toLong,
        pairs.map(_._2).distinct.length.toLong,
        if (pairs.isEmpty) None else Some(pairs.map(_._3).min),
        if (pairs.isEmpty) None else Some(pairs.map(_._3).max),
        pairs.map(p => math.round(p._3 * 1000000)).sum)
    }.toMap
    val got = queries.Spatial.qTracklets(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double]),
        r.getLong(6))).toMap
    assert(got == exp, s"tracklet census mismatch:\n got $got\n exp $exp")
    // non-vacuous at every SF: the 2-deg rate window must link pairs
    assert(got.values.exists(_._1 > 0L), "no tracklets linked")

    // q_track_chains: chain the same brute-force pairs on the shared
    // middle detection and apply the exact-integer rate test
    val pairsByNight = (0L until 2L).map { nf =>
      nf -> (for {
        a <- byNight.getOrElse(nf, Array.empty[(Long, Double, Double)])
        b <- byNight.getOrElse(nf + 1, Array.empty[(Long, Double, Double)])
        d = hav(a._2, a._3, b._2, b._3) if d < rate
      } yield (a._1, b._1, math.round(d * 1000000)))
    }.toMap
    val tol = queries.Spatial.TrackChainTolU6
    val chains = for {
      (k1, mid, r1) <- pairsByNight(0L)
      (m2, k3, r2) <- pairsByNight(1L) if m2 == mid
    } yield (mid, math.abs(r1 - r2))
    val tracks = chains.filter(_._2 <= tol)
    val gc = queries.Spatial.qTrackChains(spark, sf).collect().head
    assert(gc.getAs[Long]("n_chains") == chains.length.toLong)
    assert(gc.getAs[Long]("n_tracks") == tracks.length.toLong)
    assert(gc.getAs[Long]("n_mids") == tracks.map(_._1).distinct.length.toLong)
    assert(gc.getAs[Long]("sum_dr_u6") == tracks.map(_._2).sum)
    assert(gc.getAs[Long]("n_tracks") > 0L, "no consistent tracks at sf0.001")
  }

  /** Driver-side brute force of the motion linker over detections and
    * catalog points (k, ra, decl): every distance and ×10⁶ integer is
    * the one haversine tree under round(·, 6) on a Spark cross join,
    * the linking itself plain Scala. Nights are k mod 3. Returns the
    * transient keys, the tracklets and the chains with their fit. */
  private def bruteLinks(det: DataFrame, cat: DataFrame)
    : (Set[Long], Seq[queries.Spatial.Leg], Seq[queries.Spatial.Chain]) = {
    import spark.implicits._
    val q = queries.Spatial
    def d6(a: String, b: String) = round(q.distDeg(col(s"$a.ra"), col(s"$a.decl"),
      col(s"$b.ra"), col(s"$b.decl")), 6)
    val matched = det.as("d").crossJoin(cat.as("c"))
      .filter(d6("d", "c") < q.AssocRadiusDeg)
      .select(col("d.k")).distinct().as[Long].collect().toSet
    val tr = det.as[(Long, Double, Double)].collect().filterNot(r => matched(r._1))
      .toSeq.toDF("k", "ra", "decl")
    val u6 = tr.select(col("k"), round(col("ra") * 1000000).cast("long"),
      round(col("decl") * 1000000).cast("long")).as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val legs = tr.as("a").crossJoin(tr.as("b"))
      .filter(pmod(col("b.k"), lit(3)) === pmod(col("a.k"), lit(3)) + 1)
      .select(pmod(col("a.k"), lit(3)).cast("long"), col("a.k"), col("b.k"),
        d6("a", "b").as("d"))
      .filter(col("d") < q.TrackRateDeg)
      .select(col("*"), round(col("d") * 1000000).cast("long"))
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    val chains = for {
      (_, k1, mid, _, r1) <- legs
      (_, _, k3, _, r2) <- legs.filter(_._2 == mid)
    } yield {
      val (a, m, c) = (u6(k1), u6(mid), u6(k3))
      q.Chain(k1, mid, k3, c._1 - a._1, c._2 - a._2, a._1 - 2 * m._1 + c._1,
        a._2 - 2 * m._2 + c._2, math.abs(r1 - r2))
    }
    (u6.keySet, legs.map(l => q.Leg(l._1, l._2, l._3, l._4)), chains)
  }

  test("motion linker: pairs and chains equal a brute force across cell edges, the ra wrap, a polar cap and the rounding edge") {
    import spark.implicits._
    val q = queries.Spatial
    val rnd = new scala.util.Random(7)
    var id = 0L
    def key(night: Int): Long = { id += 1; 3 * id + night }
    def near(ra0: Double, raW: Double, de0: Double, deW: Double) =
      ((ra0 + (rnd.nextDouble() - 0.5) * raW + 360.0) % 360.0,
        de0 + (rnd.nextDouble() - 0.5) * deW)
    // linker cells are 10° zones; at |decl| < 10 a zone has 33 ra
    // cells, so ra 360/33 is a cell edge and decl 0 a zone edge. The
    // fields straddle the 0/360 wrap and decl 0, an ra cell edge,
    // and the two polar caps, where raBoundDeg spans the whole ring.
    val fields = Seq((0.0, 7.0, 0.0, 7.0, 150), (360.0 / 33, 7.0, 5.0, 7.0, 90),
      (180.0, 360.0, 87.5, 5.0, 120), (90.0, 360.0, -86.0, 8.0, 60))
    val scattered = for {
      (ra0, raW, de0, deW, n) <- fields
      _ <- 0 until n
    } yield { val (ra, de) = near(ra0, raW, de0, deW); (key(rnd.nextInt(3)), ra, de) }
    val catScattered = for {
      (ra0, raW, de0, deW, n) <- fields
      _ <- 0 until n / 10
    } yield { val (ra, de) = near(ra0, raW, de0, deW); (-key(0), ra, de) }
    // the rounding edges, on one meridian so the separation is Δdecl:
    // 1.9999994 rounds to 1.999999 < 2 (linked across the decl-0 zone
    // edge), 1.9999996 rounds to 2.0 (not linked); a catalog point
    // 0.9999994 away matches, one 1.0000004 away does not
    val (a0, b1, b1x, c2, dm, dt) =
      (key(0), key(1), key(1), key(2), key(0), key(0))
    val planted = Seq((a0, 20.0, -1.0), (b1, 20.0, 0.9999994),
      (b1x, 20.5, 0.9999996), (c2, 20.0, 2.5), (dm, 40.0, 5.0), (dt, 45.0, 5.0))
    val b1xFrom = key(0)
    val det = (scattered ++ planted :+ ((b1xFrom, 20.5, -1.0)))
      .toDF("k", "ra", "decl")
    val cat = (catScattered ++ Seq((-1L, 40.0, 5.9999994), (-2L, 45.0, 6.0000004)))
      .toDF("k", "ra", "decl")
    val (trans, pairs, chains) = bruteLinks(det, cat)
    val gotTrans = q.motionLinks(det, cat, lit(true))(_.transients)(
      org.apache.spark.sql.Encoders.scalaLong).collect().toSeq
    val gotPairs = q.motionLinks(det, cat, lit(true))(_.pairs).collect().toSeq
    val gotChains = q.motionLinks(det, cat, lit(true))(_.chains).collect().toSeq
    assert(gotTrans.sorted == trans.toSeq.sorted, "transient set differs")
    assert(gotPairs.size == gotPairs.toSet.size, "a pair was emitted twice")
    assert(gotPairs.toSet == pairs.toSet, s"pairs differ: " +
      s"${(gotPairs.toSet -- pairs).take(5)} vs ${(pairs.toSet -- gotPairs).take(5)}")
    val ids = gotChains.map(c => (c.k1, c.mid, c.k3))
    assert(ids.size == ids.toSet.size, "a (k1, mid, k3) was emitted twice")
    assert(gotChains.toSet == chains.toSet, "chains differ")
    // the fixture reaches every edge it plants
    val pos = (scattered ++ planted).map(r => r._1 -> (r._2, r._3)).toMap
    def across(p: queries.Spatial.Leg)(f: ((Double, Double), (Double, Double)) => Boolean) =
      pos.contains(p.k1) && pos.contains(p.k2) && f(pos(p.k1), pos(p.k2))
    assert(pairs.exists(across(_)((a, b) => math.abs(a._1 - b._1) > 180 && a._2.abs < 10)),
      "no pair across the ra wrap")
    assert(pairs.exists(across(_)((a, b) => a._2 * b._2 < 0 && a._2.abs < 10)),
      "no pair across the decl-0 zone edge")
    assert(pairs.exists(across(_)((a, b) => a._2 > 80 && b._2 > 80 &&
      math.abs(a._1 - b._1) > 90)), "no pair across the north polar cap")
    assert(pairs.exists(p => p.k1 == a0 && p.k2 == b1 && p.dist_r6 == 1.999999))
    assert(!pairs.exists(_.k2 == b1x), "1.9999996 must round to 2.0 and not link")
    assert(!trans(dm) && trans(dt), "association-radius rounding edge")
    assert(chains.exists(c => c.k1 == a0 && c.mid == b1 && c.k3 == c2))
    assert(chains.size > 100, s"only ${chains.size} chains")
  }

  test("the motion linker's transient set is q_xmatch_unmatched's at sf0.001") {
    import spark.implicits._
    val q = queries.Spatial
    val linked = q.motionLinks(
      q.detections(spark, sf).select($"det_k".as("k"), $"ra", $"decl"),
      q.points(spark, sf), lit(true))(_.transients)(
      org.apache.spark.sql.Encoders.scalaLong).collect().toSeq
    val unmatched = q.qXmatchUnmatched(spark, sf).select($"det_k").as[Long]
      .collect().toSeq
    assert(linked.size == linked.toSet.size, "a transient was owned twice")
    assert(linked.sorted == unmatched.sorted,
      s"linker ${linked.size} vs q_xmatch_unmatched ${unmatched.size}")
    assert(unmatched.nonEmpty)
  }

  test("q_track_motion recovers a planted constant-rate mover exactly and reconciles with the chain census") {
    import spark.implicits._
    val q = queries.Spatial
    // planted mover 30→31→32 (nights 0, 1, 2): α = 100 + 0.5·night,
    // δ = 20 + 0.25·night (all values exact binary fractions, so the
    // ×10⁶ rounding is exact); decoy 60→61→62 drifts 0.6°/night
    // between legs (> the 0.5° tolerance) and must drop
    val cat = Seq((1L, 250.0, 60.0)).toDF("k", "ra", "decl")
    def motion(dets: Seq[(Long, Double, Double)]) =
      q.motionReadout(q.motionLinks(dets.toDF("k", "ra", "decl"), cat,
        lit(true))(_.chains)).collect()
    val dets = Seq(
      (30L, 100.0, 20.0), (31L, 100.5, 20.25), (32L, 101.0, 20.5),
      (60L, 30.0, -10.0), (61L, 30.3, -10.0), (62L, 31.2, -10.0))
    val got = motion(dets)
    assert(got.length == 1, s"expected only the mover, got ${got.length}")
    val m = got.head
    assert(m.getAs[Long]("k1") == 30L && m.getAs[Long]("mid") == 31L &&
      m.getAs[Long]("k3") == 32L)
    // rate recovered EXACTLY: 0.5°/night → (x₃−x₁) = 1.0° = 10⁶ u6
    assert(m.getAs[Long]("ra_rate_u6_x2") == 1000000L,
      s"ra rate ${m.getAs[Long]("ra_rate_u6_x2")}")
    assert(m.getAs[Long]("de_rate_u6_x2") == 500000L)
    // a perfect linear mover has ZERO curvature (the whole fit
    // residual: SSE = c²/6 = 0)
    assert(m.getAs[Long]("ra_curv_u6") == 0L &&
      m.getAs[Long]("de_curv_u6") == 0L, "linear mover has residual")
    // the legs differ on the sphere (cos δ changes along the track):
    // the drift is the exact ×10⁶ difference of their rounded lengths
    val legs = Seq((30L, 31L), (31L, 32L)).map { case (a, b) =>
      val (x, y) = (dets.find(_._1 == a).get, dets.find(_._1 == b).get)
      spark.range(1).select(round(round(q.distDeg(lit(x._2), lit(x._3),
        lit(y._2), lit(y._3)), 6) * 1000000).cast("long")).as[Long].head()
    }
    assert(m.getAs[Long]("dr_u6") == math.abs(legs(0) - legs(1)))
    // a mid-point 4 μdeg off the line carries its residual exactly:
    // c = x₁ − 2·x₂ + x₃ = −8 u6 (SSE = 64/6 u6²)
    val curved = motion(Seq(
      (30L, 100.0, 20.0), (31L, 100.500004, 20.25), (32L, 101.0, 20.5)))
    assert(curved.length == 1 &&
      curved.head.getAs[Long]("ra_curv_u6") == -8L,
      s"curvature ${curved.head.getAs[Long]("ra_curv_u6")} != -8")
    // cross-query reconciliation on the real corpus: exactly one
    // motion row per consistent track, and the per-track drifts sum
    // to the census' exact integer drift total
    val census = q.qTrackChains(spark, sf).collect().head
    val motionRows = q.qTrackMotion(spark, sf).collect()
    assert(motionRows.length.toLong == census.getAs[Long]("n_tracks"),
      "one motion row per consistent track violated")
    assert(motionRows.map(_.getAs[Long]("dr_u6")).sum ==
      census.getAs[Long]("sum_dr_u6"),
      "motion drift sum != census drift sum")
  }

  test("q_track_motion_sampled is the full readout on the md5 mid slice, with md5 applied to mids before the linker emits legs") {
    import org.apache.spark.sql.functions._
    val q = queries.Spatial
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7))).toMap
    val got = keyed(q.qTrackMotionSampled(spark, sf).collect())
    // exact on its slice: the full readout filtered by the SAME
    // predicate, row for row
    val full = keyed(queries.Spatial.qTrackMotion(spark, sf)
      .filter(substring(md5(col("mid").cast("string")), 1, 1)
        < q.TpcSampleHex).collect())
    assert(got == full, "sampled slice != full readout on the slice")
    assert(got.nonEmpty, "25% slice empty at sf0.001")
    assert(got.size < keyed(queries.Spatial.qTrackMotion(spark, sf)
      .collect()).size, "sample did not shrink the readout")
    // the scale claim: md5 is computed once per detection row below
    // the linker's exchange, into the mid flag the kernel checks
    // before it searches a mid's legs — never on the chain stream.
    // Tree printout order is parent before child: the kernel
    // (MapPartitions) line precedes the exchange, which precedes the
    // one md5
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val lines = q.qTrackMotionSampled(spark, sf).queryExecution
        .executedPlan.toString.linesIterator.toVector
      val iKernel = lines.indexWhere(_.contains("MapPartitions"))
      val iExchange = lines.indexWhere(_.contains("hashpartitioning(cell"))
      val iMd5 = lines.indexWhere(_.contains("md5"))
      assert(lines.count(_.contains("md5")) == 1,
        s"expected exactly one md5 in the sampled plan:\n${lines.mkString("\n")}")
      assert(iKernel >= 0 && iExchange > iKernel && iMd5 > iExchange,
        s"md5 not below the linker's exchange (kernel@$iKernel, " +
          s"exchange@$iExchange, md5@$iMd5):\n${lines.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("dense cell: 60k legs into one mid stream out as 120,050 chains from one cell") {
    import spark.implicits._
    val q = queries.Spatial
    // a dense field: 60k night-0 detections within 1° of ONE night-1
    // middle detection (k = 1, at ra 100, decl 0) with two night-2
    // continuations, plus 50 ordinary mids far apart (decl 30, 5°
    // steps), one chain each. The dense cell's task holds its rows and
    // the mid's two leg lists; the 120k chains stream out of their
    // product (the motionLinks skew bound)
    val dense = (1 to 60000).map(i => (3L * i,
      99.5 + (i % 200) * 0.005, -0.75 + (i / 200) * 0.005))
    val mid = Seq((1L, 100.0, 0.0), (2L, 101.0, 0.0), (5L, 100.0, 1.0))
    val bg = (1 to 50).flatMap { m =>
      val k = 3L * (100000 + m)
      Seq((k, 5.0 * m + 0.5, 30.0), (k + 1, 5.0 * m, 30.0), (k + 2, 5.0 * m - 0.5, 30.0))
    }
    val det = (dense ++ mid ++ bg).toDF("k", "ra", "decl")
    val cat = Seq((1L, 300.0, -60.0)).toDF("k", "ra", "decl")
    val chains = q.motionLinks(det, cat, lit(true))(_.chains)
    val n = chains.collect().length
    assert(n == 60000 * 2 + 50, s"chain count $n, want 120,050")
    assert(chains.filter($"mid" === 1L).count() == 120000L)
  }

  test("motion linker budget at sf0.001: each input crosses one exchange, the build starts at most one job") {
    import org.apache.spark.graftx.JobProbe
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    def scans(p: SparkPlan) = p.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.head.getName }
    def aggregate(p: SparkPlan) = (p match {
      case w: WholeStageCodegenExec => w.child
      case other => other
    }).isInstanceOf[BaseAggregateExec]
    for (name <- Seq("q_tracklets", "q_track_chains", "q_track_motion",
      "q_track_motion_sampled")) {
      val fn = SparkEntry.queries(name)
      val build = JobProbe(spark.sparkContext) { fn(spark, sf) }
      assert(build.size <= 1, s"$name build started ${build.size} jobs: $build")
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val plan = fn(spark, sf).queryExecution.executedPlan
        assert(scans(plan).sorted == Seq("customer.parquet", "orders.parquet"),
          s"$name scans ${scans(plan)}")
        // the input exchange: the one over the scans with no other
        // exchange beneath it
        val (input, rest) = plan.collect { case e: Exchange => e }.partition(e =>
          scans(e).nonEmpty && e.child.find(_.isInstanceOf[Exchange]).isEmpty)
        assert(input.size == 1 && input.head.isInstanceOf[ShuffleExchangeExec] &&
          scans(input.head).sorted == Seq("customer.parquet", "orders.parquet"),
          s"$name: orders and customer must cross one exchange together:\n$plan")
        // every other exchange reads the inputs only through it, and is
        // the presentation sort's or the census aggregate's
        assert(rest.forall(e => scans(e).isEmpty || e.child.find(_ eq input.head).isDefined),
          s"$name: an input crosses a second exchange:\n$plan")
        assert(rest.forall {
          case e: ShuffleExchangeExec =>
            e.outputPartitioning.isInstanceOf[RangePartitioning] || aggregate(e.child)
          case b: BroadcastExchangeExec => aggregate(b.child)
          case _ => false
        }, s"$name: an exchange that is neither the sort's nor the census':\n$plan")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("q_galactic_density matches a driver-side IAU-pole recompute at sf0.001") {
    val sinP = math.sin(math.toRadians(27.12825))
    val cosP = math.cos(math.toRadians(27.12825))
    val raG = math.toRadians(192.85948)
    def bR6(ra: Double, dec: Double): Double = {
      val b = math.toDegrees(math.asin(
        math.sin(math.toRadians(dec)) * sinP +
          math.cos(math.toRadians(dec)) * cosP *
            math.cos(math.toRadians(ra) - raG)))
      BigDecimal(b).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val keys = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
    val exp = keys.map { k =>
      bR6((k * 137 % 36000) / 100.0, (k * 97 % 17000) / 100.0 - 85.0)
    }.groupBy(b => math.floor(b / 10.0).toLong)
      .map { case (bin, bs) =>
        bin -> (bs.length.toLong, bs.map(b => math.round(b * 1000000)).sum)
      }
    val got = queries.Spatial.qGalacticDensity(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == exp, s"galactic census mismatch:\n got $got\n exp $exp")
    // every latitude lands in a physical band and nothing is lost
    assert(got.keySet.forall(b => b >= -9L && b <= 8L))
    assert(got.values.map(_._1).sum == keys.length.toLong)
  }

  test("q_xmatch_ambiguous matches a brute-force two-closest recompute at sf0.001") {
    def hav(ra1: Double, d1: Double, ra2: Double, d2: Double): Double = {
      val (p1, p2) = (math.toRadians(d1), math.toRadians(d2))
      val dphi = p2 - p1; val dl = math.toRadians(ra2 - ra1)
      val x = math.pow(math.sin(dphi / 2), 2) +
        math.cos(p1) * math.cos(p2) * math.pow(math.sin(dl / 2), 2)
      BigDecimal(math.toDegrees(2 * math.asin(math.sqrt(x))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val objs = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
      .map(k => (k, (k * 137 % 36000) / 100.0, (k * 97 % 17000) / 100.0 - 85.0))
    val dets = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey").collect().map(_.getLong(0))
      .map(k => (k, (k * 149 % 36000) / 100.0, (k * 101 % 17000) / 100.0 - 85.0))
    val rad = queries.Spatial.AmbigRadiusDeg
    val exp = dets.flatMap { case (dk, ra, dec) =>
      val ms = objs.map { case (ok, ora, odec) => (hav(ra, dec, ora, odec), ok) }
        .filter(_._1 < rad).sorted
      if (ms.length < 2) None
      else Some(dk -> (ms.length.toLong, ms(0)._2, ms(0)._1, ms(1)._2, ms(1)._1,
        math.round(ms(1)._1 * 1000000) - math.round(ms(0)._1 * 1000000)))
    }.toMap
    val got = queries.Spatial.qXmatchAmbiguous(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getLong(6))).toMap
    assert(got == exp, s"ambiguity census mismatch: got ${got.size} exp ${exp.size}")
    // non-vacuous, and the margin is the nonnegative too-close-to-call gap
    assert(got.nonEmpty, "no ambiguous detections at sf0.001")
    assert(got.values.forall(_._6 >= 0L), "negative ambiguity margin")
  }
}
