package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TimeSeriesSpec extends AnyFunSuite with RegistryRows {
  import SparkTestSession._

  test("q_lightcurve_band partitions q_lightcurve_stats exactly (per-band n/sum reconcile)") {
    val band = queries.TimeSeries.qLightcurveBand(spark, sf)
      .groupBy("user_id")
      .agg(sum("n").as("n"), sum("sum_c100").as("sum_c100"))
    val flat = queries.TimeSeries.qLightcurveStats(spark, sf)
      .select(col("user_id"), col("n"), col("sum_c100"))
    // banding is a partition of each object's series: summing the
    // per-band rows back must reproduce the unbanded totals
    assert(band.except(flat).isEmpty && flat.except(band).isEmpty)
    // the CASE maps onto exactly the five ugriz bands
    val bands = queries.TimeSeries.qLightcurveBand(spark, sf)
      .select("band").distinct().collect().map(_.getString(0)).sorted
    assert(bands.sameElements(Array("g", "i", "r", "u", "z")), bands.mkString(","))
  }

  test("q_color_index is the exact g−r mean difference off the banded stats") {
    val ci = queries.TimeSeries.qColorIndex(spark, sf).collect()
    assert(ci.nonEmpty)
    val byBand = queries.TimeSeries.qLightcurveBand(spark, sf)
      .select("user_id", "band", "n", "sum_c100").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    for (r <- ci) {
      val uid = r.getLong(0)
      val (ng, sg) = byBand(uid -> "g")
      val (nr, sr) = byBand(uid -> "r")
      assert(r.getAs[Long]("n_g") == ng && r.getAs[Long]("n_r") == nr)
      // exact rational color: num/den match the independent per-band frame
      assert(r.getAs[Long]("color_num") == sg * nr - sr * ng, s"object $uid")
      assert(r.getAs[Long]("color_den") == ng * nr)
      assert(r.getAs[Double]("color_gr") ==
        (sg * nr - sr * ng).toDouble / (ng * nr * 100.0))
    }
  }

  test("q_structure_function equals an exact brute-force pair recompute") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = queries.TimeSeries.qStructureFunction(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    // brute force: every (object, band) series, all ordered pairs
    val series = Tables.events(spark, sf).select($"user_id",
      expr(queries.TimeSeries.BandCaseSql).as("band"),
      expr("ts DIV 1000").as("tus"),
      round($"value" * 100).cast("long").as("xc"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .groupBy(t => (t._1, t._2))
    val acc = scala.collection.mutable.Map[(String, Long), (Long, BigInt)]()
    for (((_, band), rows) <- series; Seq(a, b) <- rows.toSeq
           .sortBy(_._3).combinations(2) if a._3 != b._3) {
      val bin = (b._3 - a._3) / queries.TimeSeries.SfBinUs
      val d = b._4 - a._4
      val (n0, s0) = acc.getOrElse((band, bin), (0L, BigInt(0)))
      acc((band, bin)) = (n0 + 1, s0 + BigInt(d) * BigInt(d))
    }
    assert(got.keySet == acc.keySet.toSet)
    for ((k, (n, s)) <- acc) {
      assert(got(k)._1 == n, s"$k pair count")
      assert(got(k)._2 == s.toDouble / n, s"$k SF value")
    }
  }

  test("q_visit_calib residuals telescope to zero within every visit") {
    val rows = queries.TimeSeries.qVisitCalib(spark, sf).collect()
    assert(rows.nonEmpty)
    // sum over a visit of (flux*n_v - sum_v) is identically zero, and
    // n_v must equal the actual visit row count — catches any drift
    // between the aggregate side and the join-back side
    val byVisit = rows.groupBy(_.getAs[Long]("visitId"))
    for ((v, rs) <- byVisit) {
      assert(rs.map(_.getAs[Long]("resid_num")).sum == 0L, s"visit $v")
      assert(rs.forall(_.getAs[Long]("n_v") == rs.length), s"visit $v n_v")
    }
  }

  test("q_proper_motion matches a brute-force exact least-squares recompute") {
    import spark.implicits._
    val got = queries.TimeSeries.qProperMotion(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.nonEmpty)
    val obs = Tables.events(spark, sf)
      .select($"user_id", $"event_id", expr("ts DIV 1000").as("tus"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(got.keySet == obs.keySet)
    for ((uid, rows) <- obs) {
      val t0 = rows.map(_._3).min
      val pts = rows.map { case (u, e, tus) =>
        val td = (tus - t0) / 86400000000L
        (td, (u % 21 - 10) * td + (e % 7 - 3), (u % 17 - 8) * td + (e % 5 - 2))
      }
      val n = pts.size.toLong
      val st = pts.map(_._1).sum; val stt = pts.map(p => p._1 * p._1).sum
      val den = n * stt - st * st
      val r = got(uid)
      assert(r.getAs[Long]("n") == n && r.getAs[Long]("pm_den") == den, s"object $uid")
      assert(r.getAs[Long]("pm_ra_num") ==
        n * pts.map(p => p._1 * p._2).sum - st * pts.map(_._2).sum, s"object $uid ra")
      assert(r.getAs[Long]("pm_dec_num") ==
        n * pts.map(p => p._1 * p._3).sum - st * pts.map(_._3).sum, s"object $uid dec")
      if (den > 0) {
        val ra = r.getAs[Long]("pm_ra_num").toDouble / den
        val de = r.getAs[Long]("pm_dec_num").toDouble / den
        assert(r.getAs[Double]("pm_ra_mas_day") == ra)
        assert(r.getAs[Double]("pm_tot_mas_day") == math.sqrt(ra * ra + de * de))
      } else assert(r.isNullAt(r.fieldIndex("pm_ra_mas_day")) &&
        r.isNullAt(r.fieldIndex("pm_tot_mas_day")), s"object $uid null fit")
    }
  }

  test("q_astrom_chi2: a noise-free planted fit lands RSS exactly 0.0; corpus rows are strictly positive") {
    import spark.implicits._
    val q = queries.TimeSeries
    // the same exact planted model as the parallax spec: x (and y)
    // are exact linear combinations of the design columns, so the
    // normal-equation RSS identity must cancel EXACTLY — every double
    // product at these magnitudes is exact and the Cramer identity
    // makes the fitted explained sum equal Σx² bit-for-bit
    val plant = for {
      (uid, a, b, p, a2, b2, p2) <-
        Seq((1L, 7L, 3L, 5L, -2L, 1L, 4L), (2L, -4L, 2L, -6L, 3L, -1L, 7L))
      (t, f, g) <- Seq((0L, 10L, -7L), (1L, 14L, 8L), (2L, 6L, -2L),
        (3L, -9L, 12L), (4L, -13L, 3L))
    } yield (uid, t, f, a + b * t + p * f, g, a2 + b2 * t + p2 * g)
    val got = q.astromChi2Over(
      plant.toDF("user_id", "tday", "f", "x", "g", "y")).collect()
      .map(r => r.getLong(0) -> r).toMap
    for ((uid, r) <- got) {
      assert(r.getAs[Double]("rss_ra") == 0.0 &&
        r.getAs[Double]("rss_dec") == 0.0 &&
        r.getAs[Double]("chi2_ra") == 0.0,
        s"planted fit must land RSS exactly 0, got $r for $uid")
    }
    // degenerate n <= 3 carries nulls (no dof to judge a 3-param fit)
    val deg = q.astromChi2Over(
      Seq((9L, 0L, 1L, 1L, 2L, 1L), (9L, 1L, 2L, 2L, 5L, 2L),
        (9L, 2L, 4L, 3L, 3L, 3L))
        .toDF("user_id", "tday", "f", "x", "g", "y")).collect().head
    assert(deg.isNullAt(deg.fieldIndex("rss_ra")) &&
      deg.isNullAt(deg.fieldIndex("chi2_dec")), "n<=3 must not score")
    // the registered entry: the per-epoch jitter terms (±300/±200
    // c-units) are orthogonal to no design column, so every corpus
    // object's residual is strictly positive on both axes
    val real = q.qAstromChi2(spark, sf).collect()
    assert(real.nonEmpty)
    for (r <- real) {
      assert(r.getAs[Double]("rss_ra") > 0.0 &&
        r.getAs[Double]("rss_dec") > 0.0,
        s"corpus RSS must be strictly positive: $r")
    }
  }

  test("q_parallax recovers a planted noise-free parallax EXACTLY on both coordinates; degenerate and collinear systems carry nulls") {
    import spark.implicits._
    // noise-free x = a + b·t + p·f (and y = a2 + b2·t + p2·g) with
    // tiny values: every double product in the Cramer chain is exact,
    // and det multilinearity (the data column is an exact combination
    // of the design columns) gives det_b = b·det_m and det_p =
    // p·det_m — so BOTH fits must return their parameters EXACTLY
    val plant = for {
      (uid, a, b, p, a2, b2, p2) <-
        Seq((1L, 7L, 3L, 5L, -2L, 1L, 4L), (2L, -4L, 2L, -6L, 3L, -1L, 7L))
      (t, f, g) <- Seq((0L, 10L, -7L), (1L, 14L, 8L), (2L, 6L, -2L),
        (3L, -9L, 12L), (4L, -13L, 3L))
    } yield (uid, t, f, a + b * t + p * f, g, a2 + b2 * t + p2 * g)
    val got = queries.TimeSeries.parallaxFitOver(
      plant.toDF("user_id", "tday", "f", "x", "g", "y")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Double]("pm_ra_fit") == 3.0 &&
      got(1L).getAs[Double]("plx_ra_fit") == 5.0 &&
      got(1L).getAs[Double]("pm_dec_fit") == 1.0 &&
      got(1L).getAs[Double]("plx_dec_fit") == 4.0, s"fit ${got(1L)}")
    assert(got(2L).getAs[Double]("pm_ra_fit") == 2.0 &&
      got(2L).getAs[Double]("plx_ra_fit") == -6.0 &&
      got(2L).getAs[Double]("pm_dec_fit") == -1.0 &&
      got(2L).getAs[Double]("plx_dec_fit") == 7.0, s"fit ${got(2L)}")
    assert(got.values.forall(r => r.getAs[Double]("det_m") != 0.0 &&
      r.getAs[Double]("det_md") != 0.0))
    // n <= 3 cannot constrain three parameters → nulls on both sides
    val deg = queries.TimeSeries.parallaxFitOver(
      Seq((9L, 0L, 1L, 1L, 2L, 1L), (9L, 1L, 2L, 2L, 5L, 2L),
        (9L, 2L, 4L, 3L, 3L, 3L))
        .toDF("user_id", "tday", "f", "x", "g", "y")).collect().head
    assert(deg.isNullAt(deg.fieldIndex("pm_ra_fit")) &&
      deg.isNullAt(deg.fieldIndex("plx_ra_fit")) &&
      deg.isNullAt(deg.fieldIndex("plx_dec_fit")), "n<=3 must not fit")
    // an exactly collinear ra factor (f = 2·t) has det_m = 0: the ra
    // fit must refuse — while the independent dec system, whose g is
    // NOT collinear, still fits (the two coordinates are separate
    // normal systems by construction)
    val col0 = queries.TimeSeries.parallaxFitOver(
      (0L to 5L).map(t => (8L, t, 2L * t, 3L + t, (t * t) % 7, t))
        .toDF("user_id", "tday", "f", "x", "g", "y")).collect().head
    assert(col0.getAs[Double]("det_m") == 0.0 &&
      col0.isNullAt(col0.fieldIndex("plx_ra_fit")), "collinear must not fit")
    assert(col0.getAs[Double]("det_md") != 0.0 &&
      !col0.isNullAt(col0.fieldIndex("plx_dec_fit")),
      "dec system must fit independently of the ra collinearity")
    // corpus sanity through the registered entry: every object fits
    // (30 observing days, non-degenerate annual factors) and both
    // planted per-object parallax amplitudes are recovered to within
    // the jitter-driven tolerance (1.5 table-scale units: the
    // deterministic ±300/±200 jitters against a near-collinear
    // month-long annual factor leave a measured worst case of ~1.1
    // at sf0.001 — the fits are unbiased, the corpus window is just
    // short of a year)
    val real = queries.TimeSeries.qParallax(spark, sf).collect()
    assert(real.nonEmpty)
    for (r <- real) {
      val uid = r.getAs[Long]("user_id")
      assert(!r.isNullAt(r.fieldIndex("plx_ra_fit")), s"object $uid no fit")
      assert(math.abs(r.getAs[Double]("plx_ra_fit") - (uid % 13 - 6)) < 1.5,
        s"object $uid plx_ra ${r.getAs[Double]("plx_ra_fit")} vs ${uid % 13 - 6}")
      assert(math.abs(r.getAs[Double]("plx_dec_fit") - (uid % 11 - 5)) < 1.5,
        s"object $uid plx_dec ${r.getAs[Double]("plx_dec_fit")} vs ${uid % 11 - 5}")
    }
  }

  test("q_mad matches driver-side discrete medians and shrugs off an outlier") {
    import spark.implicits._
    val got = queries.TimeSeries.qMad(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.nonEmpty)
    val series = Tables.events(spark, sf)
      .select($"user_id", $"event_id", round($"value" * 100).cast("long").as("xc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(got.keySet == series.keySet)
    def discMed(xs: Seq[Long]): Long = xs.sorted.apply(((xs.size + 1) / 2) - 1)
    for ((uid, rows) <- series) {
      val m = discMed(rows.map(_._3).toSeq)
      val mad = discMed(rows.map(t => math.abs(t._3 - m)).toSeq)
      val r = got(uid)
      assert(r.getAs[Long]("med_c100") == m, s"object $uid median")
      assert(r.getAs[Long]("mad_c100") == mad, s"object $uid MAD")
      assert(r.getAs[Double]("sigma_mad_c100") == mad * 1.4826)
    }
    // robustness: a single enormous outlier epoch leaves the MAD of a
    // constant series at zero (the reason sigmaMAD exists), while the
    // plain variance numerator explodes
    val planted = (Seq.tabulate(9)(i => (1L, i.toLong, 10000L)) :+ ((1L, 9L, 1000000000L)))
      .toDF("user_id", "event_id", "xc")
    val pr = queries.TimeSeries.madOf(planted).collect().head
    assert(pr.getAs[Long]("med_c100") == 10000L)
    assert(pr.getAs[Long]("mad_c100") == 0L && pr.getAs[Double]("sigma_mad_c100") == 0.0)
  }

  test("q_crossband_corr matches a driver-side Pearson recompute over paired visits") {
    import spark.implicits._
    val got = queries.TimeSeries.qCrossbandCorr(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.nonEmpty)
    val vu = queries.TimeSeries.VisitUs
    val byObj = Tables.events(spark, sf)
      .select($"user_id", expr("ts DIV 1000").as("tus"),
        round($"value" * 100).cast("long").as("xc"),
        expr(queries.TimeSeries.BandCaseSql).as("band"))
      .filter($"band".isin("g", "r")).collect()
      .map(r => (r.getLong(0), r.getLong(1) / vu, r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    for ((uid, rows) <- byObj) {
      val byVisit = rows.groupBy(_._2).flatMap { case (_, vs) =>
        val g = vs.filter(_._4 == "g").map(_._3)
        val r = vs.filter(_._4 == "r").map(_._3)
        if (g.nonEmpty && r.nonEmpty) Some((g.sum, r.sum)) else None
      }.toSeq
      if (byVisit.isEmpty) assert(!got.contains(uid), s"object $uid")
      else {
        val n = byVisit.size.toLong
        val (sg, sr) = (byVisit.map(_._1).sum, byVisit.map(_._2).sum)
        val num = n * byVisit.map(p => p._1 * p._2).sum - sg * sr
        val dg = n * byVisit.map(p => p._1 * p._1).sum - sg * sg
        val dr = n * byVisit.map(p => p._2 * p._2).sum - sr * sr
        val row = got(uid)
        assert(row.getAs[Long]("n") == n && row.getAs[Long]("corr_num") == num,
          s"object $uid")
        assert(row.getAs[Long]("den_g") == dg && row.getAs[Long]("den_r") == dr)
        if (n >= 2 && dg > 0 && dr > 0) {
          val c = row.getAs[Double]("corr_gr")
          assert(c == num / (math.sqrt(dg.toDouble) * math.sqrt(dr.toDouble)))
          assert(c >= -1.0000001 && c <= 1.0000001, s"object $uid corr $c")
        } else assert(row.isNullAt(row.fieldIndex("corr_gr")))
      }
    }
  }

  test("q_value_drift matches a driver-side TV-distance recompute and is bounded") {
    import spark.implicits._
    val evs = Tables.events(spark, sf)
      .select($"event_type", expr("ts DIV 1000").as("tus"),
        round($"value" * 100).cast("long").as("xc"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val mid = (evs.map(_._2).min + evs.map(_._2).max) / 2
    val got = queries.TimeSeries.qValueDrift(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == evs.map(_._1).toSet)
    for ((et, rows) <- evs.groupBy(_._1)) {
      val (h1, h2) = rows.partition(_._2 < mid)
      def histo(xs: Array[(String, Long, Long)]) =
        xs.groupBy(_._3 / queries.TimeSeries.DriftBucketC100)
          .view.mapValues(_.length.toLong).toMap
      val (b1, b2) = (histo(h1), histo(h2))
      val (t1, t2) = (h1.length.toLong, h2.length.toLong)
      val l1 = (b1.keySet | b2.keySet).toSeq.map { b =>
        val p = if (t1 > 0) b1.getOrElse(b, 0L) * 1000000L / t1 else 0L
        val q = if (t2 > 0) b2.getOrElse(b, 0L) * 1000000L / t2 else 0L
        math.abs(p - q)
      }.sum
      val r = got(et)
      assert(r.getAs[Long]("n1") == t1 && r.getAs[Long]("n2") == t2, et)
      assert(r.getAs[Long]("n_buckets") == (b1.keySet | b2.keySet).size.toLong, et)
      assert(r.getAs[Long]("tv_ppm") == l1 / 2, et)
      // TV distance lives in [0, 1e6]; a stationary synthetic stream
      // must not register an extreme drift
      assert(r.getAs[Long]("tv_ppm") >= 0 && r.getAs[Long]("tv_ppm") <= 1000000L)
    }
  }

  test("q_range_nbr neighbor counts are symmetric and within the window") {
    val df = queries.TimeSeries.qRangeNbr(spark, sf).cache()
    // every (a,b) neighbor pair contributes to both a's and b's count,
    // so the total neighbor count is even
    val total = df.agg(sum("n_nbr")).head.getLong(0)
    assert(total > 0 && total % 2 == 0, s"asymmetric neighbor total $total")
    assert(df.filter("min_gap_us < 0 OR min_gap_us > 1800000000").count() == 0)
    // scale shape: bucketed equi-join, never a nested-loop product
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "range join planned as a product")
    df.unpersist()
  }

  test("q_lightcurve_stats covers every user once, var_num >= 0") {
    val df = queries.TimeSeries.qLightcurveStats(spark, sf)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(df.count() == users)
    assert(df.filter(col("var_num") < 0).count() == 0)
  }

  test("q_variability_class: label is exactly the declared integer predicate") {
    import queries.TimeSeries._
    val rows = qVariabilityClass(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, amp, vn) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val expected =
        if (n < MinObs) "sparse"
        else if (vn > VarThreshC100Sq * n * (n - 1))
          if (amp > AmpThreshC100) "transient" else "variable"
        else "constant"
      assert(r.getString(4) == expected, s"object ${r.get(0)}: $r")
    }
    // the thresholds discriminate on this locus — a single-class
    // output means they are vacuous
    assert(rows.map(_.getString(4)).distinct.length >= 2)
  }

  test("q_sessionize events sum to the full table") {
    val df = queries.TimeSeries.qSessionize(spark, sf)
    val total = df.agg(sum("n_events")).head.getLong(0)
    assert(total == Tables.events(spark, sf).count())
    // session ids are dense from 1 per user
    val bad = df.groupBy("user_id")
      .agg(max("session_id").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n")).count()
    assert(bad == 0)
  }

  test("q_lightcurve_delta cadence is within the series span") {
    val df = queries.TimeSeries.qLightcurveDelta(spark, sf)
    assert(df.filter("mean_cadence_us > span_us").count() == 0)
  }

  test("q_time_bucket counts sum to the full table") {
    val df = queries.TimeSeries.qTimeBucket(spark, sf)
    assert(df.agg(sum("n")).head.getLong(0) == Tables.events(spark, sf).count())
  }

  test("q_anomaly: every flagged row satisfies the integer z-test strictly") {
    val df = queries.TimeSeries.qAnomaly(spark, sf).cache()
    assert(df.filter("dev_num <= thr_num").count() == 0)
    assert(df.filter(
      s"n_prev < ${queries.TimeSeries.AnomalyMinPrev} OR n_prev > ${queries.TimeSeries.AnomalyWin}")
      .count() == 0)
    // anomalies are rare by construction: < 10% of all events
    val total = Tables.events(spark, sf).count()
    assert(df.count() * 10 < total, "anomaly flag fires too often to be a z>3 test")
    df.unpersist()
  }

  test("q_gap_fill: spine arithmetic holds per user") {
    val df = queries.TimeSeries.qGapFill(spark, sf).cache()
    // observed hours never exceed spine hours; spine respects the guard
    assert(df.filter("n_obs > n_hours OR n_obs < 1").count() == 0)
    assert(df.filter(s"n_hours > ${queries.TimeSeries.MaxFillHours} + 1").count() == 0)
    // forward fill leaves no hole: a filled sum exists for every user
    assert(df.filter("sum_filled_c100 IS NULL").count() == 0)
    df.unpersist()
  }

  test("q_scd2: versions are dense and intervals chain per user") {
    val df = queries.TimeSeries.qScd2(spark, sf).cache()
    val bad = df.groupBy("user_id")
      .agg(max("version").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n")).count()
    assert(bad == 0, "version numbering not dense")
    // every non-final interval closes exactly where one opens:
    // valid_to equals the NEXT version's valid_from
    import spark.implicits._
    val nxt = df.select($"user_id", ($"version" - 1).as("version"),
      $"valid_from_us".as("next_from"))
    val broken = df.join(nxt, Seq("user_id", "version"))
      .filter($"valid_to_us" =!= $"next_from").count()
    assert(broken == 0, "intervals do not chain")
    // consecutive versions always change state
    val same = df.select($"user_id", $"version", $"state")
      .join(df.select($"user_id", ($"version" - 1).as("version"),
        $"state".as("next_state")), Seq("user_id", "version"))
      .filter($"state" === $"next_state").count()
    assert(same == 0, "adjacent versions share a state")
    df.unpersist()
  }

  test("q_window_range frame equals the brute-force pairwise definition") {
    import spark.implicits._
    val df = queries.TimeSeries.qWindowRange(spark, sf).cache()
    // the frame includes the current row, so count >= 1 and the sum
    // is at least the row's own value contribution
    assert(df.filter("n_30m < 1").count() == 0)
    // brute-force oracle on one user: every event pair within the
    // trailing window, computed with a plain self-join
    val uid = df.select("user_id").head().getLong(0)
    val mine = df.filter($"user_id" === uid)
      .select($"event_id", $"tus", $"xc", $"n_30m", $"sum_c100_30m")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val w = queries.TimeSeries.RangeWUs
    for ((id, t, _, n, s) <- mine) {
      val inFrame = mine.filter { case (_, t2, _, _, _) => t2 >= t - w && t2 <= t }
      assert(inFrame.length.toLong == n, s"event $id count mismatch")
      assert(inFrame.map(_._3).sum == s, s"event $id sum mismatch")
    }
    // RANGE (not ROWS): no hash exchange beyond the user_id one, no join
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"frame query must not plan a join:\n$plan")
    df.unpersist()
  }

  test("q_ema fixed-point numerator equals a driver-side recompute for one user") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = queries.TimeSeries.qEma(spark, sf)
    val uid = df.select("user_id").head().getLong(0)
    val mine = df.filter($"user_id" === uid)
      .orderBy($"tus", $"event_id")
      .select($"xc", $"ema_num", $"n_terms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val xs = mine.map(_._1)
    mine.zipWithIndex.foreach { case ((_, ema, nt), i) =>
      val lags = (0 until 10).flatMap(j => if (i - j >= 0) Some(xs(i - j)) else None)
      val want = lags.zipWithIndex.map { case (x, j) => x * (1L << (9 - j)) }.sum
      assert(ema == want, s"row $i: ema $ema != $want")
      assert(nt == lags.length, s"row $i: n_terms $nt != ${lags.length}")
    }
  }

  test("q_streaks conserves active days and bounds streak lengths") {
    import org.apache.spark.sql.functions._
    val df = queries.TimeSeries.qStreaks(spark, sf).cache()
    val activeTotal = df.agg(sum("active_days")).head.getLong(0)
    val distinctDays = Tables.events(spark, sf)
      .selectExpr("user_id", "ts DIV 86400000000000 AS d").distinct().count()
    assert(activeTotal == distinctDays,
      s"streak days $activeTotal != distinct user-days $distinctDays")
    assert(df.filter(col("max_streak") > col("active_days")).count() == 0)
    assert(df.filter(col("n_streaks") < 1).count() == 0)
    df.unpersist()
  }

  test("q_periodogram: one row per object, period from the grid, score matches a driver recompute") {
    val df = queries.TimeSeries.qPeriodogram(spark, sf).cache()
    val users = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull).select("user_id").distinct().count()
    assert(df.count() == users, "periodogram must cover every object once")
    val gridSet = queries.TimeSeries.PeriodGridUs.toSet
    assert(df.collect().forall(r => gridSet(r.getLong(1))),
      "best period not from the trial grid")
    // exact recompute of the winning score for one object
    val id = queries.TimeSeries.LookupId
    val series = Tables.events(spark, sf)
      .filter(col("user_id") === id)
      .selectExpr("ts DIV 1000 AS tus", "CAST(ROUND(value*100) AS LONG) AS xc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def score(p: Long): Long = series
      .groupBy { case (tus, _) => (tus % p) * queries.TimeSeries.PhaseBins / p }
      .values.map { xs =>
        val s = xs.map(_._2).sum
        s * s / xs.length
      }.sum
    val best = queries.TimeSeries.PeriodGridUs
      .map(p => (score(p), p)).maxBy { case (sc, p) => (sc, -p) }
    val got = df.filter(col("user_id") === id).head()
    assert((got.getLong(2), got.getLong(1)) == best,
      s"engine best ${(got.getLong(2), got.getLong(1))} != recompute $best")
    df.unpersist()
  }

  test("q_period_fold folds at the periodogram's best period and conserves the series") {
    val folds = queries.TimeSeries.qPeriodFold(spark, sf).cache()
    val nb = queries.TimeSeries.PhaseBins
    assert(folds.filter(col("bin") < 0 || col("bin") >= nb).count() == 0,
      "phase bin out of range")
    // per-object conservation: bin counts sum to the object's series
    val perObj = folds.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.sum("n").as("tot"))
    val want = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id").count()
    assert(perObj.join(want, "user_id")
      .filter(col("tot") =!= col("count")).count() == 0,
      "fold lost or duplicated observations")
    assert(perObj.count() == want.count())
    // driver recompute of one object's fold at its winning period
    val id = queries.TimeSeries.LookupId
    val bestP = queries.TimeSeries.qPeriodogram(spark, sf)
      .filter(col("user_id") === id).head().getLong(1)
    val series = Tables.events(spark, sf)
      .filter(col("user_id") === id)
      .selectExpr("ts DIV 1000 AS tus", "CAST(ROUND(value*100) AS LONG) AS xc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val wantBins = series.groupBy { case (tus, _) => (tus % bestP) * nb / bestP }
      .map { case (b, xs) => (b, (xs.length.toLong, xs.map(_._2).sum)) }
    val gotBins = folds.filter(col("user_id") === id).collect()
      .map(r => (r.getLong(1), (r.getLong(2), r.getLong(3)))).toMap
    assert(gotBins == wantBins,
      s"object $id fold mismatch: got $gotBins want $wantBins")
    folds.unpersist()
  }

  /** The scan listed exactly the given bucket directories of the index
    * at `root` — not the root, not another bucket. */
  private def assertRootPaths(scan: org.apache.spark.sql.execution.FileSourceScanExec,
    root: String, buckets: Seq[Long]): Unit = {
    val got = scan.relation.location.rootPaths.map(_.toUri.getPath).toSet
    val want = buckets.map(b =>
      new org.apache.hadoop.fs.Path(root, s"obkt=$b").toUri.getPath).toSet
    assert(got == want, s"the scan listed $got, wanted the bucket directories $want")
  }

  test("object-index lookup prunes to one bucket and matches the flat point query") {
    val out = java.nio.file.Files.createTempDirectory("graft_objidx").toString
    val nb = 16 // 15 distinct users at sf0.001 -> most buckets non-empty
    sources.ObjectIndex.build(spark, sf, out, nb)
    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("obkt="))
    assert(dirs.length > 8, s"expected many bucket dirs, got ${dirs.length}")
    // unified layout: each bucket holds exactly the base generation,
    // with one file — the repartition(n, obkt) write discipline
    assert(dirs.forall { d =>
      val gens = d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("ibatch="))
      gens.map(_.getName).toSeq == Seq("ibatch=-1") &&
        gens.head.listFiles().count(_.getName.endsWith(".parquet")) == 1
    }, "a bucket dir deviates from one ibatch=-1 generation with one file")

    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val id = queries.TimeSeries.LookupId
      val idx = sources.ObjectIndex.lookup(spark, out, id, nb)
      val got = idx.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = queries.TimeSeries.qObjectLookup(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.nonEmpty && got.toSeq == want.toSeq,
        s"indexed lookup differs from flat point query (${got.length} vs ${want.length})")

      // the bucket equality must be a PARTITION filter: exactly 1 of
      // nb directories listed/read; user_id must be a pushed filter
      val scans = idx.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
        "no PartitionFilters on the object-index scan")
      assert(scans.head.metrics("numFiles").value == 1L,
        s"lookup read ${scans.head.metrics("numFiles").value} files, wanted 1")
      assertRootPaths(scans.head, out, Seq(Math.floorMod(id, nb.toLong)))
      val planStr = scans.head.toString
      assert(planStr.contains("PushedFilters") && planStr.contains("user_id"),
        s"user_id filter not pushed to parquet:\n$planStr")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("object-index lookupMany prunes to the distinct buckets and matches the flat IN query") {
    val out = java.nio.file.Files.createTempDirectory("graft_objidx_many").toString
    val nb = 8 // ids 3 and 11 share bucket 3 — co-bucketed ids share one listing
    sources.ObjectIndex.build(spark, sf, out, nb)
    val ids = Seq(3L, 11L, 5L, 5L, 14L) // duplicate id + bucket collision
    val wantBuckets = ids.distinct.map(_ % nb).distinct // {3, 5, 6}
    assert(wantBuckets.size < ids.distinct.size,
      "fixture must include a same-bucket id pair")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val idx = sources.ObjectIndex.lookupMany(spark, out, ids, nb)
      val got = idx.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = Tables.events(spark, sf)
        .filter(col("user_id").isin(ids.distinct: _*))
        .selectExpr("user_id", "event_id", "ts DIV 1000 AS tus")
        .orderBy(col("user_id"), col("tus"), col("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.nonEmpty && got.toSeq == want.toSeq,
        s"batched lookup differs from flat IN query (${got.length} vs ${want.length})")
      // the bucket IN-list must be a PARTITION filter reading exactly
      // the distinct buckets (one file per bucket from the build);
      // user_id stays a pushed parquet filter
      val scans = idx.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
        "no PartitionFilters on the batched-lookup scan")
      assert(scans.head.metrics("numFiles").value == wantBuckets.size.toLong,
        s"lookupMany read ${scans.head.metrics("numFiles").value} files, " +
          s"wanted the ${wantBuckets.size} distinct buckets'")
      assertRootPaths(scans.head, out, wantBuckets)
      val planStr = scans.head.toString
      assert(planStr.contains("PushedFilters") && planStr.contains("user_id"),
        s"user_id IN-list not pushed to parquet:\n$planStr")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("object-index lookupMany at alert-scale k switches to the broadcast semi-join path") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    val out = java.nio.file.Files.createTempDirectory("graft_objidx_bigk").toString
    val nb = 8
    sources.ObjectIndex.build(spark, sf, out, nb)
    // an alert-night id list: 10^4 ids (most without events — only the
    // resolvable ones return rows, like any IN-list lookup)
    val bigIds = (0L until 10000L).toSeq
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val idx = sources.ObjectIndex.lookupMany(spark, out, bigIds, nb)
      val plan = idx.queryExecution.executedPlan
      // plan shape: the id set rides a broadcast LEFT SEMI hash join,
      // NOT a 10^4-literal predicate anywhere in the scan
      val semis = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }
      assert(semis.nonEmpty, s"no broadcast left-semi join in:\n$plan")
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
        "the bucket partition filter must survive on the broadcast path")
      for (f <- scans; e <- f.dataFilters) {
        val widths = e.collect {
          case i: In => i.list.size
          case i: InSet => i.hset.size
        }
        val wide = widths.filter(_ > sources.ObjectIndex.LookupManyInListMax)
        assert(wide.isEmpty,
          s"a ${wide.mkString(",")}-literal IN leaked into the scan on the broadcast path")
      }
      // lookup parity: the broadcast path returns exactly what the
      // IN-list path returns for the same resolvable id set
      val smallIds = Seq(3L, 11L, 5L, 14L, 2L)
      val viaInList = sources.ObjectIndex.lookupMany(spark, out, smallIds, nb)
        .collect().map(_.toSeq)
      val viaBroadcast = sources.ObjectIndex
        .lookupMany(spark, out, smallIds, nb, inListMax = 0)
        .collect().map(_.toSeq)
      assert(viaInList.nonEmpty && viaInList.toSeq == viaBroadcast.toSeq,
        "broadcast path diverges from the IN-list path on the same ids")
      // and the big-k result itself equals the flat-table IN query
      val got = idx.collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = Tables.events(spark, sf)
        .filter(col("user_id").isin(bigIds: _*))
        .selectExpr("user_id", "event_id")
        .orderBy(col("user_id"), expr("ts DIV 1000"), col("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.nonEmpty && got.toSeq == want.toSeq,
        s"big-k lookup differs from flat IN query (${got.length} vs ${want.length})")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("object-index append keeps lookups single-directory and complete") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_objidx_app").toString
    val nb = 16
    val ev = Tables.events(spark, sf)
    // build from the first half, append the second as a delta batch
    sources.ObjectIndex.build(spark, sf, out, nb)
    // overwrite with half, then append the rest (simulating ingest)
    val half = ev.filter(col("event_id") < 500)
    half.filter(col("user_id").isNotNull)
      .withColumn("obkt", pmod(col("user_id"), lit(nb)).cast("int"))
      .withColumn("ibatch", lit(sources.Store.FoldId))
      .repartition(nb, col("obkt"))
      .sortWithinPartitions("user_id", "ts", "event_id")
      .write.mode("overwrite").partitionBy("obkt", "ibatch").parquet(out)
    sources.ObjectIndex.append(spark, ev.filter(col("event_id") >= 500), out, nb)

    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val id = queries.TimeSeries.LookupId
      val idx = sources.ObjectIndex.lookup(spark, out, id, nb)
      val got = idx.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = queries.TimeSeries.qObjectLookup(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == want.toSeq, "post-append lookup lost or duplicated rows")
      // still exactly ONE bucket directory read — its (now two) files
      val bucketDir = new java.io.File(out, s"obkt=${id % nb}/ibatch=-1")
      val filesInBucket = bucketDir.listFiles().count(_.getName.endsWith(".parquet"))
      assert(filesInBucket == 2, s"expected 2 files in bucket, got $filesInBucket")
      val scans = idx.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
        "no PartitionFilters on the appended-index scan")
      assert(scans.head.metrics("numFiles").value == filesInBucket.toLong,
        s"lookup read ${scans.head.metrics("numFiles").value} files, " +
          s"wanted the bucket's $filesInBucket")
      assertRootPaths(scans.head, out, Seq(id % nb))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("object-index lookup runs one Spark job, lookupMany at most two, neither infers a schema") {
    import org.apache.spark.graftx.JobProbe
    val out = java.nio.file.Files.createTempDirectory("graft_objidx_jobs").toString
    val nb = 8
    sources.ObjectIndex.build(spark, sf, out, nb)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      var oneRows, manyRows = 0
      val one = JobProbe(spark.sparkContext) {
        oneRows = sources.ObjectIndex.lookup(spark, out, queries.TimeSeries.LookupId, nb)
          .collect().length
      }
      val many = JobProbe(spark.sparkContext) {
        manyRows = sources.ObjectIndex.lookupMany(spark, out, Seq(3L, 11L, 5L, 14L), nb)
          .collect().length
      }
      assert(oneRows > 0 && manyRows > 0, "the probes must return rows")
      assert(one.size == 1, s"lookup started ${one.size} jobs: $one")
      assert(many.size <= 2, s"lookupMany started ${many.size} jobs: $many")
      val footer = (one ++ many).flatten.filter(_.startsWith("parquet at"))
      assert(footer.isEmpty, s"a lookup inferred the index schema: $footer")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("object-index lookups of ids whose bucket directory does not exist") {
    val out = java.nio.file.Files.createTempDirectory("graft_objidx_gap").toString
    val nb = 64 // 15 distinct users at sf0.001 -> most buckets have no directory
    sources.ObjectIndex.build(spark, sf, out, nb)
    val present = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("obkt="))
      .map(_.getName.stripPrefix("obkt=").toLong).toSet
    val absent = (0L until nb).filterNot(present)
    assert(present.nonEmpty && absent.size >= 2, s"fixture buckets: $present")
    val cols = Seq("user_id", "event_id", "tus", "xc", "event_type")

    val none = sources.ObjectIndex.lookup(spark, out, absent.head + 3 * nb, nb)
    assert(none.columns.toSeq == cols && none.collect().isEmpty,
      "a lookup into a missing bucket must return no rows with the usual columns")

    val users = Tables.events(spark, sf).select("user_id").distinct()
      .collect().map(_.getLong(0)).sorted.take(3).toSeq
    val ids = users ++ absent.take(2)
    val want = Tables.events(spark, sf)
      .filter(col("user_id").isin(ids: _*))
      .selectExpr("user_id", "event_id", "ts DIV 1000 AS tus")
      .orderBy(col("user_id"), col("tus"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    for (inListMax <- Seq(sources.ObjectIndex.LookupManyInListMax, 0)) {
      val many = sources.ObjectIndex.lookupMany(spark, out, ids, nb, inListMax)
      assert(many.columns.toSeq == cols)
      val got = many.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(want.nonEmpty && got == want,
        s"lookupMany (inListMax $inListMax) over partly missing buckets: " +
          s"${got.length} rows, wanted ${want.length}")
    }
  }

  test("object-index writers project onto the declared events schema") {
    val out = java.nio.file.Files.createTempDirectory("graft_objidx_types").toString
    val nb = 8
    val ev = Tables.events(spark, sf)
    sources.ObjectIndex.build(spark, sf, out, nb)
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f).filter(_.getName.endsWith(".parquet"))
      else f.listFiles().toSeq.flatMap(parquetFiles)
    val before = parquetFiles(new java.io.File(out)).size

    // a delta without `value` fails before it writes anything
    val e = intercept[IllegalArgumentException] {
      sources.ObjectIndex.append(spark, ev.drop("value"), out, nb)
    }
    assert(e.getMessage.contains("value"), s"message does not name the column: ${e.getMessage}")
    assert(parquetFiles(new java.io.File(out)).size == before,
      "the rejected delta wrote files")

    // an INT event_id is widened to the declared LONG
    val delta = ev.filter(col("user_id") === queries.TimeSeries.LookupId)
      .withColumn("event_id", (col("event_id") + 1000000L).cast("int"))
    sources.ObjectIndex.append(spark, delta, out, nb)
    val files = parquetFiles(new java.io.File(out))
    assert(files.size > before, "the delta wrote no files")
    for (f <- files) {
      val t = spark.read.parquet(f.getPath).schema("event_id").dataType
      assert(t == org.apache.spark.sql.types.LongType, s"$f stores event_id as $t")
    }
    val ids = sources.ObjectIndex.lookup(spark, out, queries.TimeSeries.LookupId, nb)
      .collect().map(_.getLong(1))
    assert(ids.count(_ >= 1000000L) == delta.count() && ids.length == 2 * delta.count(),
      "the appended rows do not read back under the declared schema")
  }

  test("q_stetson matches a driver-side recompute; K obeys Cauchy-Schwarz") {
    // HALF_UP like Spark's round() (math.round ties toward +inf differ
    // on negative halves)
    def r6(x: Double): Long =
      BigDecimal(x * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("ts DIV 1000").as("tus"),
        round(col("value") * 100).cast("long").as("xc"),
        expr(queries.TimeSeries.BandCaseSql).as("band"))
      .collect()
      .map(r => (r.getLong(0), r.getString(4), r.getLong(2), r.getLong(1),
        r.getLong(3)))
    val got = queries.TimeSeries.qStetson(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val groups = raw.groupBy(t => (t._1, t._2))
    assert(got.keySet == groups.keySet)
    for (((uid, band), rows) <- groups) {
      val sorted = rows.sortBy(t => (t._3, t._4)) // (tus, event_id)
      val xs = sorted.map(_._5)
      val errs = xs.map(x => 3L + math.abs(x) / 50L)
      val n = xs.length
      val mean = xs.sum.toDouble / n
      val us = xs.zip(errs).map { case (x, e) => math.abs(x - mean) / e }
      val sa = us.map(r6).sum
      val sq = us.map(u => r6(u * u)).sum
      val j = (0 until n - 1).map { i =>
        val p = (n.toDouble / (n - 1.0)) *
          ((xs(i) - mean) * (xs(i + 1) - mean)) / (errs(i) * errs(i + 1))
        r6(math.signum(p) * math.sqrt(math.abs(p)))
      }.sum
      val r = got((uid, band))
      assert(r.getAs[Long]("n") == n.toLong, s"($uid,$band) n")
      assert(r.getAs[Long]("sa_c6") == sa, s"($uid,$band) sa_c6")
      assert(r.getAs[Long]("sq_c6") == sq, s"($uid,$band) sq_c6")
      assert(r.getAs[Long]("j_c6") == j, s"($uid,$band) j_c6")
      if (sq > 0) {
        val k = r.getAs[Double]("k_val")
        assert(k == sa / (1000.0 * math.sqrt(n.toDouble * sq)))
        // mean|δ| ≤ rms(δ) for ANY series (Cauchy-Schwarz); the 1e-6
        // per-term rounding can only move K by ~1e-6-scale slack
        assert(k > 0.0 && k <= 1.0 + 1e-4, s"($uid,$band) K=$k")
      }
    }
  }

  test("q_eta equals the exact rational n*sum(dx^2)/var_num recomputed brute-force") {
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("ts DIV 1000").as("tus"),
        round(col("value") * 100).cast("long").as("xc"),
        expr(queries.TimeSeries.BandCaseSql).as("band"))
      .collect()
      .map(r => (r.getLong(0), r.getString(4), r.getLong(2), r.getLong(1),
        r.getLong(3)))
    val got = queries.TimeSeries.qEta(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val groups = raw.groupBy(t => (t._1, t._2))
    assert(got.keySet == groups.keySet)
    for (((uid, band), rows) <- groups) {
      val xs = rows.sortBy(t => (t._3, t._4)).map(_._5)
      val n = xs.length.toLong
      val d2 = xs.sliding(2).collect { case Array(a, b) =>
        (b - a) * (b - a)
      }.sum
      val varNum = n * xs.map(x => x * x).sum - xs.sum * xs.sum
      val r = got((uid, band))
      assert(r.getAs[Long]("n") == n && r.getAs[Long]("d2_c100sq") == d2 &&
        r.getAs[Long]("var_num") == varNum, s"($uid,$band) sums")
      if (varNum > 0)
        assert(r.getAs[Double]("eta_val") ==
          (n * d2).toDouble / varNum, s"($uid,$band) eta")
    }
  }

  test("q_theil_sen equals the brute-force low-median of pairwise slopes") {
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("ts DIV 1000").as("tus"),
        round(col("value") * 100).cast("long").as("xc"),
        expr(queries.TimeSeries.BandCaseSql).as("band"))
      .collect()
      .map(r => (r.getLong(0), r.getString(4), r.getLong(2), r.getLong(3)))
    val got = queries.TimeSeries.qTheilSen(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val groups = raw.groupBy(t => (t._1, t._2))
    // groups with zero strict-time pairs (single epoch) must be absent
    val expKeys = groups.filter { case (_, rows) =>
      rows.map(_._3).distinct.length > 1
    }.keySet
    assert(got.keySet == expKeys)
    for (((uid, band), rows) <- groups if expKeys((uid, band))) {
      val es = rows.map(t => (t._3, t._4))
      // HALF_UP like Spark/DuckDB round() — math.round differs on
      // negative halves, and slopes are routinely negative
      val slopes = (for {
        (t1, x1) <- es; (t2, x2) <- es if t1 < t2
      } yield BigDecimal((x2 - x1).toDouble * 86400000000000.0
        / (t2 - t1).toDouble)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sorted
      val n = slopes.length.toLong
      val med = slopes(((n + 1) / 2 - 1).toInt)
      val r = got((uid, band))
      assert(r.getAs[Long]("n_pairs") == n, s"($uid,$band) n_pairs")
      assert(r.getAs[Long]("ts_slope_c3") == med, s"($uid,$band) median")
      assert(r.getAs[Double]("slope_val") == med / 1000.0)
    }
  }

  test("q_dcf equals the brute-force ensemble lag correlation") {
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts DIV 1000").as("tus"),
        round(col("value") * 100).cast("long").as("xc"),
        expr(queries.TimeSeries.BandCaseSql).as("band"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val v = queries.TimeSeries.VisitUs
    val k = queries.TimeSeries.DcfMaxLagVisits
    val pairs: Seq[(Long, Long, Long)] =
      raw.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        for {
          g <- rows.toSeq if g._4 == "g"
          r <- rows.toSeq if r._4 == "r"
          dt = r._2 - g._2 if math.abs(dt) <= k * v
        } yield ((dt + k * v) / v - k, g._3, r._3)
      }
    val exp = pairs.groupBy(_._1).map { case (bin, ps) =>
      val n = ps.length.toLong
      val sx = BigInt(ps.map(_._2).sum)
      val sy = BigInt(ps.map(_._3).sum)
      val sxy = ps.map(p => BigInt(p._2) * BigInt(p._3)).sum
      val sxx = ps.map(p => BigInt(p._2) * BigInt(p._2)).sum
      val syy = ps.map(p => BigInt(p._3) * BigInt(p._3)).sum
      val num = n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
      val dg = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
      val dr = n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble
      bin -> (n, num, dg, dr)
    }
    val got = queries.TimeSeries.qDcf(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == exp.keySet)
    // the ±2-visit window must actually populate multiple signed lags
    assert(got.keySet.exists(_ < 0) && got.keySet.exists(_ > 0))
    for ((bin, (n, num, dg, dr)) <- exp) {
      val r = got(bin)
      assert(r.getAs[Long]("n_pairs") == n, s"bin $bin n")
      assert(r.getAs[Double]("num") == num, s"bin $bin num")
      assert(r.getAs[Double]("den_g") == dg && r.getAs[Double]("den_r") == dr)
      if (n >= 2 && dg > 0 && dr > 0) {
        val c = r.getAs[Double]("dcf_corr")
        assert(c == num / (math.sqrt(dg) * math.sqrt(dr)), s"bin $bin corr")
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      }
    }
  }

  test("q_outlier_epochs equals a brute-force MAD sigma-clip census") {
    val raw = Tables.events(spark, sf)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("xc"),
        expr(queries.TimeSeries.BandCaseSql).as("band"))
      .collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(1)))
    val got = queries.TimeSeries.qOutlierEpochs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val groups = raw.groupBy(t => (t._1, t._2))
    assert(got.keySet == groups.keySet)
    var anyOut = false
    for (((uid, band), rows) <- groups) {
      val xs = rows.map(_._3).sorted
      val n = xs.length
      val med = xs((math.ceil(0.5 * n) - 1).toInt)
      val ads = xs.map(x => math.abs(x - med)).sorted
      val mad = ads((math.ceil(0.5 * n) - 1).toInt)
      val nOut = xs.count(x => math.abs(x - med) * 10000L > 44478L * mad).toLong
      val r = got((uid, band))
      assert(r.getAs[Long]("n_epochs") == n.toLong, s"($uid,$band) n")
      assert(r.getAs[Long]("med_c100") == med, s"($uid,$band) med")
      assert(r.getAs[Long]("mad_c100") == mad, s"($uid,$band) mad")
      assert(r.getAs[Long]("n_out") == nOut, s"($uid,$band) n_out")
      assert(r.getAs[Long]("out_milli") == nOut * 1000 / n)
      if (nOut > 0) anyOut = true
    }
    assert(anyOut, "corpus must exercise the clip (no outliers anywhere)")
  }

  test("q_repeatability equals a brute-force two-level RMS ensemble") {
    val raw = Tables.events(spark, sf)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("xc"),
        expr(queries.TimeSeries.BandCaseSql).as("band"))
      .collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(1)))
    val binW = queries.TimeSeries.RepeatBinC100
    val po = raw.groupBy(t => (t._1, t._2)).toSeq.flatMap { case ((uid, band), rows) =>
      val xs = rows.map(_._3)
      val n = xs.length.toLong
      if (n < 2) None else {
        val sx = xs.sum
        val varNum = n * xs.map(x => x * x).sum - sx * sx
        val rms = math.round(math.sqrt(varNum.toDouble /
          (n * (n - 1)).toDouble) * 1000.0)
        // the engine-agnostic shifted bin (floor semantics for any
        // sign of the mean; identical to sx/n/binW when sx >= 0)
        val shift = queries.TimeSeries.RepeatShiftBins
        val bin = (sx + n * shift * binW) / n / binW - shift
        Some((band, bin, uid, rms))
      }
    }
    val exp = po.groupBy(t => (t._1, t._2)).map { case (k, os) =>
      val sorted = os.sortBy(o => (o._4, o._3)).map(_._4)
      val nb = sorted.length
      val med = sorted((math.ceil(0.5 * nb) - 1).toInt)
      k -> (nb.toLong, med, sorted.sum / nb)
    }
    val got = queries.TimeSeries.qRepeatability(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    assert(got.keySet == exp.keySet)
    // the report must actually spread over multiple brightness bins
    assert(exp.keySet.map(_._2).size >= 2, "single-bin report is vacuous")
    for ((k, (nb, med, mean)) <- exp) {
      val r = got(k)
      assert(r.getAs[Long]("n_objects") == nb, s"$k n_objects")
      assert(r.getAs[Long]("median_rms_c3") == med, s"$k median")
      assert(r.getAs[Long]("mean_rms_c3") == mean, s"$k mean")
    }
  }

  test("q_changepoint equals the brute-force CUSUM argmax, and dates a planted step") {
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("ts DIV 1000").as("tus"),
        round(col("value") * 100).cast("long").as("xc"),
        expr(queries.TimeSeries.BandCaseSql).as("band"))
      .collect()
      .map(r => (r.getLong(0), r.getString(4), r.getLong(2), r.getLong(1),
        r.getLong(3)))
    val got = queries.TimeSeries.qChangepoint(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val groups = raw.groupBy(t => (t._1, t._2)).filter(_._2.length >= 2)
    assert(got.keySet == groups.keySet)
    for (((uid, band), rows) <- groups) {
      val ordered = rows.sortBy(t => (t._3, t._4))
      val xs = ordered.map(_._5)
      val n = xs.length.toLong
      val tot = xs.sum
      val devs = xs.scanLeft(0L)(_ + _).tail.zipWithIndex.init.map {
        case (pre, i) => (math.abs(n * pre - (i + 1) * tot), (i + 1).toLong)
      }
      val (dev, k) = devs.minBy { case (d, kk) => (-d, kk) }
      val r = got((uid, band))
      assert(r.getAs[Long]("cp_idx") == k, s"($uid,$band) argmax epoch")
      assert(r.getAs[Long]("dev_num") == dev, s"($uid,$band) deviation")
      assert(r.getAs[Long]("cp_tus") == ordered((k - 1).toInt)._3)
      assert(r.getAs[Double]("cusum_stat") ==
        dev.toDouble / ((n * (n - 1)).toDouble * 100.0))
    }
    // a synthetic hard step must be dated exactly at its onset
    import spark.implicits._
    val step = ((1 to 40).map(i => (1L, i.toLong, i.toLong * 1000, 100L)) ++
      (41 to 80).map(i => (1L, i.toLong, i.toLong * 1000, 900L)))
      .toDF("user_id", "event_id", "tus", "xc").withColumn("band", lit("g"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("band"))
    val w = wg.orderBy(col("tus"), col("event_id"))
    // re-run the same plan body over the planted frame via a local copy
    val t = step
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("pre", sum(col("xc")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wg))
      .withColumn("tot", sum(col("xc")).over(wg))
      .filter(col("k") < col("n"))
      .withColumn("dev", abs(col("n") * col("pre") - col("k") * col("tot")))
      .withColumn("rn", row_number().over(wg.orderBy(col("dev").desc, col("k"))))
      .filter(col("rn") === 1).collect()
    assert(t.head.getAs[Long]("k") == 40L,
      "CUSUM must date the step at the last pre-step epoch")
  }

  test("q_cadence equals a brute-force gap census") {
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("ts DIV 1000").as("tus"),
        expr(queries.TimeSeries.BandCaseSql).as("band"))
      .collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(2), r.getLong(1)))
    val got = queries.TimeSeries.qCadence(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val groups = raw.groupBy(t => (t._1, t._2))
    val expKeys = groups.filter(_._2.length >= 2).keySet
    assert(got.keySet == expKeys, "single-epoch groups must be absent")
    for (((uid, band), rows) <- groups if expKeys((uid, band))) {
      val ts = rows.sortBy(t => (t._3, t._4)).map(_._3)
      val gaps = ts.sliding(2).map { case Array(a, b) => b - a }.toSeq.sorted
      val med = gaps((math.ceil(0.5 * gaps.length) - 1).toInt)
      val r = got((uid, band))
      assert(r.getAs[Long]("n_epochs") == ts.length.toLong)
      assert(r.getAs[Long]("n_nights") ==
        ts.map(_ / 86400000000L).distinct.length.toLong)
      assert(r.getAs[Long]("span_us") == ts.max - ts.min)
      assert(r.getAs[Long]("median_gap_us") == med, s"($uid,$band) median gap")
      assert(r.getAs[Long]("max_gap_us") == gaps.max)
    }
  }

  test("q_phase_coverage equals a brute-force occupancy census at the PDM argmax") {
    val q = queries.TimeSeries
    val nb = q.PhaseBins
    val raw = Tables.events(spark, sf)
      .filter(col("user_id").isNotNull)
      .selectExpr("user_id", "ts DIV 1000 AS tus", "CAST(ROUND(value*100) AS LONG) AS xc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // driver-side PDM argmax, the periodogram spec's formula
    def bestOf(rows: Seq[(Long, Long, Long)]): Long =
      q.PeriodGridUs.map { p =>
        val score = rows.groupBy(t => (t._2 % p) * nb / p)
          .map { case (_, xs) =>
            val sb = xs.map(_._3).sum; sb * sb / xs.length }.sum
        (score, -p)
      }.zip(q.PeriodGridUs).maxBy(_._1)._2
    val got = queries.TimeSeries.qPhaseCoverage(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val groups = raw.groupBy(_._1)
    assert(got.keySet == groups.keySet)
    var anyFull = false
    for ((uid, rows) <- groups) {
      val p = bestOf(rows)
      val occ = rows.groupBy(t => (t._2 % p) * nb / p).map(_._2.length.toLong)
      val r = got(uid)
      assert(r.getAs[Long]("best_p_us") == p, s"user $uid argmax")
      assert(r.getAs[Long]("n_epochs") == rows.length.toLong)
      assert(r.getAs[Long]("bins_hit") == occ.size.toLong, s"user $uid bins")
      assert(r.getAs[Long]("min_bin_n") == occ.min)
      assert(r.getAs[Long]("max_bin_n") == occ.max)
      assert(r.getAs[Long]("coverage_milli") == occ.size.toLong * 1000 / nb)
      assert(r.getAs[Int]("alias_flag") == (if (occ.size < nb) 1 else 0))
      if (occ.size == nb) anyFull = true
    }
    assert(anyFull, "no fully-covered object — occupancy census vacuous")
    // a cadence commensurate with the period must raise the alias
    // flag: sampling every exactly-one-period lands ALL epochs in one
    // phase bin no matter how high the fold score looks
    val p0 = q.PeriodGridUs.head
    val aliased = (0 until 40).map(i => (1L, i.toLong * p0, 100L + i % 3))
    val occA = aliased.groupBy(t => (t._2 % bestOf(aliased)) * nb / bestOf(aliased))
    assert(occA.size < nb, "planted commensurate cadence failed to alias")
  }

  test("q_lomb_scargle dates a planted sinusoid and equals a brute-force GLS recompute") {
    import spark.implicits._
    val q = queries.TimeSeries
    // plant a pure sinusoid at a grid period (24 h), sampled at an
    // incommensurate ~2.2 h cadence over ~30 days, plus a constant
    // (degenerate) object that must drop out of the argmax entirely
    val pStar = 24L * 3600000000L
    val step = 7919000000L
    val rows = (0 until 330).map { i =>
      val t = i.toLong * step
      (1L, t, math.round(1000.0 * math.sin(2.0 * math.Pi * (t % pStar)
        .toDouble / pStar.toDouble)))
    } ++ (0 until 50).map(i => (2L, i.toLong * step, 500L))
    val ser = rows.toDF("user_id", "tus", "xc")
    val got = q.lombScargleOver(ser).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L), "constant object must drop (zero variance)")
    assert(got(1L).getAs[Long]("best_p_us") == pStar,
      s"argmax ${got(1L).getAs[Long]("best_p_us")} != planted $pStar")
    assert(got(1L).getAs[Double]("ls_power") > 0.9,
      "a clean sinusoid at a grid period must score near 1")
    // brute-force recompute with the SAME quantized tables and chain
    val ser1 = rows.filter(_._1 == 1L)
    val powers = q.PeriodGridUs.flatMap { p =>
      val bs = ser1.map { case (_, t, x) =>
        (x, ((t % p) * q.LsBins) / p) }
      val cs = bs.map { case (x, b) => (x, q.LsCosTab(b.toInt), q.LsSinTab(b.toInt)) }
      val n = cs.length.toLong
      val sx = cs.map(_._1).sum; val sxx = cs.map(t => t._1 * t._1).sum
      val sc = cs.map(_._2).sum; val ss = cs.map(_._3).sum
      val sxc = cs.map(t => t._1 * t._2).sum
      val sxs = cs.map(t => t._1 * t._3).sum
      val scc = cs.map(t => t._2 * t._2).sum
      val sss = cs.map(t => t._3 * t._3).sum
      val scs = cs.map(t => t._2 * t._3).sum
      val (ccn, ssn, csn) = (n * scc - sc * sc, n * sss - ss * ss, n * scs - sc * ss)
      val (xcn, xsn, xxn) = (n * sxc - sx * sc, n * sxs - sx * ss, n * sxx - sx * sx)
      val num = ssn.toDouble * xcn.toDouble * xcn.toDouble -
        2.0 * csn.toDouble * xcn.toDouble * xsn.toDouble +
        ccn.toDouble * xsn.toDouble * xsn.toDouble
      val den = xxn.toDouble * (ccn.toDouble * ssn.toDouble - csn.toDouble * csn.toDouble)
      if (den > 0.0) Some((p, num / den)) else None
    }
    val (bestP, bestPw) = powers.maxBy { case (p, pw) => (pw, -p) }
    assert(bestP == pStar)
    assert(got(1L).getAs[Double]("ls_power") == bestPw,
      "engine power differs from the exact-integer recompute chain")
    // power is a normalized statistic: every grid cell lands in [0, 1]
    // (allowing quantization slack above 1 would hide a formula bug)
    assert(powers.forall { case (_, pw) => pw >= 0.0 && pw <= 1.0 + 1e-9 },
      s"GLS power left [0,1]: ${powers.filterNot(t => t._2 >= 0 && t._2 <= 1 + 1e-9)}")
  }

  test("q_lomb_scargle_band separates band-distinct planted periods per (object, band)") {
    import spark.implicits._
    val q = queries.TimeSeries
    // ONE object whose g band pulses at 24 h and whose r band pulses
    // at 48 h — a chromatic variable the mixed-stream search cannot
    // represent (it must pick one period); the banded search must
    // recover BOTH, independently, from the interleaved stream.
    val pG = 24L * 3600000000L
    val pR = 48L * 3600000000L
    val step = 7919000000L
    def sine(t: Long, p: Long): Long =
      math.round(1000.0 * math.sin(2.0 * math.Pi * (t % p).toDouble / p.toDouble))
    val rows =
      (0 until 330).map { i =>
        val t = i.toLong * step
        (1L, t, sine(t, pG), "g")
      } ++ (0 until 330).map { i =>
        val t = i.toLong * step + 1234567L // offset: bands interleave
        (1L, t, sine(t, pR), "r")
      } ++ (0 until 50).map(i => (2L, i.toLong * step, 500L, "g"))
    val ser = rows.toDF("user_id", "tus", "xc", "band")
    val got = q.lombScargleBandOver(ser).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    assert(got.keySet == Set((1L, "g"), (1L, "r")),
      "constant (object, band) series must drop; both variable bands must survive")
    assert(got((1L, "g")).getAs[Long]("best_p_us") == pG,
      s"g-band argmax ${got((1L, "g")).getAs[Long]("best_p_us")} != planted $pG")
    assert(got((1L, "r")).getAs[Long]("best_p_us") == pR,
      s"r-band argmax ${got((1L, "r")).getAs[Long]("best_p_us")} != planted $pR")
    assert(got((1L, "g")).getAs[Double]("ls_power") > 0.9)
    assert(got((1L, "r")).getAs[Double]("ls_power") > 0.9)
    assert(got((1L, "g")).getAs[Long]("n_epochs") == 330L)
    // the per-band split must agree with running the MIXED-stream GLS
    // on each band's sub-series alone — banding is a key change, not
    // a statistic change
    for (b <- Seq("g", "r")) {
      val sub = rows.filter(t => t._1 == 1L && t._4 == b)
        .map(t => (t._1, t._2, t._3)).toDF("user_id", "tus", "xc")
      val solo = q.lombScargleOver(sub).collect().head
      assert(solo.getAs[Long]("best_p_us") ==
        got((1L, b)).getAs[Long]("best_p_us"), s"$b argmax vs solo run")
      assert(solo.getAs[Double]("ls_power") ==
        got((1L, b)).getAs[Double]("ls_power"), s"$b power vs solo run")
    }
  }

  test("r16 band features equal brute-force recomputes (beyond1std, rcs, max_slope, flux_ratio)") {
    def bandOf(et: String): String = et match {
      case "click" => "u"; case "error" => "g"; case "purchase" => "r"
      case "signup" => "i"; case _ => "z"
    }
    // (uidOpt, band) -> rows of (event_id, tus, xc) — the driver-side
    // banded series, null keys included exactly as the queries keep them
    val raw = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "ts DIV 1000 AS tus",
        "CAST(ROUND(value*100) AS LONG) AS xc", "event_type")
      .collect()
      .map(r => (Option(r.getAs[java.lang.Long]("user_id")).map(_.toLong),
        bandOf(r.getAs[String]("event_type")),
        r.getAs[Long]("event_id"), r.getAs[Long]("tus"), r.getAs[Long]("xc")))
    val groups = raw.groupBy(t => (t._1, t._2))
    def key(r: org.apache.spark.sql.Row) =
      (Option(r.getAs[java.lang.Long]("user_id")).map(_.toLong),
        r.getAs[String]("band"))

    // beyond1std: exact BigInt sigma test
    val b1 = queries.TimeSeries.qBeyond1std(spark, sf).collect()
      .map(r => key(r) -> r).toMap
    assert(b1.keySet == groups.keySet)
    for ((k, rows) <- groups) {
      val n = BigInt(rows.length)
      val sx = BigInt(rows.map(_._5).sum)
      val sxx = rows.map(t => BigInt(t._5) * t._5).sum
      val nBeyond = rows.count { t =>
        val dev = n * t._5 - sx
        (n - 1) * dev * dev > n * (n * sxx - sx * sx)
      }
      assert(b1(k).getAs[Long]("n_beyond") == nBeyond.toLong, s"beyond1std $k")
      assert(b1(k).getAs[Long]("n_epochs") == rows.length.toLong)
      assert(b1(k).getAs[Long]("beyond_permille") ==
        nBeyond.toLong * 1000 / rows.length)
    }
    // a healthy variable group should have SOME epochs beyond 1 sigma
    assert(b1.values.exists(_.getAs[Long]("n_beyond") > 0), "flag never fires")
    assert(b1.values.exists(r => r.getAs[Long]("n_beyond") <
      r.getAs[Long]("n_epochs")), "flag always fires")

    // rcs: n-scaled cumulative walk extremes
    val rc = queries.TimeSeries.qRcs(spark, sf).collect()
      .map(r => key(r) -> r).toMap
    assert(rc.keySet == groups.keySet)
    for ((k, rows) <- groups) {
      val srt = rows.sortBy(t => (t._4, t._3))
      val n = srt.length.toLong
      val sx = srt.map(_._5).sum
      val cums = srt.scanLeft(0L)(_ + _._5).tail
      val ts = cums.zipWithIndex.map { case (c, i) => n * c - (i + 1) * sx }
      assert(rc(k).getAs[Long]("rcs_num") == ts.max - ts.min, s"rcs $k")
      val sxx = srt.map(t => t._5 * t._5).sum
      assert(rc(k).getAs[Long]("var_num") == n * sxx - sx * sx, s"rcs var $k")
      if (n > 1 && n * sxx - sx * sx > 0) {
        val expect = (ts.max - ts.min).toDouble / (n.toDouble * n.toDouble *
          math.sqrt((n * sxx - sx * sx).toDouble / (n * (n - 1)).toDouble))
        assert(rc(k).getAs[Double]("rcs_val") == expect, s"rcs_val $k")
      }
    }

    // max_slope: consecutive-pair max, zero-lag pairs excluded
    val ms = queries.TimeSeries.qMaxSlope(spark, sf).collect()
      .map(r => key(r) -> r).toMap
    for ((k, rows) <- groups) {
      val srt = rows.sortBy(t => (t._4, t._3))
      val pairs = srt.zip(srt.tail).filter { case (a, b) => b._4 > a._4 }
      if (pairs.isEmpty) assert(!ms.contains(k), s"max_slope empty $k")
      else {
        val expect = pairs.map { case (a, b) =>
          math.abs((b._5 - a._5).toDouble * 60000000.0 /
            (b._4 - a._4).toDouble) }.max
        assert(ms(k).getAs[Long]("n_pairs") == pairs.length.toLong)
        assert(ms(k).getAs[Double]("max_slope_c100_min") == expect,
          s"max_slope $k")
      }
    }

    // flux_ratio: discrete-rank percentile ratios
    val fr = queries.TimeSeries.qFluxRatio(spark, sf).collect()
      .map(r => key(r) -> r).toMap
    assert(fr.keySet == groups.keySet)
    for ((k, rows) <- groups) {
      val srt = rows.sortBy(t => (t._5, t._3)).map(_._5)
      val n = srt.length
      def at(q: Double) = srt(math.ceil(q * n).toInt - 1)
      assert(fr(k).getAs[Long]("mid50_num") == at(0.625) - at(0.375), s"fpr $k")
      assert(fr(k).getAs[Long]("mid80_num") == at(0.90) - at(0.10), s"fpr $k")
      assert(fr(k).getAs[Long]("den") == at(0.95) - at(0.05), s"fpr $k")
      if (at(0.95) - at(0.05) > 0)
        assert(fr(k).getAs[Double]("fpr_mid50") ==
          (at(0.625) - at(0.375)).toDouble / (at(0.95) - at(0.05)).toDouble)
    }
    // mid ratios are nested percentile spreads: mid50 ⊆ mid80 ⊆ den
    for (r <- fr.values if r.getAs[Long]("den") > 0) {
      assert(r.getAs[Long]("mid50_num") <= r.getAs[Long]("mid80_num"))
      assert(r.getAs[Long]("mid80_num") <= r.getAs[Long]("den"))
    }
  }

  test("r16 band features cost exactly ONE data shuffle each (plan-shape pin)") {
    // the scale property the bench comments promise: windows, flags,
    // and the final aggregate all ride one (object, band) hash
    // exchange; a second data exchange appearing between window and
    // aggregate is the regression these entries exist to catch. The
    // presentation orderBy adds one RANGE exchange — excluded by the
    // partitioning check.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for ((name, fn) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
        ("q_beyond1std", queries.TimeSeries.qBeyond1std),
        ("q_rcs", queries.TimeSeries.qRcs),
        ("q_max_slope", queries.TimeSeries.qMaxSlope),
        ("q_flux_ratio", queries.TimeSeries.qFluxRatio))) {
        val plan = fn(spark, sf).queryExecution.executedPlan
        val hashShuffles = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
        }
        assert(hashShuffles.size == 1,
          s"$name must cost exactly one (object, band) hash shuffle, " +
            s"got ${hashShuffles.size}:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q_multiband_gls joins band evidence, punishes anti-phase, equals the recompute") {
    import spark.implicits._
    val q = queries.TimeSeries
    val pStar = 24L * 3600000000L
    val step = 7919000000L
    def sine(t: Long, p: Long): Double =
      math.sin(2.0 * math.Pi * (t % p).toDouble / p.toDouble)
    // object 1: the SHARED-PHASE case — g and r pulse at the same
    // 24 h period and phase, different amplitudes and means, each
    // band too sparse (40 epochs) to matter alone vs the joint fit
    // object 2: the ANTI-PHASE case — same period, g = -r: each band
    // alone is a clean sinusoid, but no SHARED sinusoid fits both
    // object 3: single-band — must degrade to the per-band GLS
    val rows =
      (0 until 40).map { i =>
        val t = i.toLong * step
        (1L, t, 700L + math.round(1000.0 * sine(t, pStar)), "g")
      } ++ (0 until 40).map { i =>
        val t = i.toLong * step + 987654L
        (1L, t, 300L + math.round(400.0 * sine(t, pStar)), "r")
      } ++ (0 until 120).map { i =>
        val t = i.toLong * step
        (2L, t, math.round(1000.0 * sine(t, pStar)), "g")
      } ++ (0 until 120).map { i =>
        val t = i.toLong * step
        (2L, t, -math.round(1000.0 * sine(t, pStar)), "r")
      } ++ (0 until 120).map { i =>
        val t = i.toLong * step
        (3L, t, math.round(1000.0 * sine(t, pStar)), "i")
      }
    val ser = rows.toDF("user_id", "tus", "xc", "band")
    val got = q.multibandGlsOver(ser).collect()
      .map(r => r.getLong(0) -> r).toMap
    // shared phase: the joint fit dates the period with high power
    assert(got(1L).getAs[Long]("best_p_us") == pStar, "shared-phase argmax")
    // 40 epochs/band is deliberately sparse — the joint fit still
    // scores ~0.85 where the thresholds below reject anti-phase at
    // <0.2; headroom, not slack
    assert(got(1L).getAs[Double]("mb_power") > 0.8, "shared-phase power")
    assert(got(1L).getAs[Long]("n_bands") == 2L)
    assert(got(1L).getAs[Long]("n_epochs") == 80L)
    // anti-phase: each band alone scores ~1 at pStar, but the SHARED
    // sinusoid explains (almost) nothing — the joint model must
    // refuse what the per-band statistic would happily report
    val perBand = q.lombScargleBandOver(ser).collect()
      .filter(_.getLong(0) == 2L)
      .map(r => r.getString(1) -> r).toMap
    assert(perBand("g").getAs[Double]("ls_power") > 0.9)
    assert(perBand("r").getAs[Double]("ls_power") > 0.9)
    assert(got(2L).getAs[Double]("mb_power") < 0.2,
      s"anti-phase joint power ${got(2L).getAs[Double]("mb_power")} not rejected")
    // single-band object: the joint statistic degrades to that band's
    // GLS (algebraically identical; IEEE paths differ only in the
    // scale-invariant normalization, so compare to 1e-12 relative)
    val solo = q.lombScargleBandOver(ser).collect()
      .filter(_.getLong(0) == 3L).head
    assert(got(3L).getAs[Long]("best_p_us") == solo.getAs[Long]("best_p_us"))
    val (pm, ps) = (got(3L).getAs[Double]("mb_power"),
      solo.getAs[Double]("ls_power"))
    assert(math.abs(pm - ps) <= 1e-12 * math.max(pm.abs, ps.abs),
      s"single-band degradation: joint $pm vs per-band $ps")
    // brute-force recompute of the full fixed chain for object 1 at
    // every grid period: quantized tables, int64 sums, normalized
    // band terms in GlsBands order, the identical power formula
    val ser1 = rows.filter(_._1 == 1L)
    val powers = q.PeriodGridUs.flatMap { p =>
      val byBand = ser1.groupBy(_._4).map { case (b, rs) =>
        val cs = rs.map { case (_, t, x, _) =>
          val bin = (((t % p) * q.LsBins) / p).toInt
          (x, q.LsCosTab(bin), q.LsSinTab(bin))
        }
        val n = cs.length.toLong
        val sx = cs.map(_._1).sum; val sxx = cs.map(c => c._1 * c._1).sum
        val sc = cs.map(_._2).sum; val ss = cs.map(_._3).sum
        val sxc = cs.map(c => c._1 * c._2).sum
        val sxs = cs.map(c => c._1 * c._3).sum
        val scc = cs.map(c => c._2 * c._2).sum
        val sss = cs.map(c => c._3 * c._3).sum
        val scs = cs.map(c => c._2 * c._3).sum
        b -> Map(
          "ccn" -> (n * scc - sc * sc), "ssn" -> (n * sss - ss * ss),
          "csn" -> (n * scs - sc * ss), "xcn" -> (n * sxc - sx * sc),
          "xsn" -> (n * sxs - sx * ss), "xxn" -> (n * sxx - sx * sx),
          "n" -> n)
      }
      def tsum(stat: String): Double = q.GlsBands.map(b =>
        byBand.get(b).map(m => m(stat).toDouble / m("n").toDouble)
          .getOrElse(0.0)).reduceLeft(_ + _)
      val (a, bb, c) = (tsum("ccn"), tsum("csn"), tsum("ssn"))
      val (d, e, sst) = (tsum("xcn"), tsum("xsn"), tsum("xxn"))
      val num = c * d * d - 2.0 * bb * d * e + a * e * e
      val den = (a * c - bb * bb) * sst
      if (den > 0.0) Some((p, num / den)) else None
    }
    val (bestP, bestPw) = powers.maxBy { case (p, pw) => (pw, -p) }
    assert(bestP == pStar)
    assert(got(1L).getAs[Double]("mb_power") == bestPw,
      "engine joint power differs from the exact recompute chain")
    assert(powers.forall { case (_, pw) => pw >= 0.0 && pw <= 1.0 + 1e-9 },
      "joint power left [0,1]")
  }

  test("q_harmonic_fit recovers a planted sinusoid's amplitude, mean, and coefficients") {
    import spark.implicits._
    val q = queries.TimeSeries
    // x = 700 + 1000*sin(2pi t/p*): amplitude 1000 c100, mean 700,
    // alpha ~ 0 (pure sine phase), beta ~ 1000
    val pStar = 24L * 3600000000L
    val step = 7919000000L
    val rows = (0 until 330).map { i =>
      val t = i.toLong * step
      (1L, t, 700L + math.round(1000.0 * math.sin(
        2.0 * math.Pi * (t % pStar).toDouble / pStar.toDouble)))
    }
    val got = q.harmonicFitOver(rows.toDF("user_id", "tus", "xc")).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("best_p_us") == pStar)
    // quantization (512 phase bins, 1e-4 trig table, integer flux)
    // bounds the recovery error to well under 1%
    assert(math.abs(r.getAs[Double]("amp_c100") - 1000.0) < 10.0,
      s"amplitude ${r.getAs[Double]("amp_c100")} far from planted 1000")
    assert(math.abs(r.getAs[Double]("mean_c100") - 700.0) < 10.0,
      s"mean ${r.getAs[Double]("mean_c100")} far from planted 700")
    assert(math.abs(r.getAs[Double]("beta_c100") - 1000.0) < 10.0,
      "sine coefficient must carry the planted amplitude")
    assert(math.abs(r.getAs[Double]("alpha_c100")) < 25.0,
      "cosine coefficient of a pure sine must be near zero")
    // amp is exactly the hash-checked chain over the coefficients
    assert(r.getAs[Double]("amp_c100") ==
      math.sqrt(r.getAs[Double]("alpha_c100") * r.getAs[Double]("alpha_c100") +
        r.getAs[Double]("beta_c100") * r.getAs[Double]("beta_c100")))
  }

  test("q_skewness equals the exact rational g1 = T3/V^1.5 recomputed with BigInt") {
    val raw = Tables.events(spark, sf)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("xc"),
        expr(queries.TimeSeries.BandCaseSql).as("band"))
      .collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(1)))
    val got = queries.TimeSeries.qSkewness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val groups = raw.groupBy(t => (t._1, t._2))
    assert(got.keySet == groups.keySet)
    var anyNonzero = false
    for (((uid, band), rows) <- groups) {
      val xs = rows.map(t => BigInt(t._3))
      val n = BigInt(xs.length)
      val s1 = xs.sum; val s2 = xs.map(x => x * x).sum
      val s3 = xs.map(x => x * x * x).sum
      val t3 = n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
      val v = n * s2 - s1 * s1
      val r = got((uid, band))
      assert(r.getAs[Long]("n_epochs") == xs.length.toLong)
      assert(r.getAs[Long]("var_num") == v.toLong, s"($uid,$band) V")
      if (v > 0) {
        // hashed columns are the exact sign/quotient/remainder split
        // (T3 can exceed 2^64, where a double cast 1-ULP-diverges
        // cross-engine); the readable is the identical IEEE rebuild
        val sgn = if (t3 < 0) -1 else 1
        val q = t3.abs / v
        val rem = t3.abs % v
        assert(r.getAs[Int]("t3_sign") == sgn, s"($uid,$band) sign")
        assert(r.getAs[Long]("t3q") == q.toLong, s"($uid,$band) T3 quot")
        assert(r.getAs[Long]("t3r") == rem.toLong, s"($uid,$band) T3 rem")
        val g1 = sgn.toDouble * (q.toDouble + rem.toDouble / v.toLong.toDouble) /
          math.sqrt(v.toLong.toDouble)
        assert(r.getAs[Double]("skew_val") == g1, s"($uid,$band) g1")
        if (math.abs(g1) > 0.1) anyNonzero = true
      }
    }
    assert(anyNonzero, "corpus must exercise asymmetry (all-symmetric is vacuous)")
  }

  test("q_kurtosis equals the exact rational T4/V^2 - 3 recomputed with BigInt") {
    val raw = Tables.events(spark, sf)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("xc"),
        expr(queries.TimeSeries.BandCaseSql).as("band"))
      .collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(1)))
    val got = queries.TimeSeries.qKurtosis(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val groups = raw.groupBy(t => (t._1, t._2))
    assert(got.keySet == groups.keySet)
    for (((uid, band), rows) <- groups) {
      val xs = rows.map(t => BigInt(t._3))
      val n = BigInt(xs.length)
      val s1 = xs.sum; val s2 = xs.map(x => x * x).sum
      val s3 = xs.map(x => x * x * x).sum
      val s4 = xs.map(x => x * x * x * x).sum
      val t4 = n * n * n * s4 - 4 * n * n * s1 * s3 +
        6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
      val v = n * s2 - s1 * s1
      val r = got((uid, band))
      assert(r.getAs[Long]("var_num") == v.toLong)
      if (v > 0) {
        val t4v = t4 / v // BigInt division truncates like both engines
        assert(r.getAs[Long]("t4v") == t4v.toLong, s"($uid,$band) T4 DIV V")
        val g2 = t4v.toDouble / v.toDouble - 3.0
        assert(r.getAs[Double]("kurt_val") == g2, s"($uid,$band) g2")
        // m4/sigma^4 >= 1 always, so g2 >= -2 for ANY series (the
        // DIV floor can only pull it microscopically lower)
        assert(g2 >= -2.0 - 1e-6, s"($uid,$band) impossible kurtosis $g2")
      }
    }
  }

  test("q_amplitude equals the brute-force discrete percentile spread") {
    val raw = Tables.events(spark, sf)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("xc"),
        expr(queries.TimeSeries.BandCaseSql).as("band"))
      .collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(1)))
    val got = queries.TimeSeries.qAmplitude(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    val groups = raw.groupBy(t => (t._1, t._2))
    assert(got.keySet == groups.keySet)
    for (((uid, band), rows) <- groups) {
      val xs = rows.map(_._3).sorted
      val n = xs.length
      def pct(q: Double) = xs((math.ceil(q * n) - 1).toInt)
      val (p05, med, p95) = (pct(0.05), pct(0.5), pct(0.95))
      val r = got((uid, band))
      assert(r.getAs[Long]("p05_c100") == p05 &&
        r.getAs[Long]("med_c100") == med &&
        r.getAs[Long]("p95_c100") == p95, s"($uid,$band) percentiles")
      assert(r.getAs[Long]("amp2_c100") == p95 - p05)
      assert(r.getAs[Double]("amp_val") == (p95 - p05) / 2.0)
      if (med > 0)
        assert(r.getAs[Long]("amp_milli") == (p95 - p05) * 1000 / (2 * med))
      // percentile spread can never exceed the raw range
      assert(p95 - p05 <= xs.max - xs.min)
    }
  }

  test("q_lightcurve_pack plan: the pack is ONE object-key hash shuffle") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = queries.TimeSeries.qLightcurvePack(spark, sf)
        .queryExecution.executedPlan
      val hashShuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
      }
      assert(hashShuffles.size == 1,
        s"the export pack must cost exactly the object-key shuffle, got ${hashShuffles.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q_periodic_candidates is the exact intersection of its two gates and both gates bind") {
    val J = queries.TimeSeries.StetsonJMin
    val P = queries.TimeSeries.LsPowerMin
    val st = queries.TimeSeries.qStetson(spark, sf).collect()
      .map(r => (r.getLong(0),
        Option(r.getAs[java.lang.Double]("j_val")).map(_.toDouble)))
    val jPass = st.filter(_._2.exists(_ >= J)).groupBy(_._1)
      .map { case (uid, rows) =>
        uid -> (rows.flatMap(_._2).max, rows.length.toLong) }
    val ls = queries.TimeSeries.qLombScargle(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("ls_power")).toMap
    val pPass = ls.filter(_._2 >= P)
    val expected = jPass.keySet.intersect(pPass.keySet)
    val got = queries.TimeSeries.qPeriodicCandidates(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == expected)
    for (uid <- expected) {
      assert(got(uid).getAs[Double]("j_max") == jPass(uid)._1, s"j_max $uid")
      assert(got(uid).getAs[Long]("n_bands_var") == jPass(uid)._2,
        s"n_bands_var $uid")
      assert(got(uid).getAs[Double]("ls_power") == pPass(uid), s"power $uid")
    }
    // both gates must BIND: each alone admits more than the pair
    assert(jPass.keySet.size > expected.size,
      "J gate never rejects a periodic object — threshold vacuous")
    assert(pPass.keySet.size > expected.size,
      "power gate never rejects a variable object — threshold vacuous")
    assert(expected.nonEmpty, "gate composition is vacuous at this SF")
  }

  test("q_lightcurve_pack arrays are the (tus, event_id)-sorted series and the sig pins them") {
    import spark.implicits._
    val raw = queries.TimeSeries.series(spark, sf)
      .collect()
      .map(r => (Option(r.getAs[java.lang.Long]("user_id")).map(_.toLong),
        r.getAs[Long]("event_id"), r.getAs[Long]("tus"), r.getAs[Long]("xc")))
    // the pack excludes anonymous (null-keyed) events — mirror it
    val exp = raw.filter(_._1.isDefined).groupBy(_._1).map { case (uid, rows) =>
      val srt = rows.sortBy(t => (t._3, t._2)) // (tus, event_id)
      uid -> (srt.map(_._3).toSeq, srt.map(_._4).toSeq)
    }
    val packed = queries.TimeSeries
      .lightcurvePack(queries.TimeSeries.series(spark, sf))
      .collect()
    assert(packed.length == exp.size)
    for (r <- packed) {
      val uid = Option(r.getAs[java.lang.Long]("user_id")).map(_.toLong)
      val (et, ex) = exp(uid)
      assert(r.getAs[scala.collection.Seq[Long]]("t_us").toSeq == et,
        s"t_us for $uid")
      assert(r.getAs[scala.collection.Seq[Long]]("x_c100").toSeq == ex,
        s"x_c100 for $uid")
      assert(r.getAs[Long]("n_epochs") == et.length.toLong)
      assert(r.getAs[Long]("t_first") == et.head)
      assert(r.getAs[Long]("t_last") == et.last)
    }
    // the registered entry's signature is the md5 of the packed stream
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val sigs = queries.TimeSeries.qLightcurvePack(spark, sf).collect()
      .map(r => Option(r.getAs[java.lang.Long]("user_id")).map(_.toLong) ->
        r.getAs[String]("series_sig")).toMap
    for ((uid, (et, ex)) <- exp) {
      val stream = et.zip(ex).map { case (t, x) => s"$t:$x" }.mkString(",")
      assert(sigs(uid) == md5hex(stream), s"sig for $uid")
    }
  }

  test("q_bls dates a planted box transit and equals the brute-force window scan") {
    import spark.implicits._
    val q = queries.TimeSeries
    // baseline 1000 c with a −300 c dip exactly filling phase bin 0 of
    // a 24 h period, sampled at an incommensurate ~2.2 h cadence over
    // ~30 days; a constant object must drop (zero flux variance); GLS
    // would smear this square dip — BLS is built for it
    val pStar = 24L * 3600000000L
    val step = 7919000000L
    val rows = (0 until 330).map { i =>
      val t = i.toLong * step
      val inTransit = ((t % pStar) * q.BlsBins) / pStar == 0L
      (1L, t, if (inTransit) 700L else 1000L)
    } ++ (0 until 50).map(i => (2L, i.toLong * step, 500L))
    val got = q.blsOver(rows.toDF("user_id", "tus", "xc")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L), "constant object must drop (zero variance)")
    val r1 = got(1L)
    assert(r1.getAs[Long]("best_p_us") == pStar,
      s"argmax ${r1.getAs[Long]("best_p_us")} != planted $pStar")
    assert(r1.getAs[Long]("w_start") == 0L && r1.getAs[Long]("w_width") == 1L,
      s"window (${r1.getAs[Long]("w_start")}, ${r1.getAs[Long]("w_width")})")
    // a noise-free two-level box is a PERFECT fit: D² and n_W·n_out·XXn
    // are the same exact integer (< 2^53 here), so power is exactly 1
    assert(r1.getAs[Double]("bls_power") == 1.0,
      s"power ${r1.getAs[Double]("bls_power")} != 1.0")
    assert(r1.getAs[Double]("depth_c100") == -300.0,
      s"depth ${r1.getAs[Double]("depth_c100")} != -300")
    // brute-force recompute of every (period, window) cell with the
    // same integer statistics and IEEE chain — best cell must agree
    val ser1 = rows.filter(_._1 == 1L)
    val cand = for {
      p <- q.PeriodGridUs
      bs = ser1.map { case (_, t, x) => (x, (((t % p) * q.BlsBins) / p).toInt) }
      n = bs.length.toLong
      sx = bs.map(_._1).sum
      xxn = n * bs.map(t => t._1 * t._1).sum - sx * sx
      w <- 1 to q.BlsMaxW
      st <- 0 until q.BlsBins
      inW = bs.filter { case (_, b) => (b - st + q.BlsBins) % q.BlsBins < w }
      nw = inW.length.toLong
      if nw > 0 && nw < n && xxn > 0
      sw = inW.map(_._1).sum
      d = n * sw - nw * sx
    } yield (d.toDouble * d.toDouble /
        ((nw.toDouble * (n - nw).toDouble) * xxn.toDouble),
      -p, -st, -w)
    val best = cand.max
    assert(best._1 == r1.getAs[Double]("bls_power") && -best._2 == pStar)
    // power is a variance-explained ratio: every valid cell is in [0,1]
    assert(cand.forall(c => c._1 >= 0.0 && c._1 <= 1.0 + 1e-9),
      "BLS power left [0,1]")
  }

  test("q_transit_recovery: a constant-flux fixture is fully recovered above the epoch floor and lost below it") {
    import spark.implicits._
    val q = queries.TimeSeries
    // two CONSTANT-flux objects (uids 1, 2 → injected widths 2 and 3,
    // so no half-period alias can cover the dip with a ≤3-bin window):
    // the injected dip is the ONLY structure, so wherever the epoch
    // floor passes, BLS at the injected period isolates the dip
    // exactly (power = 1.0) and the gate must recover EVERY object at
    // EVERY depth; 96 sequential event ids make the keep-octiles
    // exact: keep 8 → 96 epochs, keep 6 → 72 (≥ 60, passes), keep 4
    // → 48 (< 60, the floor eats the whole row). The 7919-s step (the
    // q_bls fixture idiom — prime vs every grid period) equipartitions
    // the phases, so every keep-octile retains dip epochs in every
    // injected window
    val rows = for {
      uid <- Seq(1L, 2L)
      i <- 0 until 96
    } yield (uid, i.toLong, i.toLong * 7919000000L, 1000L)
    val got = q.transitRecoveryOver(
      rows.toDF("user_id", "event_id", "tus", "xc")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(got.keySet == (for {
      d <- q.TransitInjDepths; k <- q.TransitInjKeeps
    } yield (d, k)).toSet, "grid cells missing")
    for (((d, k), r) <- got) {
      assert(r.getAs[Long]("n_injected") == 2L, s"cell ($d,$k) injected")
      val expRec = if (k >= 6) 1000L else 0L
      assert(r.getAs[Long]("rec_permille") == expRec,
        s"cell ($d,$k) recovery ${r.getAs[Long]("rec_permille")} != $expRec")
      // above the floor the argmax must land ON the injected period:
      // the dip is the only variance, so the injected cell is the
      // unique power-1.0 window at the smallest achieving period
      assert(r.getAs[Long]("exact_permille") == expRec,
        s"cell ($d,$k) exact ${r.getAs[Long]("exact_permille")} != $expRec")
    }
    // the corpus-level artifact behaves like a completeness surface:
    // recovery monotone non-decreasing in depth at full cadence, and
    // the half-cadence row sits under the epoch floor entirely
    val real = q.qTransitRecovery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val full = q.TransitInjDepths.map(d =>
      real((d, 8L)).getAs[Long]("rec_permille"))
    assert(full == full.sorted, s"full-cadence recovery not monotone: $full")
    assert(full.last > full.head, "depth axis does not bind")
    for (d <- q.TransitInjDepths)
      assert(real((d, 4L)).getAs[Long]("rec_permille") == 0L,
        "half cadence must sit under the 60-epoch floor at sf0.001")
  }

  test("q_ce_period: a two-level square wave dates exactly, constants tie to the shortest period, corpus entropies are non-negative") {
    import spark.implicits._
    val q = queries.TimeSeries
    // a pure square wave at grid period P (4 h): at P every phase bin
    // folds to ONE magnitude level, so H(m|phi) = 0 exactly; 2P also
    // achieves 0 (each 2P-bin is phase-pure for an aligned square
    // wave) but the tie breaks to the SMALLER period, and P/2 mixes
    // high and low in every bin, so the argmax must land on P itself.
    // The 7919-s prime step equipartitions phases (the house idiom)
    val p = q.PeriodGridUs(2)
    val wave = (0 until 96).map { i =>
      val tus = i.toLong * 7919000000L
      val hi = ((tus % p) * q.PhaseBins) / p < 4
      (5L, tus, if (hi) 1500L else 1000L)
    }
    // a constant series has num = 0 at EVERY period: the tie must
    // break to the shortest grid period, deterministically
    val const = (0 until 96).map(i => (6L, i.toLong * 7919000000L, 1000L))
    val got = q.cePeriodOver((wave ++ const).toDF("user_id", "tus", "xc"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(5L).getAs[Long]("best_p_us") == p &&
      got(5L).getAs[Double]("ce") == 0.0,
      s"square wave must date exactly: ${got(5L)}")
    assert(got(6L).getAs[Long]("best_p_us") == q.PeriodGridUs.head &&
      got(6L).getAs[Double]("ce") == 0.0,
      s"constant must tie to the shortest period: ${got(6L)}")
    // the registered entry: every object scored, H(m|phi) >= 0, the
    // argmin on the grid
    val real = q.qCePeriod(spark, sf).collect()
    assert(real.nonEmpty)
    val gridSet = q.PeriodGridUs.toSet
    for (r <- real) {
      assert(r.getAs[Double]("ce") >= 0.0 &&
        gridSet(r.getAs[Long]("best_p_us")), s"bad CE row $r")
    }
  }

  test("q_transit_recovery_sampled: the md5 slice keeps exactly the sampled objects and zero-fills emptied cells") {
    import spark.implicits._
    val q = queries.TimeSeries
    // uid 28 PASSES the md5 bucket (md5("28") = "33…" < '4'), uid 1
    // FAILS ("c4…"); both sit in alias-free period slots (28%16=12,
    // 1%16=1 — neither grid period has its half in the grid) with
    // dip widths ≥ 2, so the full-census fixture reasoning applies
    // unchanged to whichever survives the sample
    def fix(uids: Long*) = (for {
      uid <- uids; i <- 0 until 96
    } yield (uid, i.toLong, i.toLong * 7919000000L, 1000L))
      .toDF("user_id", "event_id", "tus", "xc")
    val got = q.transitRecoveryOver(q.sampledSeries(fix(28L, 1L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(got.keySet == (for {
      d <- q.TransitInjDepths; k <- q.TransitInjKeeps
    } yield (d, k)).toSet, "grid cells missing")
    for (((d, k), r) <- got) {
      // only uid 28 survives the sample — the census is exact on it
      assert(r.getAs[Long]("n_injected") == 1L,
        s"cell ($d,$k) should count ONLY the sampled object")
      val expRec = if (k >= 6) 1000L else 0L
      assert(r.getAs[Long]("rec_permille") == expRec &&
        r.getAs[Long]("exact_permille") == expRec,
        s"cell ($d,$k) sampled recovery mismatch")
    }
    // a slice that samples NO objects must still emit all 9 cells,
    // zero-filled (the LEFT-join + GREATEST guard — a dropped cell
    // here is the sparse-corpus completeness-surface bug)
    val empty = q.transitRecoveryOver(q.sampledSeries(fix(1L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(empty.keySet == got.keySet, "zero-sample slice dropped cells")
    for ((_, r) <- empty) {
      assert(r.getAs[Long]("n_injected") == 0L &&
        r.getAs[Long]("n_gated") == 0L &&
        r.getAs[Long]("rec_permille") == 0L,
        "zero-sample cells must zero-fill")
    }
    // the EB vetting census shares the slice: same exclusion, same
    // complete-cell contract on its 6-row grid
    val eb = q.ebRecoveryOver(q.sampledSeries(fix(28L, 1L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(eb.keySet == (for {
      d <- q.EbInjDepths; p <- q.EbInjRatiosPm
    } yield (d, p)).toSet, "EB grid cells missing")
    assert(eb.values.forall(_.getAs[Long]("n_injected") == 1L),
      "EB census must count only the sampled object")
    val ebEmpty = q.ebRecoveryOver(q.sampledSeries(fix(1L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(ebEmpty.keySet == eb.keySet &&
      ebEmpty.values.forall(r => r.getAs[Long]("n_injected") == 0L &&
        r.getAs[Long]("n_gated") == 0L),
      "EB zero-sample cells must zero-fill")
  }

  test("sampled censuses: the md5 object sample rides the events SCAN itself, below the injection explode") {
    // structural pin (not a plan-string grep — the r18 flake lesson):
    // the md5 slice predicate must land in the events
    // FileSourceScanExec's dataFilters, i.e. in the scan stage
    // itself, which is by construction below the ×6.75 injection
    // explode and the wide BLS aggregate — the whole augmented build
    // scales with the sample. AQE off for a plain tree.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.catalyst.expressions.Md5
    val q = queries.TimeSeries
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for ((name, df) <- Seq(
        "q_transit_recovery_sampled" -> q.qTransitRecoverySampled(spark, sf),
        "q_eb_recovery_sampled" -> q.qEbRecoverySampled(spark, sf))) {
        df.collect()
        val scans = df.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec if f.relation.location.rootPaths
            .exists(_.toString.contains("events.parquet")) => f
        }
        assert(scans.nonEmpty, s"$name: no events scan in the plan")
        assert(scans.forall(_.dataFilters.exists(_.exists {
          case _: Md5 => true; case _ => false
        })), s"$name: an events scan reads WITHOUT the md5 slice — " +
          "the sample stopped pruning the augmented build: " +
          scans.map(_.dataFilters.mkString(", ")).mkString(" | "))
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_eb_recovery: on a constant-flux fixture the vetting flags exactly the true-binary cells") {
    import spark.implicits._
    val q = queries.TimeSeries
    // two constant-flux objects; uids chosen so (a) injected widths
    // are ≥2 and (b) neither p_inj/2 nor any alias can absorb the
    // twin dips into one ≤3-bin window (uid 1 → 3 h, uid 8 → 36 h;
    // both halves sit off the grid), so the argmax lands on the
    // injected primary and the antiphase box reads the injected
    // secondary EXACTLY:
    //  - ratio 0:   the antiphase box holds base flux; against an
    //    out-mass containing the primary dip its depth is POSITIVE →
    //    never flagged (a planet can't fake a binary here)
    //  - ratio 50‰: sec_depth = −0.05·D + D·n1/(n0+n1) is still
    //    positive at the ~12% window duty → not flagged
    //  - ratio 500‰: a true binary → flagged, every cell
    val rows = for {
      uid <- Seq(1L, 8L)
      i <- 0 until 96
    } yield (uid, i.toLong, i.toLong * 7919000000L, 1000L)
    val got = q.ebRecoveryOver(
      rows.toDF("user_id", "event_id", "tus", "xc")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(got.keySet == (for {
      d <- q.EbInjDepths; rp <- q.EbInjRatiosPm
    } yield (d, rp)).toSet)
    for (((d, rp), r) <- got) {
      assert(r.getAs[Long]("n_injected") == 2L)
      assert(r.getAs[Long]("n_gated") == 2L, s"cell ($d,$rp) gated")
      assert(r.getAs[Long]("n_exact") == 2L,
        s"cell ($d,$rp) argmax off the injected period")
      val expEb = if (rp == 500L) 2L else 0L
      assert(r.getAs[Long]("n_eb") == expEb,
        s"cell ($d,$rp) n_eb ${r.getAs[Long]("n_eb")} != $expEb")
      assert(r.getAs[Long]("eb_permille") == (if (rp == 500L) 1000L else 0L))
    }
    // corpus behavior: once detection is secure (deep primary), the
    // control row must not out-flag the true-binary row
    val real = q.qEbRecovery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val deep = q.EbInjDepths.max
    assert(real((deep, 500L)).getAs[Long]("eb_permille") >
      real((deep, 0L)).getAs[Long]("eb_permille"),
      "vetting does not separate binaries from the control at the deep depth")
  }

  test("q_transit_candidates keeps a planted eclipse and rejects a bright-box decoy through the dip-only argmax") {
    import spark.implicits._
    val q = queries.TimeSeries
    val pStar = 24L * 3600000000L
    val step = 7919000000L
    // object 1: a noise-free −300 c ECLIPSE filling phase bin 0 (the
    // q_bls fixture) — its best dip window is a perfect fit;
    // object 3: the mirror-image BRIGHT box (+300 c in bin 0) — the
    // unrestricted argmax scores it power 1.0 with POSITIVE depth, so
    // a naive depth filter over q_bls output would just drop it, but
    // the dip-only argmax must instead surface its best dip window
    // (weak) and the power gate must reject it;
    // object 2: constant (drops — zero variance)
    val rows = (0 until 330).map { i =>
      val t = i.toLong * step
      val in0 = ((t % pStar) * q.BlsBins) / pStar == 0L
      (1L, t, if (in0) 700L else 1000L)
    } ++ (0 until 50).map(i => (2L, i.toLong * step, 500L)) ++
      (0 until 330).map { i =>
        val t = i.toLong * step
        val in0 = ((t % pStar) * q.BlsBins) / pStar == 0L
        (3L, t, if (in0) 1300L else 1000L)
      }
    val ser = rows.toDF("user_id", "tus", "xc")
    val gate = q.transitCandidatesOver(ser).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(gate.keySet == Set(1L),
      s"gate kept ${gate.keySet}, expected only the eclipse object")
    val r1 = gate(1L)
    assert(r1.getAs[Long]("best_p_us") == pStar &&
      r1.getAs[Double]("bls_power") == 1.0 &&
      r1.getAs[Double]("depth_c100") == -300.0,
      "eclipse not recovered exactly through the gate")
    // the dip restriction is an argmax restriction, not a post-filter:
    // the decoy still has dip windows (its out-of-bump bins sit below
    // the mean), so it SURFACES in the dip-only frame with negative
    // depth — it must fail on power, not on absence
    val dipAll = q.blsOver(ser, dipOnly = true).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(dipAll.contains(3L), "decoy lost its dip windows entirely")
    assert(dipAll(3L).getAs[Double]("depth_c100") < 0.0)
    assert(dipAll(3L).getAs[Double]("bls_power") < q.TransitPowerMin,
      s"decoy dip power ${dipAll(3L).getAs[Double]("bls_power")} " +
        "unexpectedly clears the gate")
    // brute-force recompute of the decoy's best DIP cell: same
    // enumeration as the q_bls spec with the d < 0 restriction
    val ser3 = rows.filter(_._1 == 3L)
    val cand3 = for {
      p <- q.PeriodGridUs
      bs = ser3.map { case (_, t, x) => (x, (((t % p) * q.BlsBins) / p).toInt) }
      n = bs.length.toLong
      sx = bs.map(_._1).sum
      xxn = n * bs.map(t => t._1 * t._1).sum - sx * sx
      w <- 1 to q.BlsMaxW
      st <- 0 until q.BlsBins
      inW = bs.filter { case (_, b) => (b - st + q.BlsBins) % q.BlsBins < w }
      nw = inW.length.toLong
      if nw > 0 && nw < n && xxn > 0
      sw = inW.map(_._1).sum
      d = n * sw - nw * sx
      if d < 0
    } yield (d.toDouble * d.toDouble /
        ((nw.toDouble * (n - nw).toDouble) * xxn.toDouble),
      -p, -st, -w)
    assert(cand3.max._1 == dipAll(3L).getAs[Double]("bls_power"),
      "dip-only argmax disagrees with the brute-force dip scan")
  }

  test("q_secondary_eclipse separates a twin-dip binary from a lone-dip planet") {
    import spark.implicits._
    val q = queries.TimeSeries
    val pStar = 24L * 3600000000L
    val step = 7919000000L
    // object 1: PLANET — one −300 c dip in phase bin 0;
    // object 2: ECLIPSING BINARY — a −300 c primary in bin 0 and an
    // UNEQUAL −120 c secondary half a period away in bin 8. The
    // depths must differ: equal twins alias perfectly to P/2 (the
    // classic EB half-period degeneracy — folded there the two dips
    // land in one bin and the box fit is exact), while unequal dips
    // fold to a mixed-level box at P/2 and the true period wins.
    def series(uid: Long, dips: Map[Long, Long]) = (0 until 330).map { i =>
      val t = i.toLong * step
      val b = ((t % pStar) * q.BlsBins) / pStar
      (uid, t, dips.getOrElse(b, 1000L))
    }
    val rows = series(1L, Map(0L -> 700L)) ++
      series(2L, Map(0L -> 700L, 8L -> 880L))
    val got = q.secondaryEclipseOver(rows.toDF("user_id", "tus", "xc"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 2L))
    for ((uid, r) <- got) {
      assert(r.getAs[Long]("best_p_us") == pStar, s"object $uid period")
      assert(r.getAs[Long]("w_start") == 0L && r.getAs[Long]("w_width") == 1L,
        s"object $uid window (ties resolve to the bin-0 dip)")
      assert(r.getAs[Double]("depth_c100") < 0.0)
    }
    // the planet's antiphase box sits ON the baseline: its "secondary"
    // is slightly positive (the out-of-box mean includes the primary
    // dip), so the ratio is negative and the flag stays down
    val planet = got(1L)
    assert(planet.getAs[Double]("sec_depth_c100") > 0.0)
    assert(planet.getAs[Double]("sec_ratio") < 0.0)
    assert(planet.getAs[Int]("eb_candidate") == 0)
    // the binary's secondary dip shows up at antiphase: a clearly
    // positive depth ratio (~0.34 for this fixture) above the flag
    val eb = got(2L)
    assert(eb.getAs[Double]("sec_depth_c100") < 0.0)
    assert(eb.getAs[Double]("sec_ratio") > 0.25,
      s"secondary-dip ratio ${eb.getAs[Double]("sec_ratio")}")
    assert(eb.getAs[Int]("eb_candidate") == 1)
    // the primary readout agrees with the dip-only BLS on the same
    // frame (the secondary columns are a pure extension)
    val bls = q.blsOver(rows.toDF("user_id", "tus", "xc"), dipOnly = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (uid <- Seq(1L, 2L))
      assert(got(uid).getAs[Double]("bls_power") ==
        bls(uid).getAs[Double]("bls_power") &&
        got(uid).getAs[Double]("depth_c100") ==
          bls(uid).getAs[Double]("depth_c100"),
        s"object $uid primary readout drifted from q_bls")
  }

  test("q_gls_fstat is dof-aware: equal powers rank by epoch count and the flag flips") {
    import spark.implicits._
    val q = queries.TimeSeries
    // a weak 24 h signal under deterministic hash noise: object 1 at
    // n epochs; object 2 is the SAME rows triplicated (every GLS
    // sufficient sum scales by 3, every n-scaled moment by 9, the
    // power ratio by 9⁶/9⁶ — so ls_power is IDENTICAL by construction
    // while n triples), isolating the dof term of the F-statistic
    val pStar = 24L * 3600000000L
    val step = 7919000000L
    val base = (0 until 40).map { i =>
      val t = i.toLong * step
      val noise = (i * 2654435761L) % 1000L
      val sig = math.round(150.0 * math.sin(
        2.0 * math.Pi * (t % pStar).toDouble / pStar.toDouble))
      (t, noise + sig)
    }
    val rows = base.map { case (t, x) => (1L, t, x) } ++
      (0 until 3).flatMap(_ => base.map { case (t, x) => (2L, t, x) })
    val got = q.glsFstatOver(rows.toDF("user_id", "tus", "xc")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 2L))
    val (r1, r2) = (got(1L), got(2L))
    assert(r1.getAs[Long]("n_epochs") == 40L &&
      r2.getAs[Long]("n_epochs") == 120L)
    // same power to the last couple of ulps — the duplication scales
    // every exact integer moment by exactly 9, but the IEEE product
    // chain re-rounds, so bit equality is not guaranteed (each factor
    // of the num/den products rounds independently)
    assert(math.abs(r1.getAs[Double]("ls_power") -
      r2.getAs[Double]("ls_power")) <= 1e-12,
      s"power ${r1.getAs[Double]("ls_power")} != ${r2.getAs[Double]("ls_power")}")
    // the F readout matches its closed form on both rows
    for (r <- Seq(r1, r2)) {
      val n = r.getAs[Long]("n_epochs"); val p = r.getAs[Double]("ls_power")
      assert(r.getAs[Double]("f_val") == (n - 3).toDouble * p / (2.0 * (1.0 - p)))
      assert(r.getAs[Int]("significant") ==
        (if (r.getAs[Double]("f_val") >= q.GlsFMin) 1 else 0))
    }
    // dof-awareness: same power, 3x the epochs => strictly larger F,
    // and the gate flips across the two
    assert(r2.getAs[Double]("f_val") > r1.getAs[Double]("f_val"))
    assert(r1.getAs[Int]("significant") == 0 &&
      r2.getAs[Int]("significant") == 1,
      s"flag did not flip: F1=${r1.getAs[Double]("f_val")} " +
        s"F2=${r2.getAs[Double]("f_val")}")
  }

  test("q_coadd_flux matches a driver-side inverse-variance recompute at sf0.001") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val q = queries.TimeSeries
    def r0(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val bandOf = Map("click" -> "u", "error" -> "g", "purchase" -> "r",
      "signup" -> "i").withDefaultValue("z")
    val raw = Tables.events(spark, sf)
      .select($"user_id", $"value", $"event_type").collect()
      .map(r => (if (r.isNullAt(0)) null.asInstanceOf[Any] else r.getLong(0),
        r0(r.getDouble(1) * 100), bandOf(r.getString(2))))
    val exp = raw.groupBy(t => (t._1, t._3)).map { case (k, rs) =>
      val terms = rs.map { case (_, xc, _) =>
        val e = 3L + math.abs(xc) / 50L
        (r0(1000000.0 / (e * e).toDouble),
          r0(xc.toDouble * 1000000.0 / (e * e).toDouble))
      }
      k -> (rs.length.toLong, terms.map(_._1).sum, terms.map(_._2).sum)
    }
    val got = q.qCoaddFlux(spark, sf).collect().map { r =>
      val k = (if (r.isNullAt(0)) null.asInstanceOf[Any] else r.getLong(0),
        r.getString(1))
      // the derived columns are single IEEE chains over the sums —
      // recheck them from the row's own integers
      assert(r.getAs[Double]("coadd_c100") ==
        r.getAs[Long]("wx_sum_c6").toDouble / r.getAs[Long]("w_sum_c6").toDouble)
      assert(r.getAs[Double]("coadd_err_c100") ==
        1000.0 / math.sqrt(r.getAs[Long]("w_sum_c6").toDouble))
      k -> (r.getAs[Long]("n"), r.getAs[Long]("w_sum_c6"),
        r.getAs[Long]("wx_sum_c6"))
    }.toMap
    assert(got == exp, "coadd sums != driver-side recompute")
  }

  test("q_lafler_kinman dates a planted sinusoid by minimum string statistic") {
    import spark.implicits._
    val q = queries.TimeSeries
    // the GLS spec's corpus: a 24 h sinusoid at an incommensurate
    // cadence, plus a constant object that must drop (zero variance)
    val pStar = 24L * 3600000000L
    val step = 7919000000L
    val rows = (0 until 330).map { i =>
      val t = i.toLong * step
      (1L, t, math.round(1000.0 * math.sin(2.0 * math.Pi * (t % pStar)
        .toDouble / pStar.toDouble)))
    } ++ (0 until 50).map(i => (2L, i.toLong * step, 500L))
    val got = q.laflerKinmanOver(rows.toDF("user_id", "tus", "xc"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L), "constant object must drop")
    assert(got(1L).getAs[Long]("best_p_us") == pStar,
      s"argmin ${got(1L).getAs[Long]("best_p_us")} != planted $pStar")
    // brute-force recompute: same phase order, lag, and IEEE chain
    val ser1 = rows.filter(_._1 == 1L)
    val thetas = q.PeriodGridUs.map { p =>
      val sorted = ser1.map { case (_, t, x) => (t % p, t, x) }.sorted
      val xs = sorted.map(_._3)
      val n = xs.length.toLong
      val sdd = xs.zip(xs.tail).map { case (a, b) => (b - a) * (b - a) }.sum
      val sx = xs.sum; val sxx = xs.map(x => x * x).sum
      p -> n.toDouble * sdd.toDouble / (n * sxx - sx * sx).toDouble
    }
    val (bestP, bestT) = thetas.minBy { case (p, t) => (t, p) }
    assert(bestP == pStar && got(1L).getAs[Double]("theta") == bestT,
      "engine theta differs from the exact recompute chain")
    // a smooth curve at its own period strings far tighter than noise:
    // the winning theta must be well under the off-period cells'
    assert(bestT < thetas.filter(_._1 != pStar).map(_._2).min / 2,
      "planted period's theta is not decisively minimal")
    // plan pin: the lag window and the sums aggregate share ONE
    // (object, period) hash exchange — a second one between them
    // would double the corpus-side shuffle
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val hashEx = q.qLaflerKinman(spark, sf)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning
              .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
        }
      assert(hashEx.size == 2,
        s"expected 2 hash exchanges (window+agg shared, argmax), got ${hashEx.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
