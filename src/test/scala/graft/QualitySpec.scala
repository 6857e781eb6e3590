package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class QualitySpec extends AnyFunSuite with RegistryRows {
  import SparkTestSession._

  test("q_profile: one row per profiled column, bounds consistent") {
    val df = queries.Quality.qProfile(spark, sf).cache()
    assert(df.count() == 6)
    val orders = Tables.orders(spark, sf).count()
    // every column profile agrees on the table's row count
    assert(df.filter(col("n_total") =!= orders).count() == 0)
    // distinct ≤ non-null rows; nulls ≤ total; min ≤ max as rendered
    assert(df.filter(col("n_distinct") > col("n_total") - col("n_null")).count() == 0)
    assert(df.filter(col("n_null") < 0 || col("n_null") > col("n_total")).count() == 0)
    df.unpersist()
  }

  test("q_constraints: the generated TPC-H-ish orders table is clean") {
    val df = queries.Quality.qConstraints(spark, sf).cache()
    assert(df.count() == 5)
    // all declared rules hold on the driver-generated data, so every
    // violation count is exactly zero — a nonzero here means the check
    // itself is wrong, not the data
    val dirty = df.filter(col("n_violations") =!= 0L).collect()
    assert(dirty.isEmpty, s"unexpected violations: ${dirty.mkString(",")}")
    df.unpersist()
  }

  test("q_quality_classifier: score is the exact sum of per-token hash weights") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def weight(w: String) = md5hex(w).charAt(0).toInt - 70
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .limit(50).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = queries.Quality.qQualityClassifier(spark, sf)
      .filter(col("doc_id").isin(texts.keys.toSeq: _*)).collect()
    assert(rows.length == texts.size)
    for (r <- rows) {
      val toks = texts(r.getLong(0)).split(" ").filter(_.nonEmpty)
      val expected = toks.map(weight).map(_.toLong).sum
      assert(r.getInt(1) == toks.length)
      assert(r.getLong(2) == expected,
        s"doc ${r.getLong(0)}: score ${r.getLong(2)} != $expected")
      assert(r.getInt(3) ==
        (if (expected * 1000 >= toks.length.toLong * queries.Quality.QcMeanX1000) 1
         else 0))
    }
  }

  test("q_constraints flags injected violations") {
    import spark.implicits._
    // corrupt a copy of orders in every rule's direction and check the
    // counts move: negative price, bad status, null custkey, dup key,
    // orphan custkey
    val o = Tables.orders(spark, sf).limit(100).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft_dq").toString
    val bad = o
      .withColumn("o_totalprice",
        when($"o_orderkey" % 10 === 0, -$"o_totalprice").otherwise($"o_totalprice"))
      .withColumn("o_orderstatus",
        when($"o_orderkey" % 7 === 0, lit("X")).otherwise($"o_orderstatus"))
      .withColumn("o_custkey",
        when($"o_orderkey" % 11 === 0, lit(null: java.lang.Long))
          .otherwise($"o_custkey"))
    bad.unionByName(bad.limit(5)) // duplicate 5 order keys
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Tables.customer(spark, sf).write.mode("overwrite")
      .parquet(s"$dir/customer.parquet")
    val v = queries.Quality.qConstraints(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v("price_nonneg") > 0)
    assert(v("status_domain") > 0)
    assert(v("cust_notnull") > 0)
    assert(v("orderkey_unique") == 5)
    o.unpersist()
  }

  test("q_ks_drift matches a brute-force two-sample KS recompute per source") {
    val docs = Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val values = docs.map(_._2).distinct.sorted
    val got = queries.Quality.qKsDrift(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val sources = docs.map(_._1).distinct
    assert(got.keySet == sources.toSet)
    for (src <- sources) {
      val a = docs.filter(_._1 == src).map(_._2)
      val b = docs.filter(_._1 != src).map(_._2)
      // sup over the corpus's step points of |cumA·nB − cumB·nA|
      val dNum = values.map { v =>
        math.abs(a.count(_ <= v).toLong * b.length -
          b.count(_ <= v).toLong * a.length)
      }.max
      val r = got(src)
      assert(r.getAs[Long]("n_a") == a.length.toLong, s"$src n_a")
      assert(r.getAs[Long]("n_b") == b.length.toLong, s"$src n_b")
      assert(r.getAs[Long]("d_num") == dNum, s"$src d_num")
      val d = r.getAs[Double]("d_val")
      assert(d >= 0.0 && d <= 1.0, s"$src d_val=$d outside [0,1]")
      assert(r.getAs[Int]("drift") ==
        (if (1000L * dNum > queries.Quality.KsThreshMilli *
          a.length * b.length) 1 else 0), s"$src drift flag")
    }
  }

  test("q_ks_drift_sampled equals the KS recompute over the deterministic md5 sample") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(id: Long) =
      java.lang.Long.parseLong(md5hex(id.toString).take(15), 16) % 1000
    val all = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val docs = all.filter(t => bucket(t._1) < queries.Quality.KsSampleMilli)
    // the sample predicate must bite AND leave a usable corpus
    assert(docs.nonEmpty && docs.length < all.length,
      s"sample kept ${docs.length}/${all.length} — not a strict non-empty subset")
    val values = docs.map(_._3).distinct.sorted
    val got = queries.Quality.qKsDriftSampled(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val sources = docs.map(_._2).distinct
    assert(got.keySet == sources.toSet)
    assert(sources.length >= 2, "sampled corpus must keep >=2 sources")
    for (src <- sources) {
      val a = docs.filter(_._2 == src).map(_._3)
      val b = docs.filter(_._2 != src).map(_._3)
      val dNum = values.map { v =>
        math.abs(a.count(_ <= v).toLong * b.length -
          b.count(_ <= v).toLong * a.length)
      }.max
      val r = got(src)
      assert(r.getAs[Long]("n_a") == a.length.toLong, s"$src n_a")
      assert(r.getAs[Long]("n_b") == b.length.toLong, s"$src n_b")
      assert(r.getAs[Long]("d_num") == dNum, s"$src d_num")
    }
  }

  test("q_embedding_qa equals a brute-force integer-scaled norm census") {
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getInt(2), r.getSeq[Float](1)))
    val scaled = vecs.map { case (lbl, e) =>
      // HALF_UP like Spark's round() — math.round differs on negative .5
      val q = e.map(x => BigDecimal(x.toDouble * 1e7)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      (lbl, q.length.toLong, q.map(v => v * v).sum)
    }
    val exp = scaled.groupBy(_._1).map { case (lbl, vs) =>
      val norms = vs.map(_._3)
      lbl -> (vs.length.toLong, vs.map(_._2).min, vs.map(_._2).max,
        norms.min, norms.max, norms.count(_ == 0L).toLong,
        math.sqrt(norms.map(BigInt(_)).sum.toDouble / vs.length.toDouble)
          / 1e7)
    }
    val got = queries.Quality.qEmbeddingQa(spark, sf).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(got.keySet == exp.keySet && exp.size >= 2)
    for ((lbl, (n, dmin, dmax, nmin, nmax, nzero, rms)) <- exp) {
      val r = got(lbl)
      assert(r.getAs[Long]("n_vecs") == n, s"label $lbl n")
      assert(r.getAs[Long]("dim_min") == dmin && r.getAs[Long]("dim_max") == dmax)
      assert(dmin == dmax, s"label $lbl ragged dims in the test corpus?")
      assert(r.getAs[Long]("min_nrm") == nmin && r.getAs[Long]("max_nrm") == nmax)
      assert(r.getAs[Long]("n_zero") == nzero)
      assert(r.getAs[Double]("rms_norm") == rms, s"label $lbl rms")
    }
  }

  test("q_curriculum equals the driver-side NTILE recompute and conserves the corpus") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val k = queries.Quality.CurriculumPhases
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars", "text").collect()
      .map { r =>
        val toks = r.getString(3).split(" ").filter(_.nonEmpty)
        val score = toks.map(t => md5hex(t).head.toInt - 48L).sum
        val ms = score * 1000 / math.max(toks.length, 1)
        (r.getLong(0), r.getString(1), r.getLong(2), ms)
      }
    val ordered = docs.sortBy(d => (d._4, d._1))
    val n = ordered.length
    val exp = ordered.zipWithIndex.map { case (d, i) =>
      val rn = i + 1
      val phase = if (rn <= (n % k) * (n / k + 1)) (rn - 1) / (n / k + 1) + 1
        else n % k + (rn - (n % k) * (n / k + 1) - 1) / (n / k) + 1
      (phase.toLong, d._2) -> d
    }.groupBy(_._1).view.mapValues { vs =>
      val ds = vs.map(_._2)
      (ds.length.toLong, ds.map(_._3).sum, ds.map(_._4).min, ds.map(_._4).max)
    }.toMap
    val got = queries.Quality.qCurriculum(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == exp, s"curriculum census mismatch:\n got $got\n exp $exp")
    // conservation + balance: every doc in exactly one phase, phase
    // sizes differ by at most one (the exact-NTILE contract)
    assert(got.values.map(_._1).sum == n.toLong)
    val phaseSizes = got.groupBy(_._1._1).view
      .mapValues(_.values.map(_._1).sum).values.toSeq
    assert(phaseSizes.max - phaseSizes.min <= 1,
      s"phases unbalanced: $phaseSizes")
    assert(got.keys.map(_._1).toSet == (1L to k.toLong).toSet)
  }
}
