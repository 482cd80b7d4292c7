package graft.kmeans

import graft.SparkSpec

/** O6 — nearest-centroid assignment semantics, both variants.
  * Reference tie-break: strictly-less keeps the FIRST (lowest-id)
  * centroid (KMeans.java:281). */
class AssignSpec extends SparkSpec {
  import spark.implicits._

  private val cents = Seq(Cent(0, 0.0, 0.0), Cent(1, 2.0, 0.0), Cent(2, 4.0, 0.0))

  private def pts = Seq(
    (1L, 1.0, 0.0),   // exactly equidistant to cid 0 and 1 → first wins → 0
    (2L, 1.9, 0.0),   // nearest cid 1
    (3L, 100.0, 5.0), // nearest cid 2
    (4L, -7.0, 0.0)   // nearest cid 0
  ).toDF("pid", "x", "y")

  // Edge semantics of the pick under Spark's double ordering (NaN is the
  // greatest value). Centroids are listed out of cid order; a tie goes to
  // the lowest cid, not the first listed. A null, NaN or +Inf coordinate
  // ties every candidate, so it lands on the lowest cid and carries its
  // null/NaN/+Inf distance. Columns: case, x, expected cid, expected sqdist.
  private val edgeCents = Seq(Cent(5, 0.0, 0.0), Cent(2, 2.0, 0.0), Cent(9, -3.0, 0.0))
  private val edgeCases: Seq[(String, Option[Double], Int, Option[Double])] = Seq(
    ("exact tie, out of cid order", Some(1.0), 2, Some(1.0)),
    ("null x", None, 2, None),
    ("NaN x", Some(Double.NaN), 2, Some(Double.NaN)),
    ("+Inf x", Some(Double.PositiveInfinity), 2, Some(Double.PositiveInfinity)))

  private def sameDouble(a: Option[Double], b: Option[Double]): Boolean =
    (a, b) match {
      case (Some(p), Some(q)) => java.lang.Double.compare(p, q) == 0
      case (None, None) => true
      case _ => false
    }

  test("edge table: ties, null, NaN and +Inf coordinates pick the lowest cid") {
    val nullable = edgeCases.zipWithIndex
      .map { case ((_, x, _, _), i) => (i.toLong, x, 0.0) }.toDF("pid", "x", "y")
    // the same rows once through a nullable x column, and each non-null
    // row once more through a non-nullable one (the two input paths)
    val local = nullable +: edgeCases.zipWithIndex.collect {
      case ((_, Some(x), _, _), i) => Seq((i.toLong, x, 0.0)).toDF("pid", "x", "y")
    }
    // the optimizer evaluates a projection of a local relation itself
    // (ConvertToLocalRelation); the RDD-backed copies run generated code,
    // with no silent fallback to interpretation
    val frames = local ++ local.map(df => spark.createDataFrame(df.rdd, df.schema))
    val fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try frames.foreach { df =>
      val full = KMeansOps.assign(df, edgeCents).collect()
        .map(r => r.getLong(0) -> r).toMap
      val labels = KMeansOps.assignLabel(df, edgeCents)
        .select("cid").as[Int].collect().toSeq
      val rows = df.select("pid").as[Long].collect().toSeq
      assert(labels == rows.map(p => edgeCases(p.toInt)._3))
      rows.foreach { p =>
        val (name, _, cid, sq) = edgeCases(p.toInt)
        val r = full(p)
        assert(r.getAs[Int]("cid") == cid, name)
        assert(r.getAs[Double]("cx") == 2.0 && r.getAs[Double]("cy") == 0.0, name)
        val got = if (r.isNullAt(r.fieldIndex("sqdist"))) None
          else Some(r.getAs[Double]("sqdist"))
        assert(sameDouble(got, sq), s"$name: sqdist $got, expected $sq")
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", fallback)
  }

  test("a second centroid set compiles no new code (step and sse, k=128)") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.col
    // a generated relation, not a local one: its projections run as
    // generated code (see the edge table)
    val df = spark.range(0, 20000).select(col("id").as("pid"),
      (col("id") % 97 * 0.21 - 10.0).as("x"), (col("id") % 89 * 0.23 - 10.0).as("y"))
    def cents(seed: Int): Seq[Cent] = {
      val r = new scala.util.Random(seed)
      (0 until 128).map(c => Cent(c, r.nextDouble() * 20 - 10, r.nextDouble() * 20 - 10))
    }
    KMeansFit.step(df, cents(1))
    KMeansFit.sse(df, cents(1))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    KMeansFit.step(df, cents(2))
    KMeansFit.sse(df, cents(2))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0,
      "centroid values reached the generated source")
  }

  test("assign picks the nearest centroid") {
    val got = KMeansOps.assign(pts, cents)
      .select("pid", "cid").as[(Long, Int)].collect().toMap
    assert(got(2L) == 1 && got(3L) == 2 && got(4L) == 0)
  }

  test("assign breaks exact-distance ties toward the lowest cid (first-wins)") {
    val got = KMeansOps.assign(pts, cents)
      .select("pid", "cid").as[(Long, Int)].collect().toMap
    assert(got(1L) == 0)
  }

  test("assignJoin agrees with assign on every row") {
    val a = KMeansOps.assign(pts, cents)
      .select("pid", "cid", "sqdist").as[(Long, Int, Double)].collect().toSet
    val b = KMeansOps.assignJoin(pts, graft.Tables.centroidsDF(spark, cents))
      .select("pid", "cid", "sqdist").as[(Long, Int, Double)].collect().toSet
    assert(a == b)
  }

  test("assignJoin's packed argmin hash-aggregates (no SortAggregate regression)") {
    // min(struct(...)) buffers a struct — not UnsafeRow-mutable — which
    // silently planned TWO SortAggregates with full sorts of the
    // k-times-exploded relation (4x slower at sf0.1). The packed
    // DECIMAL(38,0) argmin must keep the plan on HashAggregate; this
    // assert is the regression guard for that round-6 fix.
    val plan = KMeansOps.assignJoin(pts, graft.Tables.centroidsDF(spark, cents))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"no HashAggregate in:\n$plan")
    assert(!plan.contains("SortAggregate"), s"SortAggregate crept back in:\n$plan")
    val nd = graft.kmeans.KMeansND.assign(
      Seq((1L, Seq(0.0, 1.0)), (2L, Seq(2.0, 2.0))).toDF("id", "vec"),
      Seq((0, Seq(0.0, 0.0)), (1, Seq(2.0, 2.0))).toDF("cid", "cvec"))
      .queryExecution.executedPlan.toString
    assert(nd.contains("HashAggregate") && !nd.contains("SortAggregate"),
      s"ND packed argmin lost hash aggregation:\n$nd")
  }

  test("assign carries the chosen centroid coordinates and squared distance") {
    val r = KMeansOps.assign(pts, cents).filter("pid = 2").collect()(0)
    assert(r.getAs[Double]("cx") == 2.0 && r.getAs[Double]("cy") == 0.0)
    val expected = (1.9 - 2.0) * (1.9 - 2.0)
    assert(r.getAs[Double]("sqdist") == expected)
  }

  test("single-centroid degenerate case assigns everything to it") {
    val got = KMeansOps.assign(pts, Seq(Cent(7, 1.0, 1.0)))
      .select("cid").as[Int].collect().toSet
    assert(got == Set(7))
  }

  test("assignLabel matches assign's labels and plans as a pure codegen projection") {
    val full = KMeansOps.assign(pts, cents)
      .select("x", "y", "cid").as[(Double, Double, Int)].collect().toSet
    val lean = KMeansOps.assignLabel(pts, cents)
      .as[(Double, Double, Int)].collect().toSet
    assert(lean == full)
    // the fit loop's hot path must stay a zero-shuffle codegen'd scan
    val plan = KMeansOps.assignLabel(pts, cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle crept into assignLabel:\n$plan")
    assert(!plan.contains("CodegenFallback"), s"fallback in assignLabel:\n$plan")
  }
}
