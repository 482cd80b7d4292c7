package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VecExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
    (2L, Seq(0.0, 0.0, 0.0), Seq(1.0, 1.0, 1.0))
  ).toDF("id", "a", "b")

  test("vec_dot and vec_sqdist compute exact values") {
    val m = df.select(col("id"),
        VecFunctions.vecDot(col("a"), col("b")),
        VecFunctions.vecSqDist(col("a"), col("b")))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m(1L) == ((4.0 + 10.0 + 18.0, 9.0 + 9.0 + 9.0)))
    assert(m(2L) == ((0.0, 3.0)))
  }

  test("native expression matches the higher-order fold bit-for-bit") {
    val vals = Seq.tabulate(50)(i => (i.toLong,
      Seq.tabulate(64)(j => math.sin(i * 64 + j)),
      Seq.tabulate(64)(j => math.cos(i * 64 + j))))
    val d = vals.toDF("id", "a", "b")
    val native = d.select(col("id"), VecFunctions.vecDot(col("a"), col("b")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fold = d.select(col("id"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(native == fold) // exact ==, not tolerance: same IEEE sequence
  }

  test("null inputs propagate null") {
    val d = Seq((1L, Some(Seq(1.0)), None: Option[Seq[Double]]))
      .toDF("id", "a", "b")
    val r = d.select(VecFunctions.vecDot(col("a"), col("b"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("expressions are registered for SQL via GraftExtensions.register") {
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("vecs")
    val got = spark.sql(
      "SELECT id, vec_dot(a, b) AS d, vec_sqdist(a, b) AS s FROM vecs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got(0) == ((1L, 32.0, 27.0)))
    assert(got(1) == ((2L, 0.0, 3.0)))
  }

  test("doc_fingerprint matches the higher-order fold it replaced") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val native = d.select(col("doc_id"), VecFunctions.docFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fold = d.select(col("doc_id"),
        aggregate(split(col("text"), ""), lit(0L),
          (acc, c) => (acc * 31L + ascii(c).cast("long")) % 1000000007L).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == fold)
    assert(native.nonEmpty)
  }

  test("doc_fingerprint null and empty semantics") {
    val d = Seq((1L, Some("")), (2L, None: Option[String]), (3L, Some("ab")))
      .toDF("id", "t")
    val got = d.select(col("id"), VecFunctions.docFingerprint(col("t")))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(1L) == Some(0L))
    assert(got(2L) == None)
    assert(got(3L) == Some(('a'.toInt * 31L + 'b'.toInt) % 1000000007L))
  }

  test("doc_fingerprint participates in whole-stage codegen (no fallback)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val projected = graft.ops.TextOps.fingerprints(d)
    val planLines = projected.queryExecution.executedPlan.toString.split("\n")
    val projLine = planLines.find(_.contains("doc_fingerprint")).get
    assert(projLine.trim.matches("""^\*\(\d+\).*"""), s"not codegen'd: $projLine")
    assert(!projected.queryExecution.executedPlan.toString.contains("CodegenFallback"))
  }

  test("nearest2d picks what a least(struct(sq, index)) fold picks, NaN and ±Inf included") {
    // coordinates from a set that makes NaN and infinite distances, for
    // points and centroids alike; every centroid pair also ties somewhere
    val vs = Seq(0.0, 1.0, -1.0, 2.5, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)
    val cx = Array(1.0, Double.PositiveInfinity, -1.0, 1.0, Double.NaN, 0.0)
    val cy = Array(0.0, 0.0, 0.0, 0.0, 0.0, Double.NegativeInfinity)
    val local = (for (x <- vs; y <- vs) yield (x, y)).toDF("x", "y")
    val fold = least(cx.indices.map { i =>
      val dx = col("x") - lit(cx(i)); val dy = col("y") - lit(cy(i))
      struct((dx * dx + dy * dy).as("sq"), lit(i).as("i"))
    }: _*).getField("i")
    // the local relation is evaluated by the optimizer (interpreted), the
    // RDD-backed copy by generated code
    Seq(local, spark.createDataFrame(local.rdd, local.schema)).foreach { d =>
      val rows = d.select(VecFunctions.nearest2D(col("x"), col("y"), cx, cy), fold)
        .as[(Int, Int)].collect()
      assert(rows.length == vs.size * vs.size)
      rows.foreach { case (got, want) => assert(got == want) }
    }
  }

  test("packed-decimal argmin key orders exactly like lexicographic (sq, cid)") {
    // the ordering identity underlying assignJoin / KMeansND.assign:
    // for non-negative doubles, doubleToRawLongBits is order-isomorphic
    // to the value, so bits*2^31 + cid compares like (sq, cid). Checked
    // against scala's lexicographic tuple ordering over seeded
    // ScalaCheck samples including exact ties and denormals.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val sqGen = Gen.oneOf(
      Gen.choose(0.0, 1e12),
      Gen.oneOf(0.0, 1e-300, 4.9e-324, 1.0, 2.0),  // denormal + exact-tie pool
    )
    val pairGen = Gen.listOfN(200, Gen.zip(sqGen, Gen.choose(0, 1 << 20)))
    val pairs = (1 to 5).flatMap(i =>
      pairGen.apply(Gen.Parameters.default, Seed(i.toLong))).flatten
    def pack(sq: Double, cid: Int): BigInt =
      (BigInt(java.lang.Double.doubleToRawLongBits(sq)) << 31) + cid
    for (Seq((s1, c1), (s2, c2)) <- pairs.sliding(2)) {
      val lex = Ordering.Tuple2[Double, Int].compare((s1, c1), (s2, c2))
      val packed = pack(s1, c1).compare(pack(s2, c2))
      assert(lex.sign == packed.sign,
        s"ordering mismatch: ($s1,$c1) vs ($s2,$c2): lex=$lex packed=$packed")
    }
    // and exact ties on sq tie-break by cid
    assert(pack(1.5, 3) < pack(1.5, 4))
    assert(pack(0.0, 0) < pack(0.0, 1))
  }

  test("text_stats matches the four-lambda formulation it replaced, bit-for-bit") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = graft.ops.TextOps.qualityScore(d)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // the pre-TextStats formulation (higher-order lambdas), verbatim
    val stops = array(Seq("a", "the", "and", "of", "to", "in", "is").map(lit): _*)
    val toks = filter(split(lower(col("text")), " "), t => t =!= "")
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => array_contains(stops, t))).cast("long")
    val nDistinct = size(array_distinct(toks)).cast("long")
    val totalLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
    val old = d.select(
        col("doc_id"),
        length(col("text")).cast("long"),
        nTok,
        totalLen.cast("double") / nTok,
        nStop.cast("double") / nTok,
        nDistinct.cast("double") / nTok)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got == old) // exact ==: integer counts + identical IEEE divisions
    assert(got.nonEmpty)
  }

  test("text_stats edge semantics: empties, multi-space, null") {
    val d = Seq(
      (1L, Some("the the  cat")),   // dup token + double space
      (2L, Some("   ")),            // only spaces -> zero tokens
      (3L, Some("")),               // empty string -> zero tokens
      (4L, None: Option[String]))   // null -> null
      .toDF("id", "t")
    val got = d.select(col("id"),
        VecFunctions.textStats(lower(col("t")), Seq("the")).as("st"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[Long](1)))).toMap
    assert(got(1L) == Some(Seq(3L, 9L, 2L, 2L))) // 3 tokens, 9 chars, 2 "the", 2 distinct
    assert(got(2L) == Some(Seq(0L, 0L, 0L, 0L)))
    assert(got(3L) == Some(Seq(0L, 0L, 0L, 0L)))
    assert(got(4L) == None)
  }

  test("text_stats is SQL-callable via GraftExtensions with literal stopwords") {
    GraftExtensions.register(spark)
    Seq((1L, "the cat the hat")).toDF("id", "t").createOrReplaceTempView("ts_docs")
    val r = spark.sql(
      "SELECT text_stats(t, 'the', 'a') AS st FROM ts_docs").collect()(0).getSeq[Long](0)
    assert(r == Seq(4L, 12L, 2L, 3L))
    // non-literal stopword args are rejected at resolution
    val e = intercept[Exception] {
      spark.sql("SELECT text_stats(t, t) FROM ts_docs").collect()
    }
    assert(e.getMessage.contains("literal"))
  }

  test("text_stats participates in whole-stage codegen and runs once per row") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.ops.TextOps.qualityScore(d).queryExecution.executedPlan.toString
    val statsLine = plan.split("\n").find(_.contains("text_stats")).get
    assert(statsLine.trim.matches("""^[*+:\- ]*\(\d+\).*"""), s"not codegen'd: $statsLine")
    assert(!plan.contains("CodegenFallback"))
    // the kernel appears in ONE project expression, not four: the
    // two-step select survives CollapseProject (TextStats is non-cheap)
    assert(plan.split("text_stats").length - 1 <= 2,
      s"text_stats duplicated into per-column copies:\n$plan")
  }

  test("the expression participates in whole-stage codegen (no fallback)") {
    // Probe over a parquet array column; higher-order lambdas in the
    // same position would break the project out of the codegen span
    // (codegen'd operators carry the '*(id)' prefix in the plan).
    val d = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val projected = d.select(VecFunctions.vecDot(col("v"), col("v")).as("n2"))
    val planLines = projected.queryExecution.executedPlan.toString.split("\n")
    val projLine = planLines.find(_.contains("vec_dot")).get
    assert(projLine.trim.matches("""^\*\(\d+\).*"""), s"not codegen'd: $projLine")
    // and it computes: norms squared are positive
    assert(projected.agg(min("n2")).collect()(0).getDouble(0) > 0)
  }
}
