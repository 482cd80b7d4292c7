package graft.kmeans

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator property tests (SURVEY.md §5 test plan): Lloyd
  * invariants that must hold for ANY point set. Samples are drawn with
  * fixed seeds (no scalatestplus bridge in the offline cache), so runs
  * are reproducible. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val pointGen: Gen[List[(Double, Double)]] = Gen.listOfN(40,
    Gen.zip(Gen.choose(-100.0, 100.0), Gen.choose(-100.0, 100.0)))

  private def samples(n: Int): Seq[List[(Double, Double)]] =
    (1 to n).flatMap(i => pointGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("objective is non-increasing across Lloyd iterations for any point set") {
    samples(5).foreach { pts =>
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("pid", "x", "y")
      val init = Seq(Cent(0, -50.0, -50.0), Cent(1, 50.0, 50.0), Cent(2, 0.0, 0.0))
      var cents = init
      var prev = Double.MaxValue
      for (_ <- 1 to 4) {
        cents = KMeansFit.step(df, cents)
        val obj = KMeansFit.sse(df, cents)
        assert(obj <= prev + 1e-9, s"objective increased: $prev -> $obj")
        prev = obj
      }
    }
  }

  test("cluster sizes sum to n: every point lands in exactly one cluster") {
    samples(5).foreach { pts =>
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("pid", "x", "y")
      val cents = Seq(Cent(0, -10.0, 0.0), Cent(1, 10.0, 0.0))
      val assigned = KMeansOps.assign(df, cents)
      assert(assigned.count() == pts.length.toLong)
      val sizes = KMeansOps.sumCount(assigned).collect().map(_.getLong(3)).sum
      assert(sizes == pts.length.toLong)
    }
  }

  test("assign and assignLabel equal a brute-force argmin on tie-heavy grids, k up to 512") {
    // half-integer grid coordinates: distances are exact and ties are
    // everywhere; k > 289 grid cells forces duplicate centroids
    val cell = Gen.choose(-8, 8).map(_ / 2.0)
    val point = Gen.zip(cell, cell)
    Seq(1, 2, 7, 64, 256, 512).zipWithIndex.foreach { case (k, s) =>
      val gen = for {
        pts <- Gen.listOfN(80, point)
        at <- Gen.listOfN(k, point)
        cids <- Gen.pick(k, 0 until 3 * k) // distinct, listed out of order
      } yield (pts, cids.toList.zip(at).map { case (c, (x, y)) => Cent(c, x, y) })
      val (pts, cents) = gen.apply(Gen.Parameters.default, Seed(100L + s)).get
      val byCid = cents.sortBy(_.cid)
      // the reference's loop: strictly less keeps the first, lowest cid
      def brute(x: Double, y: Double): (Int, Double) =
        byCid.map { c => val dx = x - c.x; val dy = y - c.y; (c.cid, dx * dx + dy * dy) }
          .reduceLeft((a, b) => if (b._2 < a._2) b else a)
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("pid", "x", "y").repartition(3)
      val got = KMeansOps.assign(df, cents)
        .select("pid", "cid", "sqdist").as[(Long, Int, Double)].collect()
      assert(got.length == pts.length)
      got.foreach { case (pid, cid, sq) =>
        val (x, y) = pts(pid.toInt)
        val (bCid, bSq) = brute(x, y)
        assert(cid == bCid && java.lang.Double.doubleToRawLongBits(sq) ==
          java.lang.Double.doubleToRawLongBits(bSq), s"k=$k point ($x, $y)")
      }
      val labels = KMeansOps.assignLabel(df, cents)
        .as[(Double, Double, Int)].collect().toSeq
      assert(labels.sorted == pts.map { case (x, y) => (x, y, brute(x, y)._1) }.sorted,
        s"k=$k labels")
    }
  }

  test("assignment is invariant to input order and partitioning") {
    samples(5).foreach { pts =>
      val cents = Seq(Cent(0, -10.0, -10.0), Cent(1, 10.0, 10.0))
      val a = KMeansOps.assign(
          pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
            .toDF("pid", "x", "y"), cents)
        .select("pid", "cid").as[(Long, Int)].collect().toMap
      val b = KMeansOps.assign(
          pts.zipWithIndex.reverse.map { case ((x, y), i) => (i.toLong, x, y) }
            .toDF("pid", "x", "y").repartition(3), cents)
        .select("pid", "cid").as[(Long, Int)].collect().toMap
      assert(a == b)
    }
  }
}
