package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.PortableMath
import graft.functions.VecFunctions.nearest2D

/** k-means|| initialization (Bahmani, Moseley, Vattani, Kumar,
  * Vassilvitskii — "Scalable k-means++", VLDB 2012): the O(log n)-pass
  * replacement for the k sequential passes of k-means++
  * ([[KMeansOps.kmeansPlusPlus]], whose Scaladoc flags exactly this
  * operator as the 100 TB path). Each round samples EVERY point
  * independently with probability min(1, l·d²(p,C)/φ(C)) — an
  * embarrassingly-parallel scan — instead of one D²-race winner per
  * pass, so R≈5 rounds replace k passes and the driver only ever sees
  * the ~l·R-row candidate set (codebook-sized), which a weighted
  * k-means++ race then reduces to the final k seeds.
  *
  * Reference anchor: the reference seeds its generated-centroid entry
  * point uniformly (KMeans.java:120 `env.fromCollection` of random
  * draws); this is the published scale-first upgrade of that init,
  * kept oracle-replayable.
  *
  * Determinism (the whole pipeline is a PURE FUNCTION of the data,
  * hash-matchable against a DuckDB twin):
  *  - per-round uniforms u_p are md5-60 draws keyed (seed+round, pid)
  *    — no RNG state, engine-independent;
  *  - the round cost φ(C) is an EXACT decimal sum of 1e-6-grid-snapped
  *    d² (order-independent), converted to double through the
  *    canonical string cast both engines share;
  *  - the Bernoulli test is `u·φ < l·d²` — one IEEE multiply per side,
  *    no division, bit-identical in both engines; min(1,·) is
  *    automatic (u < 1 ⇒ u·φ < φ ≤ l·d² whenever the clamp binds);
  *  - each round's accepted set is ordered (pid, x, y) and truncated
  *    at `cap` IN BOTH ENGINES — the hard per-round ceiling that keeps
  *    the driver collect bounded under adversarial data (the DF-cap
  *    self-disarming convention: at the expected l≈2k acceptances the
  *    cap never fires);
  *  - chosen points have d² = 0 and are excluded by the `d² > 0` arm
  *    (ANSI Spark raises on x/0; there is no division anywhere).
  *
  * Scale shape: per round ONE zero-shuffle scan computes d² against
  * the ≤ 1+r·cap current centers folded in as literals, feeding a
  * 1-row decimal agg (map-side partials), then ONE filtered scan
  * collects the ≤ cap acceptances. No point-sized relation ever
  * shuffles; 2R+2 passes total regardless of n.
  */
object KMeansParallel {

  private val Dec38 = DecimalType(38, 0)
  private val Two60 = 1152921504606846976.0
  private val Two60Sql = "1152921504606846976.0"

  /** Defaults: l = 2k oversampling (the paper's recommendation),
    * R = 3 rounds, cap = 2l hard per-round ceiling. */
  val K = 8
  val L = 16
  val Rounds = 3
  val Cap = 32
  val Seed = 23
  val FinalSeed = 71

  /** One accepted candidate: enumeration identity is (rnd, pid, x, y). */
  final case class Cand(cidx: Int, rnd: Int, pid: Long, x: Double, y: Double)

  private def sqDistTo(cx: Double, cy: Double): Column =
    KMeansOps.sqDist(col("x"), col("y"), lit(cx), lit(cy))

  /** The points relation at full parallelism (the KMeansFit idiom,
    * §2.4/§6): the single-file fixture scan plans byte-ranged splits
    * but the file holds one ~128 MB row group per ~10M rows, so nearly
    * all splits are EMPTY (sf1: 20 planned partitions, 1 non-empty) —
    * without the spread the md5 pass, every per-round φ/acceptance
    * scan and the |cands|-term argmin run on a single core. Every
    * consumer here is partition-order-independent (decimal φ sums,
    * global-sort races, per-row argmin + count agg), so the spread
    * changes no bits. A partition-count ==1 guard is NOT equivalent:
    * it misses the empty-split shape (measured sf1 init_kmeanspp 10 s
    * spread vs 19-20 s unspread, 3 probes each). On a real cluster the
    * scan has ≥ defPar populated splits and this is a no-op. */
  private def widened(points: DataFrame): DataFrame = {
    val defPar = points.sparkSession.sparkContext.defaultParallelism
    if (points.rdd.getNumPartitions < defPar) points.repartition(defPar)
    else points
  }

  private def minD2(cs: Seq[(Long, Double, Double)]): Column = {
    val terms = cs.map { case (_, cx, cy) => sqDistTo(cx, cy) }
    if (terms.size == 1) terms.head else least(terms: _*)
  }

  /** The R-round oversampling sweep. Returns the candidate list in
    * enumeration order (round 0 = the uniform first pick, then each
    * round's acceptances ordered (pid, x, y)). Driver memory is
    * bounded by 1 + rounds·cap rows.
    *
    * d²(p, C) is maintained INCREMENTALLY (r13 verdict item 4): round
    * r materializes `d2 = least(d2_prev, d² to round r−1's NEW
    * centers)` — min is associative and comparison-only, so the value
    * is bit-identical to the flat least over the full center set, but
    * the per-round scan evaluates only ≤ 1+cap new distance terms
    * instead of the cumulative 1+r·cap (the flat form re-paid every
    * prior round's terms in BOTH the φ-agg and the acceptance filter,
    * where the duplicated giant least() also fell out of efficient
    * codegen — measured 1.5 s + 8 s per round at sf0.1 vs ~1 s total
    * for the incremental shape). The φ-agg and acceptance scans then
    * read the materialized column: per-point work per round is O(cap),
    * not O(r·cap), which is the shape that survives R or cap growing
    * at 100 TB. */
  def sweep(points: DataFrame, l: Int = L, rounds: Int = Rounds,
            seed: Int = Seed, cap: Int = Cap): Seq[Cand] = {
    val hashCols = (0 to rounds).map { r =>
      graft.ops.Dedup.md5Hash60(seed + r, col("pid").cast("string")).as(s"h$r")
    }
    // one pass materializes every round's uniform draw (the md5s
    // dominate per-pass cost — same lesson as kmeansPlusPlus)
    val hashed = widened(points)
      .select(col("pid") +: col("x") +: col("y") +: hashCols: _*)
      // LAZY checkpoint: the first-pick TakeOrdered below touches every
      // partition, so it materializes the blocks as a side effect —
      // eager=true would spend a whole extra pass doing the same thing
      // first (r13 verdict item 4).
      .localCheckpoint(false)
    val first = hashed
      .orderBy(col("h0").asc, col("pid").asc, col("x").asc, col("y").asc)
      .limit(1).select("pid", "x", "y").collect()(0)
    var cands = Vector((0, first.getLong(0), first.getDouble(1), first.getDouble(2)))
    // centers not yet folded into the materialized d2 column
    var fresh = cands
    var cur = hashed
    var hasD2 = false
    for (r <- 1 to rounds) {
      val newTerms = fresh.map { case (_, _, cx, cy) => sqDistTo(cx, cy) }
      val d2Upd =
        if (!hasD2) minD2(fresh.map { case (_, p, cx, cy) => (p, cx, cy) })
        else if (newTerms.isEmpty) col("d2") // a zero-acceptance round
        else least(col("d2") +: newTerms: _*)
      cur = cur
        .select(col("pid") +: col("x") +: col("y") +:
          (r to rounds).map(j => col(s"h$j")) :+ d2Upd.as("d2"): _*)
        // lazy again: the phi-agg right below is the materializing
        // action (it reads every partition), so the d2 update costs no
        // standalone pass
        .localCheckpoint(false)
      hasD2 = true
      // φ(C): exact decimal sum of the 1e-6-snapped d² grid, back to
      // double through the shared string cast — order-independent
      val cost = cur
        .select((sum(round(col("d2") * lit(1e6)).cast(Dec38)).cast("string")
          .cast("double") / 1e6).as("v"))
        .collect()(0).getDouble(0)
      val u = col(s"h$r").cast("double") / lit(Two60)
      val accepted = cur
        .where(col("d2") > 0.0 && u * lit(cost) < lit(l.toDouble) * col("d2"))
        .orderBy(col("pid").asc, col("x").asc, col("y").asc)
        .limit(cap)
        .select("pid", "x", "y").collect()
      fresh = accepted.map(row =>
        (r, row.getLong(0), row.getDouble(1), row.getDouble(2))).toVector
      cands = cands ++ fresh
    }
    cands.zipWithIndex.map { case ((r, p, x, y), i) => Cand(i, r, p, x, y) }
  }

  /** Candidate weights: w(c) = |{p : c = argmin d²(p, C)}| with the
    * assign tie-break (lowest cidx wins) — ONE zero-shuffle scan
    * through the native nearest-centroid loop (as in
    * [[KMeansOps.assign]]) + one candidate-keyed count agg.
    * Duplicate-coordinate candidates lose every tie to their lower-cidx
    * twin and keep weight 0 (they are dropped by the final race's w=0
    * arm). */
  def weighted(points: DataFrame, cands: Seq[Cand]): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val byIdx = cands.sortBy(_.cidx)
    val nearest = nearest2D(col("x"), col("y"),
      byIdx.map(_.x).toArray, byIdx.map(_.y).toArray)
    // a typed literal keeps cidx non-nullable, so the left join below
    // infers no isnotnull(cidx) filter that would re-run the kernel
    // beneath the aggregate (KMeansOps.cidAt)
    val w = widened(points)
      .select(typedLit(byIdx.map(_.cidx).toArray).getItem(nearest).as("cidx"))
      .groupBy("cidx").agg(count(lit(1)).as("w"))
    cands.toDF("cidx", "rnd", "pid", "x", "y")
      .join(w, Seq("cidx"), "left")
      .select(col("cidx"), col("rnd"), col("pid"), col("x"), col("y"),
        coalesce(col("w"), lit(0L)).as("w"))
  }

  /** The registered `init_kmeansbb` surface: weighted candidate set. */
  def candidates(points: DataFrame, l: Int = L, rounds: Int = Rounds,
                 seed: Int = Seed, cap: Int = Cap): DataFrame =
    weighted(points, sweep(points, l, rounds, seed, cap))

  /** Recluster the weighted candidates to k seeds by the weighted
    * k-means++ exponential race (sampling ∝ w, then ∝ w·d² — Bahmani
    * §3.3 step 8). The candidate set is codebook-sized, so this is
    * constant driver work; every double op replays the identical IEEE
    * sequence as the SQL twin ([[PortableMath.plogDouble]] IS the
    * plogSql tree). */
  def finalCenters(points: DataFrame, k: Int = K, l: Int = L,
                   rounds: Int = Rounds, seed: Int = Seed,
                   cap: Int = Cap, fseed: Int = FinalSeed): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val cands = sweep(points, l, rounds, seed, cap)
    val wRows = weighted(points, cands)
      .select("cidx", "x", "y", "w").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
    // ln u_c via the same clamp + plog construction as kmeansPlusPlus
    val lnU = wRows.map { case (cidx, _, _, _) =>
      val h = md5Hash60Jvm(fseed, cidx.toString)
      0.0 - PortableMath.plogDouble(Two60 / math.max(h, 1L).toDouble)
    }
    // Degenerate-corpus guard, mirrored in [[finalCentersSql]] (r13
    // advice): the engine RAISES here (and at the in-loop require
    // below when every remaining key is -inf); the SQL twin can't
    // raise, so it returns ZERO rows in exactly the same situations
    // (each g_j keeps only key > -inf picks, and the final SELECT
    // yields nothing unless all k rounds picked) — rows_match then
    // fails loudly instead of hash-diverging on silent -inf picks.
    require(wRows.count(_._4 > 0) >= k,
      s"k-means||: fewer than $k positively-weighted candidates")
    // race 1: sample ∝ w  ⇒ maximize ln(u)/w; w=0 → -inf (never picked)
    def d2To(cx: Double, cy: Double, x: Double, y: Double): Double = {
      val dx = x - cx; val dy = y - cy
      dx * dx + dy * dy
    }
    var chosen = Vector.empty[Int]
    while (chosen.length < k) {
      var bestIdx = -1
      var bestKey = Double.NegativeInfinity
      wRows.indices.foreach { i =>
        val (_, x, y, w) = wRows(i)
        val d2 =
          if (chosen.isEmpty) 1.0
          else chosen.map(j => d2To(wRows(j)._2, wRows(j)._3, x, y)).min
        val key =
          if (w == 0L || d2 == 0.0) Double.NegativeInfinity
          else lnU(i) / (w.toDouble * d2)
        // maximize key, tie → lowest cidx (strict > keeps the first)
        if (key > bestKey) { bestKey = key; bestIdx = i }
      }
      require(bestIdx >= 0,
        "k-means||: no pickable candidate (all weights 0 or duplicates)")
      chosen = chosen :+ bestIdx
    }
    chosen.zipWithIndex.map { case (i, cid) =>
      val (cidx, x, y, _) = wRows(i)
      (cid, cidx, x, y)
    }.toDF("cid", "cidx", "x", "y")
  }

  /** JVM twin of [[graft.ops.Dedup.md5Hash60]]: first 15 hex chars of
    * md5("seed|" ++ s) as a 60-bit long — bit-identical to the Column
    * and SQL forms (pinned in KMeansParallelSpec). */
  def md5Hash60Jvm(seed: Int, s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$seed|$s".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  // -----------------------------------------------------------------
  // DuckDB twins — the identical rounds unrolled as materialized CTEs.
  // -----------------------------------------------------------------

  private def hSql(seed: Int, r: Int): String =
    graft.ops.Dedup.md5Hash60Sql(seed + r, "CAST(pid AS VARCHAR)")

  private def d2Sql(rel: String): String =
    s"(p.x - $rel.x) * (p.x - $rel.x) + (p.y - $rel.y) * (p.y - $rel.y)"

  /** The shared CTE chain: hp (all round hashes), cs0..csR (growing
    * center sets), cand (enumerated candidate set with weights). */
  private def candChainSql(l: Int, rounds: Int, seed: Int, cap: Int): String = {
    val hashes = (0 to rounds).map(r => s"${hSql(seed, r)} AS h$r").mkString(", ")
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"cs${r - 1}"
      s"""cost$r AS MATERIALIZED (
         |  SELECT CAST(CAST(SUM(CAST(ROUND(m.d2 * 1e6) AS DECIMAL(38,0)))
         |    AS VARCHAR) AS DOUBLE) / 1e6 AS v
         |  FROM hp p CROSS JOIN LATERAL (
         |    SELECT MIN(${d2Sql("c")}) AS d2 FROM $prev c) m),
         |sel$r AS MATERIALIZED (
         |  SELECT p.pid, p.x, p.y
         |  FROM hp p CROSS JOIN LATERAL (
         |    SELECT MIN(${d2Sql("c")}) AS d2 FROM $prev c) m, cost$r
         |  WHERE m.d2 > 0.0
         |    AND (CAST(p.h$r AS DOUBLE) / $Two60Sql) * cost$r.v
         |        < ${l.toDouble} * m.d2
         |  ORDER BY p.pid, p.x, p.y LIMIT $cap),
         |cs$r AS MATERIALIZED (
         |  SELECT rnd, pid, x, y FROM $prev
         |  UNION ALL SELECT $r AS rnd, pid, x, y FROM sel$r)""".stripMargin
    }.mkString(",\n")
    s"""pts AS (${graft.Tables.pointsSqlBody}),
       |hp AS MATERIALIZED (SELECT pid, x, y, $hashes FROM pts),
       |cs0 AS MATERIALIZED (
       |  SELECT 0 AS rnd, pid, x, y FROM hp
       |  ORDER BY h0, pid, x, y LIMIT 1),
       |$roundCtes,
       |cand AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY rnd, pid, x, y) - 1 AS INT)
       |    AS cidx, rnd, pid, x, y FROM cs$rounds),
       |wts AS MATERIALIZED (
       |  SELECT a.cidx, COUNT(*) AS w
       |  FROM pts p CROSS JOIN LATERAL (
       |    SELECT c.cidx FROM cand c
       |    ORDER BY ${d2Sql("c")}, c.cidx LIMIT 1) a
       |  GROUP BY a.cidx),
       |wcand AS MATERIALIZED (
       |  SELECT c.cidx, c.rnd, c.pid, c.x, c.y,
       |    CAST(COALESCE(w.w, 0) AS BIGINT) AS w
       |  FROM cand c LEFT JOIN wts w USING (cidx))""".stripMargin
  }

  def candidatesSql(l: Int = L, rounds: Int = Rounds, seed: Int = Seed,
                    cap: Int = Cap): String =
    s"""WITH ${candChainSql(l, rounds, seed, cap)}
       |SELECT CAST(cidx AS INT) AS cidx, CAST(rnd AS INT) AS rnd,
       |  pid, x, y, w FROM wcand""".stripMargin

  def finalCentersSql(k: Int = K, l: Int = L, rounds: Int = Rounds,
                      seed: Int = Seed, cap: Int = Cap,
                      fseed: Int = FinalSeed): String = {
    val hE = graft.ops.Dedup.md5Hash60Sql(fseed, "CAST(cidx AS VARCHAR)")
    val lnU =
      s"(0.0 - ${PortableMath.plogSql(s"($Two60Sql / CAST(GREATEST(h, 1) AS DOUBLE))")})"
    val rounds2k = (2 to k).map { j =>
      val d2terms = (1 until j).map(i =>
        s"((f.x - g$i.x) * (f.x - g$i.x) + (f.y - g$i.y) * (f.y - g$i.y))")
      val d2 =
        if (d2terms.size == 1) d2terms.head
        else d2terms.mkString("LEAST(", ", ", ")")
      val froms = (1 until j).map(i => s"g$i").mkString(", ")
      s"""g$j AS MATERIALIZED (SELECT cidx, x, y FROM (
         |  SELECT f.cidx, f.x, f.y,
         |    CASE WHEN f.w = 0 OR $d2 = 0.0
         |      THEN CAST('-infinity' AS DOUBLE)
         |      ELSE f.lnu / (CAST(f.w AS DOUBLE) * $d2) END AS key
         |  FROM fh f, $froms
         |  ORDER BY key DESC, f.cidx ASC LIMIT 1) t$j
         |  WHERE key > CAST('-infinity' AS DOUBLE))""".stripMargin
    }.mkString(",\n")
    val outs = (1 to k).map(j =>
      s"SELECT ${j - 1} AS cid, cidx, x, y FROM g$j").mkString(" UNION ALL ")
    // Engine-guard mirror (see finalCenters): a -inf key is never a
    // valid pick (strict > against a -inf initial best on the engine
    // side; WHERE key > -inf here), and if ANY of the k rounds has no
    // valid pick the whole result is EMPTY — the loud equivalent of
    // the engine's require, instead of silently returning zero-weight
    // or duplicate-coordinate centers.
    s"""WITH ${candChainSql(l, rounds, seed, cap)},
       |fh AS MATERIALIZED (
       |  SELECT cidx, x, y, w, $lnU AS lnu
       |  FROM (SELECT cidx, x, y, w, $hE AS h FROM wcand)),
       |g1 AS MATERIALIZED (SELECT cidx, x, y FROM (
       |  SELECT cidx, x, y,
       |    CASE WHEN w = 0 THEN CAST('-infinity' AS DOUBLE)
       |      ELSE lnu / CAST(w AS DOUBLE) END AS key
       |  FROM fh ORDER BY key DESC, cidx ASC LIMIT 1) t1
       |  WHERE key > CAST('-infinity' AS DOUBLE)),
       |$rounds2k,
       |allg AS MATERIALIZED ($outs)
       |SELECT CAST(cid AS INT) AS cid, cidx, x, y FROM allg
       |WHERE (SELECT COUNT(*) FROM allg) = $k""".stripMargin
  }
}
