package kmbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.kmbench.ListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col

import graft.KMeansMain

/** JVM side of the benchmark. It times the program through its public
  * entry point only and writes a result file for the runner (run.py).
  *
  * {{{
  * Harness setup <result.json> <local-dir>
  * Harness cli <result.json> <trace.jsonl|-> <seconds> <local-dir> <KMeansMain args...>
  * Harness selftest <result.json> <trace.jsonl> <local-dir>
  * }}}
  *
  * Every mode reports `setup_s`, the time from JVM start until the
  * session is ready; `setup` stops there. `cli` then calls
  * `KMeansMain.run` until `seconds` have passed, at least once. With a
  * trace path, a [[Tracer]] records every call. */
object Harness {

  /** The session `KMeansMain.main` builds, pinned to 4 local cores and
    * 4 shuffle partitions, with scratch space inside the checkout. */
  def session(localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-kmeans")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Seconds from JVM start until `spark` is ready. */
  private def setupS(): Double =
    (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(args: Array[String]): Unit = args.toList match {
    case "setup" :: out :: localDir :: Nil =>
      val spark = session(localDir)
      val s = setupS()
      finish(spark, None, out, Seq("setup_s" -> s))
    case "cli" :: out :: trace :: seconds :: localDir :: cliArgs =>
      cli(out, Option(trace).filter(_ != "-"), seconds.toDouble, localDir,
        cliArgs.toArray)
    case "selftest" :: out :: trace :: localDir :: Nil =>
      selftest(out, trace, localDir)
    case _ =>
      System.err.println("usage: Harness setup|cli|selftest ...")
      sys.exit(2)
  }

  private def cli(out: String, tracePath: Option[String], seconds: Double,
      localDir: String, cliArgs: Array[String]): Unit = {
    val spark = session(localDir)
    val setup = setupS()
    val trace = tracePath.map(p => (attach(spark), p))
    val params = KMeansMain.parseArgs(cliArgs)
    val calls = ArrayBuffer.empty[String]
    val loopStart = System.nanoTime
    do {
      val compileNs0 = CodeGenerator.compileTime
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val startMs = System.currentTimeMillis
      val t = System.nanoTime
      val res = KMeansMain.run(spark, params)
      val runS = (System.nanoTime - t) / 1e9
      calls += Tracer.json(Seq("run_s" -> runS, "start" -> startMs,
        "end" -> System.currentTimeMillis, "supersteps" -> res.iterations,
        "k_final" -> res.centroids.size,
        "codegen_ns" -> (CodeGenerator.compileTime - compileNs0),
        "codegen_classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0),
        "rdds_left" -> spark.sparkContext.getPersistentRDDs.size))
    } while ((System.nanoTime - loopStart) / 1e9 < seconds)
    finish(spark, trace, out, Seq(
      "setup_s" -> setup,
      "calls" -> Tracer.Raw(calls.mkString("[", ",", "]")),
      "rss_peak_mb" -> rssPeakMb))
  }

  /** A known plan for the tracer's self-test: one job of two stages, a
    * 4-split scan feeding a 3-partition aggregate (AQE off, so the
    * partition count is not coalesced). */
  private def selftest(out: String, tracePath: String, localDir: String): Unit = {
    val spark = session(localDir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    val tracer = attach(spark)
    val groups = spark.range(0, 1000, 1, 4).groupBy(col("id") % 10).count().collect()
    finish(spark, Some((tracer, tracePath)), out, Seq("groups" -> groups.length))
  }

  private def attach(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Writes the trace (once every posted event has reached the tracer),
    * stops the session and writes the result file. */
  private def finish(spark: SparkSession, trace: Option[(Tracer, String)],
      out: String, fields: Seq[(String, Any)]): Unit = {
    ListenerBus.drain(spark.sparkContext)
    for ((t, p) <- trace) Files.write(Paths.get(p), t.lines.asJava)
    spark.stop()
    Files.write(Paths.get(out), (Tracer.json(fields) + "\n").getBytes("UTF-8"))
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def rssPeakMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
