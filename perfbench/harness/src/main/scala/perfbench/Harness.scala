package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM. `perfbench/run.py` generates the
  * seeded fixture, starts this main, checks outputs against the DuckDB
  * oracles and prints the result line.
  *
  *   Harness --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR --out FILE
  */
final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, work: Path, out: Path) {
  val nproc: Int = Runtime.getRuntime.availableProcessors
  def deadlineNs(from: Long, secs: Double): Long = from + (secs * 1e9).toLong
}

/** What a workload reports back; metric names match BENCHMARK.json. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  /** key -> row count of every timed sample (batch workloads). */
  val rowcounts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  val oracles = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var correct = true

  def fail(op: String, e: Throwable): Unit = failures.synchronized {
    failures += ((op, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)))
  }
  def fail(op: String, msg: String): Unit = failures.synchronized { failures += ((op, msg.take(300))) }
}

object Harness {
  /** Setups per run; setup_s reports their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("data"), Paths.get(a("work")), Paths.get(a("out")))
    Trace.on = ctx.trace
    val res = new Result
    val spark = ctx.workload match {
      case "select_sf0.1" => Batch.run(ctx, res)
      case "pg_mixed" => PgMixed.run(ctx, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    res.metrics("retained_heap_mb") = retainedHeapMb()
    res.detail("anchor") = anchor(spark, ctx)
    if (ctx.trace) {
      res.detail("self_ms") = Trace.selfMs
      Trace.writeJsonl(ctx.out.resolveSibling(ctx.out.getFileName.toString + ".spans.jsonl"))
    }
    Files.writeString(ctx.out, Json.obj(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "attempted" -> res.attempted, "failed" -> res.failures.size,
      "correct" -> res.correct, "metrics" -> res.metrics,
      "failures" -> res.failures.map { case (o, m) => Map("op" -> o, "error" -> m) },
      "rowcounts" -> res.rowcounts, "oracles" -> res.oracles, "detail" -> res.detail))
    spark.stop()
    // no engine thread may outlive the run
    System.exit(0)
  }

  /** Run `once` SetupReps times, tearing down all but the last; returns the
    * last setup's state and every setup's wall time in seconds. The first
    * rep also counts the JVM's own start, so it is the cold process start. */
  def setupReps[S](once: Int => S)(teardown: S => Unit): (S, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[S] = None
    for (rep <- 0 until SetupReps) {
      last.foreach(teardown)
      val jvm = if (rep == 0) ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 else 0.0
      val t0 = System.nanoTime()
      last = Some(Trace.span("setup")(once(rep)))
      times += jvm + (System.nanoTime() - t0) / 1e9
    }
    (last.get, times.toSeq)
  }

  /** Heap in use after full collections, in MiB. */
  def retainedHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Host anchor: the two probes `graft.Bench` records as calibParSec and
    * calibSerSec (same work, same code shape), plus the core count, so host
    * drift can be told apart from a code change. */
  def anchor(spark: SparkSession, ctx: Ctx): Map[String, Any] = {
    val cp0 = System.nanoTime()
    spark.range(400000000L).selectExpr("sum(id * 3 + 1)").collect()
    val calibPar = (System.nanoTime() - cp0) / 1e9
    val md5 = java.security.MessageDigest.getInstance("MD5")
    var hb = new Array[Byte](16)
    val cs0 = System.nanoTime()
    var ci = 0
    while (ci < 300000) { md5.reset(); md5.update(hb); hb = md5.digest(); ci += 1 }
    val calibSer = (System.nanoTime() - cs0) / 1e9
    Map("calibParSec" -> calibPar, "calibSerSec" -> calibSer, "nproc" -> ctx.nproc,
      "spark_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
  }
}
