package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev diagnostics over the gate queries, all reading [[QueryTelemetry]].
  *
  *   runMain graft.Probe repeat <sfDir> <repeats> <q1,q2,...|all>
  *     Run each query N times in one JVM, which separates codegen/JIT
  *     warmup from the steady state the bench's min-of-passes reports,
  *     and print wall time, rows and Spark jobs per run, then the last
  *     run's telemetry record. Job count × per-job cost is the
  *     first-order cost model of the session-script gates (ddl_*), whose
  *     work is many tiny jobs.
  *
  *   runMain graft.Probe plans <sfDir> <outDir> <tag> <q1,q2,...|all>
  *     Write `<query>_<tag>.txt`: the returned DataFrame's formatted plan,
  *     then the plan of every query executed while building it, in
  *     execution order. Queries that materialize eagerly (iterative loops
  *     ending in localCheckpoint, session DDL scripts) return a stub
  *     `Scan ExistingRDD` plan; their interesting plans are the executed
  *     ones. This is the plan evidence committed under plans/r<NN>/.
  *
  *   runMain graft.Probe audit <sfDir>
  *     Execute every gate query and report final adaptive plans that
  *     suggest duplicated work: two or more explodes, or three or more
  *     parquet scans.
  */
object Probe {
  private val Usage = "usage: graft.Probe repeat <sfDir> <repeats> <queries|all> | " +
    "plans <sfDir> <outDir> <tag> <queries|all> | audit <sfDir>"

  /** mode -> (argument count, body) */
  private val modes: Map[String, (Int, (SparkSession, Array[String]) => Unit)] =
    Map("repeat" -> ((3, repeat _)), "plans" -> ((4, plans _)), "audit" -> ((1, audit _)))

  def main(args: Array[String]): Unit = {
    val (arity, run) = args.headOption.flatMap(modes.get).getOrElse(sys.error(Usage))
    require(args.length == arity + 1, Usage)
    val spark = Engine.session(s"probe-${args(0)}")
    try run(spark, args.drop(1)) finally spark.stop()
  }

  private def selected(names: String): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val wanted = names.split(",").toSet
    if (wanted("all")) SparkEntry.queries.toSeq.sortBy(_._1)
    else SparkEntry.queries.filter(kv => wanted(kv._1)).toSeq
  }

  private def repeat(spark: SparkSession, args: Array[String]): Unit = {
    val Array(sfDir, repeats, names) = args
    val telemetry = QueryTelemetry.attach(spark)
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warmup
    selected(names).foreach { case (name, fn) =>
      (1 to repeats.toInt).foreach { i =>
        val (sec, rows) = telemetry.tagged(name) {
          val t0 = System.nanoTime()
          val n = telemetry.timed(name)(fn(spark, sfDir))(_.count())
          ((System.nanoTime() - t0) / 1e9, n)
        }
        val rec = telemetry.take(name)
        println(f"[probe] $name run$i: $sec%.3f s, rows=$rows, jobs=${rec.jobs}")
        if (i == repeats.toInt) println(s"[probe] $name ${rec.json}")
      }
    }
  }

  private def plans(spark: SparkSession, args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names) = args
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val telemetry = QueryTelemetry.attach(spark, keepPlans = true)
    selected(names).foreach { case (name, fn) =>
      try {
        val df = telemetry.tagged(name)(fn(spark, sfDir))
        val body = "==== returned DataFrame ====\n" +
          df.queryExecution.explainString(FormattedMode) +
          telemetry.take(name).plans.mkString
        Files.write(out.resolve(s"${name}_$tag.txt"), body.getBytes("UTF-8"))
        println(s"[probe] wrote ${name}_$tag.txt")
      } catch { case e: Throwable =>
        telemetry.take(name)
        println(s"[probe] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  private def audit(spark: SparkSession, args: Array[String]): Unit = {
    val dir = args(0)
    selected("all").foreach { case (n, f) =>
      try {
        val df = f(spark, dir)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        def count(s: String): Int = s.r.findAllIn(p).length
        val (gens, scans) = (count("Generate "), count("FileScan parquet"))
        if (gens >= 2 || scans >= 3)
          println(s"""AUDIT {"q":"$n","generates":$gens,"reused":${count("ReusedExchange")},""" +
            s""""scans":$scans,"winspecs":${count("windowspecdefinition\\(")}}""")
      } catch { case e: Throwable =>
        println(s"""AUDIT {"q":"$n","error":"${e.getClass.getSimpleName}"}""")
      }
    }
  }
}
