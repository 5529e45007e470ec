package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Per-key attribution of [[QueryTelemetry]], and the guard that keeps it
  * the engine's one telemetry listener. */
class QueryTelemetrySpec extends SparkSpec {

  private def withTelemetry[A](body: QueryTelemetry => A): A = {
    val t = QueryTelemetry.attach(spark)
    try body(t) finally t.detach()
  }

  /** A grouped aggregate: one shuffle between a 4-task scan and the
    * final aggregation. */
  private def grouped = spark.range(0, 100000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()

  /** A global sum over a 3-partition range: a different stage shape. */
  private def summed = spark.range(0, 1000, 1, 3).selectExpr("sum(id)")

  private def counts(r: QueryTelemetry.Record): Seq[Long] =
    Seq(r.jobs, r.stages, r.tasks, r.executions, r.shuffleWrite)

  test("a grouped aggregate records jobs, stages, tasks, shuffle bytes and Catalyst phases") {
    withTelemetry { t =>
      val n = t.tagged("agg")(t.timed("agg")(grouped)(_.collect().length))
      assert(n == 7)
      val r = t.take("agg")
      assert(r.jobs >= 1)
      assert(r.stages >= 2, "the shuffle splits the work into at least two stages")
      assert(r.tasks >= 5, "four scan tasks plus the final aggregation")
      assert(r.shuffleWrite > 0 && r.shuffleRead > 0)
      assert(r.runMs >= 0 && r.cpuNs > 0)
      assert(r.executions == 1)
      assert(Set("analysis", "optimization", "planning").subsetOf(r.phaseMs.keySet))
      assert(r.buildNs > 0 && r.executeNs > 0)
      assert(r.json.contains(s""""jobs":${r.jobs},"stages":${r.stages},"tasks":${r.tasks}"""))
      assert(counts(t.take("agg")).forall(_ == 0), "take removes the record")
    }
  }

  test("back-to-back keys do not bleed events into each other") {
    withTelemetry { t =>
      // each shape alone first: the reference record per key
      t.tagged("a")(grouped.collect())
      t.tagged("b")(summed.collect())
      val (a0, b0) = (counts(t.take("a")), counts(t.take("b")))
      assert(a0 != b0, "the two shapes must be told apart by their records")
      // then alternated, with untagged work between the blocks
      (1 to 2).foreach { _ =>
        t.tagged("a")(grouped.collect())
        summed.collect()
        t.tagged("b")(summed.collect())
      }
      assert(counts(t.take("a")) == a0.map(_ * 2))
      assert(counts(t.take("b")) == b0.map(_ * 2))
    }
  }

  test("a statement under a PgWire-style job group is attributed to the telemetry key") {
    withTelemetry { t =>
      val sc = spark.sparkContext
      t.tagged("stmt") {
        // PgWire sets a job group per connection for CancelRequest
        sc.setJobGroup("pgwire-1", "pgwire connection 1", interruptOnCancel = true)
        try grouped.collect() finally sc.clearJobGroup()
      }
      val r = t.take("stmt")
      assert(r.jobs >= 1 && r.tasks >= 5 && r.shuffleWrite > 0 && r.executions == 1)
    }
  }

  test("no file under src/main registers a listener outside QueryTelemetry") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val registers = "addSparkListener|listenerManager\\.register".r
    val hits = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if registers.findFirstIn(line).isDefined => (p.getFileName.toString, i + 1)
        }
      }
    assert(hits.exists(_._1 == "QueryTelemetry.scala"), "the guard must see the real registration")
    // the one exception is GraphQueries' application-end cache eviction
    // hook, which is not telemetry
    val strays = hits.filterNot(_._1 == "QueryTelemetry.scala")
    assert(strays.map(_._1) == Seq("GraphQueries.scala"),
      s"listener registrations outside QueryTelemetry: ${strays.mkString(", ")}")
  }
}
