package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import graft.{Engine, Q, Tables}
import graft.operators._

/** select_sf0.1: one client in a closed loop over a fixed list of the
  * SELECT-surface gate queries, each built with `Q.run` and forced with
  * `count()` (the action `graft.Bench` times), in a seed-permuted order
  * every cycle. */
object Batch {
  /** One query per SELECT-surface pack (Scan, Expr, Join, Agg, Window,
    * SetOp, Subquery, Tpch, Array, Temporal, SqlSurface): the pack's
    * median-cost query, measured warm at sf0.1 on 4 cores. The list is
    * fixed so that queries added to a pack later do not change the
    * workload. */
  val Selected: Seq[String] = Seq(
    "scan_point_lookup", "expr_datetime", "join_semi", "agg_group_by_expr",
    "win_default_frame_peers", "setop_union_agg", "sub_exists_correlated",
    "q4_order_priority", "arr_access_slice", "range_join_binned", "sql_any_quantifier")

  val WarmupPasses = 2
  val MinCycles = 2

  def queries: Seq[Q] = {
    val all = Seq(ScanQueries, ExprQueries, JoinQueries, AggQueries, WindowQueries,
      SetOpQueries, SubqueryQueries, TpchQueries, ArrayQueries, TemporalQueries,
      SqlSurfaceQueries).flatMap(_.qs).map(q => q.name -> q).toMap
    Selected.map(n => all.getOrElse(n, throw new NoSuchElementException(s"no gate query $n")))
  }

  def run(ctx: Ctx, res: Result): SparkSession = {
    val dir = ctx.data
    val qs = queries
    qs.foreach(q => q.oracle.foreach(o => res.oracles(q.name) = o))
    val sessionMs = mutable.ArrayBuffer.empty[Double]

    // set-up: a session with the fixture registered as SQL views
    val (spark, setupS) = Harness.setupReps { _ =>
      val t0 = System.nanoTime()
      val s = Trace.span("core.session")(Engine.session("perfbench"))
      sessionMs += (System.nanoTime() - t0) / 1e6
      Trace.span("core.register_all")(Tables.registerAll(s, dir))
      s
    }(_.stop())
    res.metrics("setup_s") = Stats.median(setupS)
    res.detail("setup_s_reps") = setupS
    val sc = spark.sparkContext
    val jobs = new JobTotals
    val plans = new PlanPhases

    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val perOp = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
    var opNs = 0L
    def note(key: String, m: String, v: Double): Unit =
      perOp.getOrElseUpdate(key, mutable.Map.empty[String, Double].withDefaultValue(0.0))(m) += v
    def drained(): Seq[Map[String, Double]] = { Bus.drain(sc); plans.take() }
    def notePhases(key: String, ps: Seq[Map[String, Double]]): Unit =
      for (p <- ps; ph <- Seq("analysis", "optimization", "planning"))
        note(key, ph, p.getOrElse(ph, 0.0))

    // false during the warm-up passes; `tracing` once timing starts in a traced run
    var timing = false
    def tracing = ctx.trace && timing

    /** One query: build then count; returns the row count. */
    def query(q: Q): Long = {
      if (tracing) { JobTotals.tag(sc, s"b|${q.name}"); drained() }
      val df = Trace.span("operators.build")(q.run(spark, dir))
      if (tracing) {
        notePhases(q.name, drained())
        note(q.name, "analysis", df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs.toDouble).getOrElse(0.0))
        JobTotals.tag(sc, s"e|${q.name}")
      }
      val n = Trace.span("operators.exec")(df.count())
      if (tracing) notePhases(q.name, drained())
      n
    }

    def timed(key: String)(body: => Long): Unit = {
      Trace.setRun(key)
      val t0 = System.nanoTime()
      val r = try Right(Trace.span("operators.query")(body)) catch { case e: Throwable => Left(e) }
      val dt = System.nanoTime() - t0
      System.err.println(f"[perfbench] $key%s ${dt / 1e6}%.1f ms${r.left.toOption.fold("")(e => " FAILED " + e)}%s")
      if (timing) {
        res.attempted += 1
        opNs += dt
        r match {
          case Right(n) =>
            lat.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += dt / 1e6
            res.rowcounts.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += n
          case Left(e) => res.fail(key, e)
        }
      }
    }

    def cycle(order: Seq[Q]): Unit = order.foreach(q => timed(q.name)(query(q)))

    /** Direct per-table fixture resolution and view registration, timed
      * after the cycles (traced run only). */
    def coreProbes(): Unit = {
      Tables.names.foreach { n =>
        JobTotals.tag(sc, s"load|$n")
        val t0 = System.nanoTime()
        Trace.span("core.load")(Tables.load(spark, dir, n).schema)
        note("core.load", "ms", (System.nanoTime() - t0) / 1e6)
        note("core.load", "calls", 1)
      }
      JobTotals.tag(sc, "register_all")
      val t0 = System.nanoTime()
      Trace.span("core.register_all")(Tables.registerAll(spark, dir))
      note("core.register_all", "ms", (System.nanoTime() - t0) / 1e6)
      note("core.register_all", "calls", 1)
    }

    val rng = new scala.util.Random(ctx.seed)
    // two untimed passes first: the first run of each query plans, compiles
    // and loads classes cold at about twice its warm cost, and the JIT keeps
    // speeding the second pass up by another 10-20%
    Trace.on = false
    (0 until WarmupPasses).foreach(_ => cycle(rng.shuffle(qs)))
    timing = true
    if (ctx.trace) {
      Trace.on = true
      sc.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    }
    // whole cycles only, so every query has the same number of samples: at
    // least MinCycles, then another while the last one's duration still fits
    // before the deadline (a run that fit one cycle only measured that
    // cycle, the least warm one)
    val cycles = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = ctx.deadlineNs(t0, ctx.seconds)
    while (cycles.size < MinCycles || System.nanoTime() + (cycles.last * 1e9).toLong <= deadline) {
      val cs = System.nanoTime()
      cycle(rng.shuffle(qs))
      cycles += (System.nanoTime() - cs) / 1e9
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    if (ctx.trace) (0 until 3).foreach(_ => coreProbes())

    val medians = lat.map { case (k, xs) => k -> Stats.median(xs.toSeq) }
    val all = lat.values.flatten.toSeq
    val geomean = Stats.geomean(medians.values.toSeq)
    res.metrics("cycle_s") = Stats.median(cycles.toSeq)
    res.metrics("query_geomean_ms") = geomean
    res.metrics("stmts_per_s") = qs.size / Stats.median(cycles.toSeq)
    res.metrics("read_p50_ms") = Stats.quantile(all, 0.5)
    res.metrics("read_p95_ms") = Stats.quantile(all, 0.95)
    res.detail("samples") = all.size
    res.detail("cycles") = cycles.toSeq
    res.detail("measured_s") = wallS
    res.detail("query_median_ms") = medians

    if (ctx.trace) {
      Bus.drain(sc)
      val timedOps = all.size.toDouble
      val measured = jobs.sum(k => k.startsWith("b|") || k.startsWith("e|"))
      def perQuery(m: String): Double =
        perOp.collect { case (k, mm) if lat.contains(k) => mm(m) }.sum / timedOps
      val spanMs = Trace.all.groupBy(_.name).map { case (n, g) =>
        n -> Stats.mean(g.map(s => (s.end - s.start) / 1e6)) }
      val loads = perOp.getOrElse("core.load", mutable.Map.empty[String, Double].withDefaultValue(0.0))
      val regs = perOp.getOrElse("core.register_all", mutable.Map.empty[String, Double].withDefaultValue(0.0))
      res.metrics ++= Seq(
        "traced.query_geomean_ms" -> geomean,
        "core.session_ms" -> Stats.median(sessionMs.toSeq),
        "core.load_ms" -> loads("ms") / loads("calls").max(1),
        "core.load_jobs" -> Tables.names.map(n => jobs.jobs(s"load|$n")).sum / loads("calls").max(1),
        "core.register_all_ms" -> regs("ms") / regs("calls").max(1),
        "core.register_all_jobs" -> jobs.jobs("register_all") / regs("calls").max(1),
        "operators.build_ms" -> spanMs.getOrElse("operators.build", 0.0),
        "operators.build_jobs" -> jobs.sum(_.startsWith("b|"))("jobs") / timedOps,
        "operators.exec_ms" -> spanMs.getOrElse("operators.exec", 0.0),
        "operators.exec_jobs" -> jobs.sum(_.startsWith("e|"))("jobs") / timedOps,
        "catalyst.analysis_ms" -> perQuery("analysis"),
        "catalyst.optimizer_ms" -> perQuery("optimization"),
        "catalyst.planning_ms" -> perQuery("planning"),
        "spark.jobs" -> measured("jobs") / timedOps,
        "spark.stages" -> measured("stages") / timedOps,
        "spark.tasks" -> measured("tasks") / timedOps,
        "spark.task_ms" -> measured("task_ms") / timedOps,
        "spark.task_cpu_ms" -> measured("task_cpu_ms") / timedOps,
        "spark.gc_ms" -> measured("gc_ms") / timedOps,
        "spark.core_busy" -> measured("task_ms") / (opNs / 1e6 * ctx.nproc),
        "spark.shuffle_read_mb" -> measured("shuffle_read_mb") / timedOps,
        "spark.shuffle_write_mb" -> measured("shuffle_write_mb") / timedOps,
        "spark.spill_mb" -> measured("spill_mb") / timedOps,
        "spark.failed_tasks" -> measured("failed_tasks"))
      // per query key: what each layer cost, for attribution
      res.detail("per_query") = lat.keys.toSeq.map { k =>
        val n = lat(k).size.toDouble
        val b = jobs.sum(_ == s"b|$k")
        val e = jobs.sum(_ == s"e|$k")
        k -> Map(
          "median_ms" -> medians(k), "samples" -> n,
          "build_jobs" -> b("jobs") / n, "exec_jobs" -> e("jobs") / n,
          "task_cpu_ms" -> (b("task_cpu_ms") + e("task_cpu_ms")) / n,
          "shuffle_mb" -> (b("shuffle_write_mb") + e("shuffle_write_mb")) / n,
          "analysis_ms" -> perOp.get(k).map(_("analysis")).getOrElse(0.0) / n,
          "optimizer_ms" -> perOp.get(k).map(_("optimization")).getOrElse(0.0) / n,
          "planning_ms" -> perOp.get(k).map(_("planning")).getOrElse(0.0) / n)
      }.toMap
    }
    spark
  }
}
