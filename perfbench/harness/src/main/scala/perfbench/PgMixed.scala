package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import graft.Engine
import graft.sqlfront.{GraftSession, PgRewrite, PgWire, StatementSplitter}

/** The serving workload: `GraftSession` behind `PgWire` on loopback, nproc
  * connections in a closed loop, each sending its own seeded statement
  * stream over `customer` and `orders` (about 70% reads, 30% writes) plus
  * incremental refreshes of a matview over `orders`.
  *
  * Each client updates and deletes only orders whose key is its own
  * (key mod clients), and inserts only keys from its own range, so the
  * final table state follows from the streams whatever the interleaving;
  * the run ends by checking it. */
object PgMixed {
  final case class Order(cust: Long, status: String, price: Double)

  /** A statement, how to judge its reply, and the model update it implies. */
  final case class Stmt(cls: String, sql: String, write: Boolean,
      check: (Seq[Seq[Option[String]]], Option[Long]) => Option[String], onOk: () => Unit)

  /** The class sequence every client cycles through: 14 reads and 6
    * writes in 20 statements. It is the same for every seed, client i
    * starting i*20/clients slots in, so that runs differ only in the keys,
    * values and fixture the seed draws and not in which classes happen to
    * run when; a run holds only a few dozen statements. */
  val Sequence: Seq[String] = Seq(
    "point", "insert", "range_agg", "join_agg", "update", "pg_spell", "cust_orders",
    "point", "insert", "range_agg", "delete", "join_agg", "pg_spell", "point",
    "upsert", "cust_orders", "range_agg", "join_agg", "refresh", "pg_spell")
  val WriteClasses = Set("insert", "update", "delete", "upsert", "refresh")

  val Ddl = Seq(
    "CREATE TABLE customer (c_custkey BIGINT PRIMARY KEY, c_name TEXT, " +
      "c_nationkey INT, c_acctbal DOUBLE PRECISION, c_mktsegment TEXT)",
    "CREATE TABLE orders (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, " +
      "o_orderstatus TEXT, o_totalprice DOUBLE PRECISION, o_orderdate TIMESTAMP, " +
      "o_orderpriority TEXT)")
  val Matview = "CREATE MATERIALIZED VIEW order_stats AS SELECT o_orderstatus, " +
    "count(*) AS n, sum(o_totalprice) AS total FROM orders GROUP BY o_orderstatus"

  private def ok: Option[String] = None
  private def one(affected: Option[Long]): Option[String] =
    if (affected.contains(1L)) ok else Some(s"expected 1 row affected, got $affected")

  /** One client's stream and its model of the rows it owns. */
  final class Client(id: Int, n: Int, seed: Long, base: Map[Long, Order],
      baseCustomers: Seq[Long], maxCust: Long) {
    private val rng = new java.util.Random(seed * 1000003L + id)
    val live: mutable.Map[Long, Order] = mutable.Map.from(base.filter(_._1 % n == id))
    private val keys = mutable.ArrayBuffer.from(live.keys.toSeq.sorted)
    /** Balance of every customer this client upserted, as last written. */
    val customers: mutable.Map[Long, Double] = mutable.Map.empty
    private val ownCustomers = mutable.ArrayBuffer.from(baseCustomers.filter(_ % n == id))
    var newCustomers = 0L
    private var nextOrder = 100000000L + id * 1000000L
    private var nextCust = 10000000L + id * 1000000L
    private val maxOrder = base.keys.max

    private def price(): Double = math.round(rng.nextDouble() * 500000 * 100) / 100.0
    private def status(): String = Seq("O", "F", "P")(rng.nextInt(3))
    private def liveKey(): Option[Long] =
      Iterator.fill(16)(keys(rng.nextInt(keys.size))).find(live.contains)

    private var slot = id * Sequence.size / n

    def next(): Stmt = {
      val cls = Sequence(slot % Sequence.size)
      slot += 1
      make(cls)
    }

    def make(cls: String): Stmt = cls match {
      case "point" =>
        val k = keys(rng.nextInt(keys.size))
        val want = live.get(k)
        Stmt(cls, s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = $k",
          write = false, (rows, _) => (want, rows) match {
            case (None, Seq()) => ok
            case (Some(o), Seq(Seq(_, Some(s), Some(p))))
              if s == o.status && math.abs(p.toDouble - o.price) < 1e-6 => ok
            case _ => Some(s"order $k: expected $want, got $rows")
          }, () => ())
      case "range_agg" =>
        val a = rng.nextInt(maxOrder.toInt + 1)
        Stmt(cls, "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM orders " +
          s"WHERE o_orderkey BETWEEN $a AND ${a + 999} GROUP BY o_orderstatus ORDER BY o_orderstatus",
          write = false, (_, _) => ok, () => ())
      case "join_agg" =>
        val y = 1995 + rng.nextInt(6)
        Stmt(cls, "SELECT c.c_mktsegment, count(*) AS n, sum(o.o_totalprice) AS total " +
          "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
          s"WHERE o.o_orderdate >= TIMESTAMP '$y-01-01 00:00:00' " +
          s"AND o.o_orderdate < TIMESTAMP '${y + 1}-01-01 00:00:00' " +
          "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment",
          write = false, (_, _) => ok, () => ())
      case "pg_spell" =>
        val a = rng.nextInt(maxCust.toInt + 1)
        Stmt(cls, "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, " +
          "o_totalprice::numeric(12,2) AS price FROM orders " +
          s"WHERE o_custkey BETWEEN $a AND ${a + 49} " +
          "ORDER BY o_custkey, o_orderdate DESC, o_orderkey FETCH FIRST 20 ROWS ONLY",
          write = false, (rows, _) => if (rows.size <= 20) ok else Some(s"${rows.size} rows > 20"),
          () => ())
      case "cust_orders" =>
        val c = rng.nextInt(maxCust.toInt + 1)
        Stmt(cls, "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders " +
          s"WHERE o_custkey = $c ORDER BY o_orderdate, o_orderkey",
          write = false, (_, _) => ok, () => ())
      case "insert" =>
        val k = nextOrder
        nextOrder += 1
        val o = Order(rng.nextInt(maxCust.toInt + 1).toLong, "O", price())
        val day = 1 + rng.nextInt(28)
        Stmt(cls, f"INSERT INTO orders VALUES ($k, ${o.cust}, 'O', ${o.price}%.2f, " +
          f"TIMESTAMP '1998-08-$day%02d 00:00:00', '3-MEDIUM')",
          write = true, (_, a) => one(a), () => { live(k) = o; keys += k })
      case "update" => liveKey() match {
        case None => make("insert")
        case Some(k) =>
          val (s, p) = (status(), price())
          Stmt(cls, f"UPDATE orders SET o_totalprice = $p%.2f, o_orderstatus = '$s' WHERE o_orderkey = $k",
            write = true, (_, a) => one(a), () => live(k) = live(k).copy(status = s, price = p))
      }
      case "delete" => liveKey() match {
        case None => make("insert")
        case Some(k) =>
          Stmt(cls, s"DELETE FROM orders WHERE o_orderkey = $k",
            write = true, (_, a) => one(a), () => live.remove(k))
      }
      case "upsert" =>
        val fresh = ownCustomers.isEmpty || rng.nextBoolean()
        val k = if (fresh) nextCust else ownCustomers(rng.nextInt(ownCustomers.size))
        if (fresh) nextCust += 1
        val bal = math.round((rng.nextDouble() * 11000 - 1000) * 100) / 100.0
        Stmt(cls, f"INSERT INTO customer VALUES ($k, 'Customer#$k%09d', ${rng.nextInt(25)}, " +
          f"$bal%.2f, 'BUILDING') ON CONFLICT (c_custkey) DO UPDATE SET c_acctbal = EXCLUDED.c_acctbal",
          write = true, (_, a) => one(a),
          () => { customers(k) = bal; if (fresh) { newCustomers += 1; ownCustomers += k } })
      case "refresh" =>
        Stmt(cls, "REFRESH MATERIALIZED VIEW order_stats INCREMENTALLY",
          write = true, (_, _) => ok, () => ())
    }
  }

  /** Split of one in-process statement: rewrite (us), gate wait, sql and
    * fetch (ms), and total ms from the gate on. */
  final case class Replayed(cls: String, rewriteUs: Double, gateMs: Double, sqlMs: Double,
      fetchMs: Double, totalMs: Double)

  /** Run `st` the way PgWire does, on the calling thread's bound context,
    * timing each layer. */
  def inProcess(gs: GraftSession, st: Stmt)
      : (Replayed, (Option[String], Seq[Seq[Option[String]]], Option[Long])) = {
    val sc = gs.spark.sparkContext
    val t0 = System.nanoTime()
    Trace.span("sqlfront.rewrite") {
      try StatementSplitter.split(st.sql).foreach(PgRewrite.rewrite)
      catch { case _: Throwable => () } // the statement itself reports it
    }
    val t1 = System.nanoTime()
    JobTotals.tag(sc, s"pg|${if (st.write) "W" else "R"}|${st.cls}")
    var t2, t3 = 0L
    val out = try {
      val df = Trace.span("sqlfront.gate")(gs.withStatementLock(st.sql) {
        t2 = System.nanoTime()
        val d = Trace.span("sqlfront.sql")(gs.sql(st.sql))
        t3 = System.nanoTime()
        d
      })
      val rows = Trace.span("sqlfront.fetch") {
        df.toLocalIterator().asScala.map(r => r.toSeq.map(v => Option(v).map(_.toString))).toSeq
      }
      val affected =
        if (df.schema.fieldNames.toSeq == Seq("status", "count")) rows.headOption.flatMap(_(1).map(_.toLong))
        else None
      (None, rows, affected)
    } catch { case e: Throwable =>
      (Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"), Nil, None)
    }
    val t4 = System.nanoTime()
    if (t3 == 0L) { t2 = t4; t3 = t4 }
    (Replayed(st.cls, (t1 - t0) / 1e3, (t2 - t1) / 1e6, (t3 - t2) / 1e6, (t4 - t3) / 1e6,
      (t4 - t1) / 1e6), out)
  }

  /** Wire cost per read class with nothing else running: the same read
    * over the socket and in-process, alternately, three times each;
    * returns the mean over classes of the difference of medians. */
  private def wireCost(gs: GraftSession, conn: Wire, client: Client): Double = {
    val diffs = Seq("point", "range_agg", "cust_orders").map { cls =>
      val pairs = (0 until 3).map { _ =>
        val st = client.make(cls)
        val w0 = System.nanoTime()
        conn.query(st.sql)
        val wire = (System.nanoTime() - w0) / 1e6
        (wire, inProcess(gs, st)._1.totalMs)
      }
      Stats.median(pairs.map(_._1)) - Stats.median(pairs.map(_._2))
    }
    Stats.mean(diffs)
  }

  /** One client-side sample. */
  final case class Sample(cls: String, ms: Double, ok: Boolean)

  final case class Server(spark: SparkSession, gs: GraftSession, wire: PgWire,
      conns: Seq[Wire], wh: Path)

  def run(ctx: Ctx, res: Result): SparkSession = {
    val n = ctx.nproc
    val custLines = Files.readAllLines(Path.of(ctx.data, "customer.csv")).asScala.toSeq
    val orderLines = Files.readAllLines(Path.of(ctx.data, "orders.csv")).asScala.toSeq
    val base = orderLines.map { l =>
      val f = l.split(",")
      f(0).toLong -> Order(f(1).toLong, f(2), f(3).toDouble)
    }.toMap
    val baseCust = custLines.map(_.split(",", 2)(0).toLong)
    val sessionMs = mutable.ArrayBuffer.empty[Double]

    val (srv, setupS) = Harness.setupReps { rep =>
      val t0 = System.nanoTime()
      val spark = Trace.span("core.session")(Engine.session("perfbench"))
      sessionMs += (System.nanoTime() - t0) / 1e6
      val wh = ctx.work.resolve(s"warehouse$rep")
      val gs = new GraftSession(spark, wh)
      Ddl.foreach(gs.sql)
      gs.copyIn("customer", custLines, "CSV")
      gs.copyIn("orders", orderLines, "CSV")
      gs.sql(Matview)
      // the server's threads inherit this thread's job tag
      if (ctx.trace) JobTotals.tag(spark.sparkContext, "wire")
      val wire = PgWire.start(gs, 0)
      Server(spark, gs, wire, Seq.fill(n)(new Wire(wire.boundPort)), wh)
    } { s =>
      s.conns.foreach(_.close()); s.wire.stop(); s.spark.stop(); graft.Scratch.rm(s.wh.toFile)
    }
    res.metrics("setup_s") = Stats.median(setupS)
    res.detail("setup_s_reps") = setupS
    val spark = srv.spark
    val gs = srv.gs
    val sc = spark.sparkContext
    val jobs = new JobTotals
    if (ctx.trace) sc.addSparkListener(jobs)

    val maxCust = baseCust.max
    val clients = (0 until n).map(i => new Client(i, n, ctx.seed, base, baseCust, maxCust))

    // No untimed warm-up: the set-ups already ran DDL, COPY and the matview
    // in this JVM, and a run holds few statements, so every one is timed;
    // the medians set the cold first statement of each class aside.
    val wireExec = (i: Int, st: Stmt) => {
      val r = srv.conns(i).query(st.sql)
      (r.error, r.rows, r.tag.split(" ").lastOption.flatMap(_.toLongOption))
    }
    val bytes0 = Warehouse.scan(gs).total
    // wire phase: the whole run when timed; the first half when traced
    val wireSecs = if (ctx.trace) ctx.seconds / 2.0 else ctx.seconds.toDouble
    val (wireSamples, wireWall) = loop(ctx, res, clients, wireSecs)(wireExec)
    // traced second half: the same streams replayed in-process through the
    // statement gate, GraftSession.sql and the row iterator PgWire drains
    val replay = mutable.ArrayBuffer.empty[Replayed]
    if (ctx.trace) {
      val ctxs = clients.indices.map(_ => gs.openConnectionContext(None))
      val bound = new ThreadLocal[Boolean] { override def initialValue() = false }
      loop(ctx, res, clients, ctx.seconds / 2.0) { (i, st) =>
        if (!bound.get) { gs.bindContext(ctxs(i)); bound.set(true) }
        val (r, out) = inProcess(gs, st)
        replay.synchronized(replay += r)
        out
      }
      ctxs.foreach(gs.closeConnectionContext)
    }

    def byCls(ss: Seq[Sample]): Map[String, Seq[Double]] =
      ss.filter(_.ok).groupBy(_.cls).map { case (k, g) => k -> g.map(_.ms) }
    val wireBy = byCls(wireSamples)
    val reads = wireSamples.filter(s => s.ok && !WriteClasses(s.cls)).map(_.ms)
    val writes = wireSamples.filter(s => s.ok && WriteClasses(s.cls)).map(_.ms)
    // the queries are the read classes; writes are reported on their own
    val geomean = Stats.geomean(wireBy.collect { case (k, v) if !WriteClasses(k) => Stats.median(v) }.toSeq)
    res.metrics("query_geomean_ms") = geomean
    // every completion over the whole phase, the statements in flight at
    // the deadline included: counting only completions inside the window
    // doubled the seed-to-seed spread, a run holding about 35 statements
    res.metrics("stmts_per_s") = wireSamples.count(_.ok) / wireWall
    res.metrics("read_p50_ms") = Stats.quantile(reads, 0.5)
    res.metrics("read_p95_ms") = Stats.quantile(reads, 0.95)
    res.metrics("write_p50_ms") = Stats.quantile(writes, 0.5)
    res.metrics("write_p90_ms") = Stats.quantile(writes, 0.9)
    res.detail("reads") = reads.size
    res.detail("writes") = writes.size
    res.detail("measured_s") = wireWall
    res.detail("class_p50_ms") = wireBy.map { case (k, v) => k -> Stats.median(v) }
    res.detail("class_count") = wireSamples.groupBy(_.cls).map { case (k, v) => k -> v.size }

    val wh = Warehouse.scan(gs)
    res.metrics("space_amp") = wh.total.toDouble / wh.live.max(1)
    val writesOk = wireSamples.count(s => s.ok && WriteClasses(s.cls)) +
      replay.count(r => WriteClasses(r.cls))
    if (ctx.trace) {
      Bus.drain(sc)
      def rp(cls: String => Boolean, f: Replayed => Double) =
        replay.filter(r => cls(r.cls)).map(f).toSeq
      val isRead = (c: String) => !WriteClasses(c)
      val repBy = replay.groupBy(_.cls).map { case (k, g) => k -> Stats.median(g.map(_.totalMs).toSeq) }
      val wireMs = {
        val c = gs.openConnectionContext(None)
        gs.bindContext(c)
        try wireCost(gs, srv.conns(0), clients(0))
        finally { gs.unbindContext(); gs.closeConnectionContext(c) }
      }
      val all = jobs.sum(k => k == "wire" || k.startsWith("pg|"))
      val nStmts = (wireSamples.size + replay.size).max(1).toDouble
      val nReads = replay.count(r => isRead(r.cls)).max(1).toDouble
      val nWrites = replay.count(r => !isRead(r.cls)).max(1).toDouble
      val nRefresh = replay.count(_.cls == "refresh").max(1).toDouble
      val busyMs = wireSamples.map(_.ms).sum + replay.map(_.totalMs).sum
      res.metrics ++= Seq(
        "traced.query_geomean_ms" -> geomean,
        "core.session_ms" -> Stats.median(sessionMs.toSeq),
        "sqlfront.rewrite_us" -> Stats.median(rp(_ => true, _.rewriteUs)),
        "sqlfront.gate_wait_ms" -> Stats.mean(rp(_ => true, _.gateMs)),
        "sqlfront.sql_ms" -> Stats.median(rp(_ => true, _.sqlMs)),
        "sqlfront.fetch_ms" -> Stats.median(rp(_ => true, _.fetchMs)),
        "sqlfront.wire_ms" -> wireMs,
        "sqlfront.jobs_per_read" -> jobs.sum(_.startsWith("pg|R|"))("jobs") / nReads,
        "sqlfront.jobs_per_write" -> jobs.sum(_.startsWith("pg|W|"))("jobs") / nWrites,
        "catalog.live_files" -> wh.liveFiles.toDouble,
        "catalog.version_dirs" -> wh.versionDirs.toDouble,
        "catalog.bytes_per_write" -> (wh.total - bytes0).toDouble / writesOk.max(1),
        "streaming.refresh_ms" -> Stats.median(rp(_ == "refresh", _.totalMs)),
        "streaming.refresh_jobs" -> jobs.sum(_ == "pg|W|refresh")("jobs") / nRefresh,
        "spark.jobs" -> all("jobs") / nStmts,
        "spark.stages" -> all("stages") / nStmts,
        "spark.tasks" -> all("tasks") / nStmts,
        "spark.task_ms" -> all("task_ms") / nStmts,
        "spark.task_cpu_ms" -> all("task_cpu_ms") / nStmts,
        "spark.gc_ms" -> all("gc_ms") / nStmts,
        "spark.core_busy" -> all("task_ms") / (busyMs / n * ctx.nproc).max(1.0),
        "spark.shuffle_read_mb" -> all("shuffle_read_mb") / nStmts,
        "spark.shuffle_write_mb" -> all("shuffle_write_mb") / nStmts,
        "spark.spill_mb" -> all("spill_mb") / nStmts,
        "spark.failed_tasks" -> all("failed_tasks"))
      res.detail("replay_class_p50_ms") = repBy
      res.detail("replay_class_jobs") = Sequence.distinct.map { c =>
        val k = s"pg|${if (WriteClasses(c)) "W" else "R"}|$c"
        c -> jobs.jobs(k).toDouble / replay.count(_.cls == c).max(1)
      }.toMap
    }
    res.detail("warehouse") = Map("bytes" -> wh.total, "live_bytes" -> wh.live,
      "live_files" -> wh.liveFiles, "version_dirs" -> wh.versionDirs)

    finalCheck(gs, clients, baseCust.size, res)
    srv.conns.foreach(_.close())
    srv.wire.stop()
    spark
  }

  /** Every client's closed loop until the deadline; returns the samples and
    * the phase's wall time in seconds. */
  private def loop(ctx: Ctx, res: Result, clients: Seq[Client], secs: Double)(
      exec: (Int, Stmt) => (Option[String], Seq[Seq[Option[String]]], Option[Long]))
      : (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val deadline = ctx.deadlineNs(t0, secs)
    val out = Array.fill(clients.size)(mutable.ArrayBuffer.empty[Sample])
    val threads = clients.indices.map { i =>
      val t = new Thread(() => {
        Trace.setRun(s"client$i")
        while (System.nanoTime() < deadline) {
          val st = clients(i).next()
          val s0 = System.nanoTime()
          val (err, rows, affected) = Trace.span("sqlfront.statement")(exec(i, st))
          val ms = (System.nanoTime() - s0) / 1e6
          val bad = err.orElse(st.check(rows, affected))
          bad.foreach(m => res.fail(st.cls, m))
          if (bad.isEmpty) st.onOk()
          out(i) += Sample(st.cls, ms, bad.isEmpty)
        }
      }, s"perfbench-client-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    val samples = out.toSeq.flatten
    res.attempted += samples.size
    (samples, (System.nanoTime() - t0) / 1e9)
  }

  /** The stored state must equal what the clients' successful statements
    * imply. Read through the catalog's current snapshots, not the temp
    * views the statements use. */
  private def finalCheck(gs: GraftSession, clients: Seq[Client], baseCust: Int, res: Result): Unit = {
    def wrong(what: String): Unit = { res.correct = false; res.fail("final_check", what) }
    val model = clients.flatMap(_.live).toMap
    val orders = gs.visibleDf(gs.catalog.tables("orders")).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> (r.getAs[String]("o_orderstatus"), r.getAs[Double]("o_totalprice")))
      .toMap
    if (orders.size != model.size) wrong(s"orders: ${orders.size} rows, streams imply ${model.size}")
    val diff = model.count { case (k, o) => !orders.get(k).exists(v => v._1 == o.status && math.abs(v._2 - o.price) < 1e-6) }
    if (diff > 0) wrong(s"orders: $diff rows differ from the streams")
    val customers = gs.visibleDf(gs.catalog.tables("customer")).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Double]("c_acctbal")).toMap
    val wantCust = baseCust + clients.map(_.newCustomers).sum
    if (customers.size != wantCust) wrong(s"customer: ${customers.size} rows, streams imply $wantCust")
    val upserted = clients.flatMap(_.customers)
    val badBal = upserted.count { case (k, bal) => !customers.get(k).exists(v => math.abs(v - bal) < 1e-6) }
    if (badBal > 0) wrong(s"customer: $badBal upserted balances differ from the streams")
    try {
      graft.streaming.MatviewMaintenance.refreshOnce(gs, "order_stats")
      val v = gs.catalog.views("order_stats")
      val got = gs.spark.read.parquet(gs.catalog.matviewDir(v).toString).collect()
        .map(r => r.getAs[String]("o_orderstatus") -> (r.getAs[Long]("n"), r.getAs[Double]("total"))).toMap
      val want = model.values.groupBy(_.status).map { case (s, os) => s -> (os.size.toLong, os.map(_.price).sum) }
      val same = got.keySet == want.keySet && want.forall { case (s, (c, t)) =>
        got(s)._1 == c && math.abs(got(s)._2 - t) <= 1e-6 * math.max(1.0, math.abs(t)) }
      if (!same) wrong(s"order_stats: $got, streams imply $want")
    } catch { case e: Throwable => wrong(s"order_stats refresh: ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }
}

/** Warehouse directory census. */
final case class Warehouse(total: Long, live: Long, liveFiles: Long, versionDirs: Long)

object Warehouse {
  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }

  def scan(gs: GraftSession): Warehouse = {
    val cat = gs.catalog
    val all = files(cat.root)
    val liveTables = cat.tables.values.toSeq.flatMap(t => files(cat.tableDir(t)))
    val liveViews = cat.views.values.filter(_.materialized).toSeq.flatMap(v => files(cat.matviewDir(v)))
    val dataFile = (p: Path) => !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_")
    val versionDirs = {
      val s = Files.walk(cat.root)
      try s.iterator.asScala.count(p => Files.isDirectory(p) && p.getFileName.toString.matches("v\\d+"))
      finally s.close()
    }
    Warehouse(all.map(Files.size).sum, (liveTables ++ liveViews).map(Files.size).sum,
      liveTables.count(dataFile).toLong, versionDirs.toLong)
  }
}
