package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{EventStreams, StreamingDecontam}

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

case class DocText(doc_id: Long, text: String)

case class VecRow(vec_id: Long, embedding: Array[Float])

/** Structured Streaming behaviors (SURVEY §2.11): incremental windowed
  * aggregation, watermark-based late-data dropping, session merging, and
  * foreachBatch materialized-view maintenance — the Spark-native version
  * of the reference's scheduled matview refresh
  * (kv/jobs/MaterializedViewRefreshJob.java).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("tumbling window aggregates incrementally across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.tumbling(EventStreams.withLateData(in.toDF(), "2 hours"), "1 hour")
      .writeStream.format("memory").queryName("tumbling_sink")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(Ev(1, ts(5), 1, "view", 1.0), Ev(2, ts(20), 1, "view", 2.0))
      q.processAllAvailable()
      in.addData(Ev(3, ts(70), 2, "click", 5.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT w_start, event_type, events, total FROM tumbling_sink ORDER BY w_start").collect()
      assert(rows.length == 2)
      assert(rows(0).getLong(2) == 2 && rows(0).getDouble(3) == 3.0) // hour 0: two views
      assert(rows(1).getString(1) == "click" && rows(1).getLong(2) == 1)
    } finally q.stop()
  }

  test("watermark drops events later than the allowed delay") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    // 10-minute watermark, append mode: a window only emits once the
    // watermark passes its end, and events older than the watermark are dropped.
    val q = EventStreams.tumbling(EventStreams.withLateData(in.toDF(), "10 minutes"), "1 hour")
      .writeStream.format("memory").queryName("wm_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Ev(1, ts(30), 1, "view", 1.0))
      q.processAllAvailable()
      // advance event time far past hour-0's end + watermark → hour-0 finalizes
      in.addData(Ev(2, ts(200), 1, "view", 1.0))
      q.processAllAvailable()
      // this event belongs to hour 0, which is already finalized → dropped
      in.addData(Ev(3, ts(31), 1, "view", 100.0))
      q.processAllAvailable()
      val hour0 = spark.sql("SELECT events, total FROM wm_sink WHERE event_type = 'view' " +
        "AND w_start = TIMESTAMP '2024-01-01 00:00:00'").collect()
      assert(hour0.length == 1)
      assert(hour0(0).getLong(0) == 1 && hour0(0).getDouble(1) == 1.0) // late row excluded
    } finally q.stop()
  }

  test("session windows merge events within the gap and split beyond it") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.sessions(EventStreams.withLateData(in.toDF(), "2 hours"), "30 minutes")
      .writeStream.format("memory").queryName("sess_sink")
      .outputMode(OutputMode.Complete()).start()
    try {
      // user 1: events at 0, 20, 40 min → one session (gaps < 30m);
      // then 120 min → second session. user 2: single event.
      in.addData(
        Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(20), 1, "view", 1.0),
        Ev(3, ts(40), 1, "view", 1.0), Ev(4, ts(120), 1, "view", 1.0),
        Ev(5, ts(10), 2, "click", 2.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, events FROM sess_sink ORDER BY user_id, s_start").collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((1L, 3L), (1L, 1L), (2L, 1L)))
    } finally q.stop()
  }

  test("session conversion attributes purchases to the session's entry type") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.sessionConversion(
        EventStreams.withLateData(in.toDF(), "2 hours"), "30 minutes")
      .writeStream.format("memory").queryName("conv_sink")
      .outputMode(OutputMode.Complete()).start()
    try {
      // user 1 session A: view→click→purchase (entry view, converted);
      // user 1 session B at +2h: lone click (entry click, no conversion);
      // user 2: lone purchase (entry purchase, converted)
      in.addData(
        Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(10), 1, "click", 1.0),
        Ev(3, ts(20), 1, "purchase", 9.0), Ev(4, ts(120), 1, "click", 1.0),
        Ev(5, ts(5), 2, "purchase", 3.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, entry_type, converted, events FROM conv_sink " +
          "ORDER BY user_id, s_start").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))).toSeq ==
        Seq((1L, "view", 1, 3L), (1L, "click", 0, 1L), (2L, "purchase", 1, 1L)))
    } finally q.stop()
  }

  test("foreachBatch maintains a materialized aggregate incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = java.nio.file.Files.createTempDirectory("graft_mv").toString
    // update-mode counts per event_type; each micro-batch merges changed
    // rows into the parquet "matview" — incremental refresh, not recompute.
    val counts = EventStreams.withLateData(in.toDF(), "1 hour")
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    val q = counts.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // batch is referenced twice (anti-join + union): persist so the
        // state-store-backed scan runs once — re-reading a RocksDB store
        // from a second scan in the same trigger contends on the per-
        // instance lock (and double-reads are waste on any backend)
        batch.persist()
        try {
          val cur = scala.util.Try(spark.read.parquet(out)).getOrElse(batch.limit(0))
          cur.join(batch, Seq("event_type"), "left_anti").union(batch)
            .coalesce(1).write.mode("overwrite").parquet(out + ".tmp")
          spark.read.parquet(out + ".tmp").write.mode("overwrite").parquet(out)
        } finally batch.unpersist()
      }.start()
    try {
      in.addData(Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(1), 1, "view", 1.0))
      q.processAllAvailable()
      in.addData(Ev(3, ts(2), 2, "click", 1.0), Ev(4, ts(3), 1, "view", 1.0))
      q.processAllAvailable()
      val m = spark.read.parquet(out).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m == Map("view" -> 3L, "click" -> 1L))
    } finally q.stop()
  }

  test("continuous background maintenance keeps a session matview fresh") {
    val s = new graft.sqlfront.GraftSession(
      spark, java.nio.file.Files.createTempDirectory("graft_wh"))
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, kind TEXT, amt DOUBLE)")
    s.sql("INSERT INTO ev VALUES (1,'a',1.0), (2,'b',2.0)")
    s.sql("CREATE MATERIALIZED VIEW evtot AS " +
      "SELECT kind, sum(amt) AS total FROM ev GROUP BY kind")
    // the scheduler analogue: a long-running query picks up appended
    // part-files and republishes — no REFRESH statements needed
    val q = graft.streaming.MatviewMaintenance.continuous(s, "evtot", "1 second")
    try {
      q.processAllAvailable()
      s.sql("INSERT INTO ev VALUES (3,'a',10.0)")
      q.processAllAvailable()
      val m = s.sql("SELECT kind, total FROM evtot ORDER BY kind").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(m == Map("a" -> 11.0, "b" -> 2.0))
      // a second maintainer on the same view is refused
      assertThrows[IllegalStateException](
        graft.streaming.MatviewMaintenance.continuous(s, "evtot", "1 second"))
      // a snapshot bump (UPDATE publishes a new version dir) STOPS the
      // maintainer — it must not idle against the dead dir while the
      // matview silently diverges
      s.sql("UPDATE ev SET amt = 100.0 WHERE id = 1")
      assert(!q.isActive)
      // restarting rebuilds from the new snapshot and is correct again
      val q2 = graft.streaming.MatviewMaintenance.continuous(s, "evtot", "1 second")
      try {
        q2.processAllAvailable()
        val m2 = s.sql("SELECT kind, total FROM evtot ORDER BY kind").collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(m2 == Map("a" -> 110.0, "b" -> 2.0))
      } finally q2.stop()
    } finally q.stop()
  }

  test("ROLLBACK invalidates a matview checkpoint that consumed txn rows") {
    val s = new graft.sqlfront.GraftSession(
      spark, java.nio.file.Files.createTempDirectory("graft_wh"))
    s.sql("CREATE TABLE rb (id INT PRIMARY KEY, amt DOUBLE)")
    s.sql("INSERT INTO rb VALUES (1, 1.0)")
    s.sql("CREATE MATERIALIZED VIEW rbtot AS SELECT sum(amt) AS total FROM rb")
    s.sql("REFRESH MATERIALIZED VIEW rbtot INCREMENTALLY")
    assert(s.sql("SELECT total FROM rbtot").collect()(0).getDouble(0) == 1.0)
    // an incremental refresh INSIDE the txn pulls the uncommitted row
    // into the checkpoint's file-source log + aggregation state
    s.sql("BEGIN")
    s.sql("INSERT INTO rb VALUES (2, 10.0)")
    s.sql("REFRESH MATERIALIZED VIEW rbtot INCREMENTALLY")
    assert(s.sql("SELECT total FROM rbtot").collect()(0).getDouble(0) == 11.0)
    s.sql("ROLLBACK")
    // the base table's file listing is excluded from the version stamp,
    // so without explicit invalidation the stale checkpoint would be
    // reused and keep publishing the rolled-back row from held state
    s.sql("REFRESH MATERIALIZED VIEW rbtot INCREMENTALLY")
    assert(s.sql("SELECT total FROM rbtot").collect()(0).getDouble(0) == 1.0,
      "matview must not retain rolled-back rows after checkpoint rebuild")
  }

  test("an incremental REFRESH with no new rows restores the base table's batch view") {
    val s = new graft.sqlfront.GraftSession(
      spark, java.nio.file.Files.createTempDirectory("graft_wh"))
    s.sql("CREATE TABLE rn (id INT PRIMARY KEY, amt DOUBLE)")
    s.sql("CREATE MATERIALIZED VIEW rntot AS SELECT sum(amt) AS total FROM rn")
    s.sql("INSERT INTO rn VALUES (1, 1.0)")
    s.sql("REFRESH MATERIALIZED VIEW rntot INCREMENTALLY")
    // nothing new to read: the stream publishes no batch, so nothing
    // bumps the catalog generation behind the refresh
    s.sql("REFRESH MATERIALIZED VIEW rntot INCREMENTALLY")
    assert(s.sql("SELECT count(*) FROM rn").collect()(0).getLong(0) == 1L,
      "a SELECT on the base table must not see its streaming twin")
    assert(s.sql("SELECT total FROM rntot").collect()(0).getDouble(0) == 1.0)
  }

  test("REFRESH MATERIALIZED VIEW CONTINUOUSLY starts the background maintainer") {
    val s = new graft.sqlfront.GraftSession(
      spark, java.nio.file.Files.createTempDirectory("graft_wh"))
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, kind TEXT, amt DOUBLE)")
    s.sql("INSERT INTO ev VALUES (1,'a',1.0)")
    s.sql("CREATE MATERIALIZED VIEW tot AS SELECT sum(amt) AS total FROM ev")
    s.sql("REFRESH MATERIALIZED VIEW tot CONTINUOUSLY")
    try {
      s.sql("INSERT INTO ev VALUES (2,'b',4.0)")
      // the background query picks the insert up on its own trigger
      val deadline = System.nanoTime() + 30e9.toLong
      var total = 0.0
      while (total != 5.0 && System.nanoTime() < deadline) {
        Thread.sleep(250)
        total = s.sql("SELECT total FROM tot").collect()(0).getDouble(0)
      }
      assert(total == 5.0)
    } finally
      // DROP stops the maintainer and clears its checkpoint
      s.sql("DROP MATERIALIZED VIEW tot")
  }

  test("streaming deduplication drops replayed events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    // dedupExactIngest = dropDuplicatesWithinWatermark: bounded state
    // (evicts with the watermark), unlike plain dropDuplicates on a
    // non-event-time key, whose state never evicts even under a
    // watermark
    val q = EventStreams.dedupExactIngest(in.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(1), 1, "view", 2.0))
      q.processAllAvailable()
      // replay event 1 (at-least-once ingestion) plus one new event
      in.addData(Ev(1, ts(0), 1, "view", 1.0), Ev(3, ts(2), 2, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup_sink ORDER BY event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 2L, 3L))
      // the state-eviction contract: advance the watermark far past
      // event 1's window, then re-send its id at a CURRENT event time
      // (not a late row — late input is filtered before dedup) — the
      // key's state is gone, so the re-send is (correctly, per the
      // within-delay contract) a new emission rather than
      // retained-forever state
      in.addData(Ev(9, ts(600), 3, "view", 1.0))
      q.processAllAvailable()
      in.addData(Ev(1, ts(601), 1, "view", 1.0))
      q.processAllAvailable()
      val n1 = spark.sql("SELECT count(*) FROM dedup_sink WHERE event_id = 1")
        .collect()(0).getLong(0)
      assert(n1 == 2L,
        s"state must EVICT after the watermark passes (got $n1 emissions)")
    } finally q.stop()
  }

  test("mapGroupsWithState maintains custom per-user state across batches") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    // custom state: per-user lifetime event count + max value seen -
    // the KeyValueGroupedDataset state API (SURVEY §2.11 extension)
    val counts = in.toDF().as[Ev]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[(Long, Double)]) =>
          val (c0, m0) = state.getOption.getOrElse((0L, Double.MinValue))
          val batch = evs.toSeq
          val next = (c0 + batch.size, math.max(m0, batch.map(_.value).max))
          state.update(next)
          (uid, next._1, next._2)
      }.toDF("user_id", "n", "max_v")
    val q = counts.writeStream.format("memory").queryName("state_sink")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Ev(1, ts(0), 1, "view", 5.0), Ev(2, ts(1), 1, "view", 3.0))
      q.processAllAvailable()
      in.addData(Ev(3, ts(2), 1, "click", 9.0), Ev(4, ts(3), 2, "view", 1.0))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT user_id, max(n) AS n, max(max_v) AS mv FROM state_sink GROUP BY user_id ORDER BY user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(last == Seq((1L, 3L, 9.0), (2L, 1L, 1.0)))
    } finally q.stop()
  }

  test("stream-stream interval join pairs purchases with preceding views") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val v = views.toDF().selectExpr("user_id AS v_user", "ts AS v_ts", "value AS v_val")
      .withWatermark("v_ts", "1 hour")
    val b = buys.toDF().selectExpr("user_id AS b_user", "ts AS b_ts", "event_id AS b_id")
      .withWatermark("b_ts", "1 hour")
    // purchase joins every view of the same user within the prior hour -
    // watermarks on both sides bound the join state
    val joined = b.join(v,
      expr("b_user = v_user AND b_ts >= v_ts AND b_ts < v_ts + INTERVAL 1 HOUR"))
    val q = joined.writeStream.format("memory").queryName("ssj_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      views.addData(Ev(1, ts(0), 1, "view", 10.0), Ev(2, ts(30), 1, "view", 20.0),
        Ev(3, ts(0), 2, "view", 30.0))
      buys.addData(Ev(10, ts(45), 1, "purchase", 1.0),  // joins both views of user 1
        Ev(11, ts(80), 1, "purchase", 1.0),             // joins only the ts(30) view
                                                        // (ts(90) would sit exactly on
                                                        // the exclusive +1h bound)
        Ev(12, ts(200), 2, "purchase", 1.0))            // outside the hour: no match
      q.processAllAvailable()
      val rows = spark.sql("SELECT b_id, v_val FROM ssj_sink ORDER BY b_id, v_val")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows == Seq((10L, 10.0), (10L, 20.0), (11L, 20.0)))
    } finally q.stop()
  }

  test("stream enriched by a static dimension table") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val dim = spark.createDataFrame(Seq((1L, "gold"), (2L, "basic")))
      .toDF("user_id", "tier")
    val q = in.toDF().join(dim, "user_id")
      .groupBy($"tier").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("dim_sink")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(1), 1, "view", 1.0),
        Ev(3, ts(2), 2, "click", 1.0), Ev(4, ts(3), 9, "view", 1.0)) // user 9: no dim row
      q.processAllAvailable()
      val m = spark.sql("SELECT tier, n FROM dim_sink").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m == Map("gold" -> 2L, "basic" -> 1L))
    } finally q.stop()
  }

  test("streaming LSH dedup emits candidate pairs as the corpus accretes") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "home tonight while birds sing softly in the old oak tree near the river bank"
    val other = "completely different content about spark engines and catalyst " +
      "optimizer rules running distributed queries over parquet at scale"
    val in = MemoryStream[DocText]
    val q = graft.streaming.StreamingDedup.nearDupStream(in.toDF(), thr = 0.5)
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(DocText(1, base), DocText(2, other))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM dedup_sink").collect().isEmpty,
        "dissimilar docs must not pair")
      // a copy of doc 1 arrives in a later micro-batch: every band
      // bucket of doc 1 now holds a second resident → pair emits
      in.addData(DocText(3, base))
      q.processAllAvailable()
      val pairs = spark.sql("SELECT DISTINCT a, b, est FROM dedup_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pairs == Set((1L, 3L, 1.0)), s"expected exact-copy pair, got $pairs")
      // replaying an already-resident doc id adds no new pairs
      in.addData(DocText(3, base))
      q.processAllAvailable()
      assert(spark.sql("SELECT DISTINCT a, b FROM dedup_sink").collect().length == 1)
      // two same-batch copies pair exactly once (in-batch ordering)
      val fresh = "nine green bottles standing quietly on the high stone wall " +
        "until one falls down and then eight remain counting slowly backwards"
      in.addData(DocText(10, fresh), DocText(11, fresh))
      q.processAllAvailable()
      val all = spark.sql("SELECT DISTINCT a, b FROM dedup_sink ORDER BY a, b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(all == Set((1L, 3L), (10L, 11L)), s"got $all")
    } finally q.stop()
  }

  test("streaming z-score anomaly flags outliers against accreted moments") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingAnomaly.{Ev => AEv}
    val in = MemoryStream[AEv]
    val q = graft.streaming.StreamingAnomaly.detect(in.toDS(), minN = 10, zThresh = 3.0)
      .writeStream.format("memory").queryName("anom_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: 12 normal points (values 9..11 alternating) — the 11th+
      // events are judged but all sit within 3σ; nothing emits
      in.addData((1L to 12L).map(i => AEv(i, "click", 10.0 + (i % 3) - 1)): _*)
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM anom_sink").collect().isEmpty,
        "normal values must not flag")
      // batch 2: an extreme outlier plus one normal point — only the
      // outlier flags, judged against batch-1-informed moments
      in.addData(AEv(13L, "click", 1000.0), AEv(14L, "click", 10.0))
      q.processAllAvailable()
      val hits = spark.sql("SELECT eventId, value FROM anom_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(hits == Set((13L, 1000.0)), s"expected only the outlier, got $hits")
      // a different event type has its own cold-start state: same value,
      // no emission (n < minN for that key)
      in.addData(AEv(15L, "view", 1000.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM anom_sink").collect()(0).getLong(0) == 1)
    } finally q.stop()
  }

  test("streaming Markov transitions match the batch LEAD derivation") {
    import graft.streaming.StreamingTransitions
    import graft.streaming.StreamingTransitions.{Ev => TEv}
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      TEv(1, ts(0), 1, "view"), TEv(2, ts(5), 1, "click"),
      TEv(3, ts(9), 1, "purchase"), TEv(4, ts(2), 2, "signup"),
      TEv(5, ts(6), 2, "view"), TEv(6, ts(11), 2, "view"))
    val (first, second) = evs.splitAt(4) // user 2's chain spans batches
    val in = MemoryStream[TEv]
    val q = StreamingTransitions.transitions(in.toDS())
      .writeStream.format("memory").queryName("trans_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(first: _*); q.processAllAvailable()
      in.addData(second: _*); q.processAllAvailable()
      val stream = spark.sql(
        "SELECT src, dst, count(*) AS n FROM trans_sink GROUP BY src, dst ORDER BY src, dst")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // batch twin: LEAD over the full per-user history
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"userId").orderBy($"ts", $"eventId")
      val batch = evs.toDF()
        .select($"userId", $"eventType".as("src"), lead($"eventType", 1).over(w).as("dst"))
        .filter($"dst".isNotNull)
        .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
        .orderBy($"src", $"dst")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(stream.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("batch and streaming agree on the same transformation") {
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(20), 1, "view", 2.0),
      Ev(3, ts(70), 2, "click", 5.0), Ev(4, ts(75), 2, "view", 7.0))
    val batch = EventStreams.tumbling(evs.toDF(), "1 hour")
      .orderBy($"w_start", $"event_type").collect()
    val in = MemoryStream[Ev]
    val q = EventStreams.tumbling(EventStreams.withLateData(in.toDF(), "1 day"), "1 hour")
      .writeStream.format("memory").queryName("agree_sink")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(evs: _*)
      q.processAllAvailable()
      val stream = spark.sql("SELECT * FROM agree_sink ORDER BY w_start, event_type").collect()
      assert(stream.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming decontamination agrees with the batch exact join across batches") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, sf(), "documents")
    val msrc = docs.agg(min($"source")).head().getString(0)
    val trainDocs = docs.filter($"source" =!= msrc)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // the shared freeze recipe (msrc derivation + persisted shingles)
    val (bits, evalSh) = StreamingDecontam.evalBloomFromCorpus(docs)
    // batch expectation: plain exact join, the operator's oracle shape
    val trainSh = docs.filter($"source" =!= msrc)
      .select($"doc_id", explode(
        graft.functions.VectorFunctions.shingles($"text", 5)).as("sh"))
    val batch = trainSh.join(evalSh, "sh")
      .groupBy($"doc_id")
      .agg(countDistinct($"e_id").as("e"), countDistinct($"sh").as("s"))
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val in = MemoryStream[(Long, String)]
    val q = StreamingDecontam.contaminationCounts(
        in.toDF().toDF("doc_id", "text"), bits, evalSh)
      .writeStream.format("memory").queryName("decontam_sink")
      .outputMode(OutputMode.Update()).start()
    try {
      // split the train stream over two micro-batches: a doc's shingles
      // all land in one batch, so each contaminated doc must emit its
      // FINAL counts exactly once (stateless prefilter, batch-local join)
      val (b1, b2) = trainDocs.splitAt(trainDocs.length / 2)
      in.addData(b1.toSeq: _*)
      q.processAllAvailable()
      in.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val stream = spark.sql(
        """SELECT doc_id, contaminating_eval_docs, shared_shingles
          |FROM decontam_sink ORDER BY doc_id""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(stream.toSeq == batch.toSeq,
        s"stream=${stream.toSeq} batch=${batch.toSeq}")
    } finally { q.stop(); evalSh.unpersist() }
  }

  test("stream-stream interval join matches batch and emits incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val touches = Seq(
      Ev(1, ts(10), 1, "view", 0.0), Ev(2, ts(20), 1, "click", 0.0),
      Ev(3, ts(15), 2, "view", 0.0),
      Ev(4, ts(90), 1, "view", 0.0)) // outside purchase 10's 30-min horizon
    val purchases = Seq(
      Ev(10, ts(25), 1, "purchase", 50.0), // matches touches 1, 2
      Ev(11, ts(40), 2, "view_ignored", 30.0), // user 2: matches touch 3
      Ev(12, ts(30), 3, "purchase", 10.0)) // no touches at all
    val tIn = MemoryStream[Ev]
    val pIn = MemoryStream[Ev]
    val q = graft.streaming.StreamingJoin.touchAttribution(
        tIn.toDF(), pIn.toDF(), horizon = "30 minutes", delay = "5 minutes")
      .writeStream.format("memory").queryName("ssj_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // feed across MULTIPLE micro-batches, purchases arriving before
      // some of their touches: stream-stream state must hold each side
      // until the other's rows arrive
      tIn.addData(touches(0))
      pIn.addData(purchases(0), purchases(2))
      q.processAllAvailable()
      tIn.addData(touches(1), touches(2), touches(3))
      pIn.addData(purchases(1))
      q.processAllAvailable()
      val stream = spark.sql(
          "SELECT p_id, touch_type FROM ssj_sink ORDER BY p_id, touch_type, t_ts")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val batch = graft.streaming.StreamingJoin.touchAttribution(
          touches.toDF(), purchases.toDF(),
          horizon = "30 minutes", delay = "5 minutes")
        .orderBy(col("p_id"), col("touch_type"), col("t_ts"))
        .collect().map(r => (r.getLong(0), r.getString(4)))
      assert(stream.toSeq == batch.toSeq,
        s"stream=${stream.toSeq} batch=${batch.toSeq}")
      // the join really did attribute: purchase 10 → both user-1 touches
      // in-horizon; purchase 12 (no touches) absent from the INNER form
      assert(stream.toSeq == Seq((10L, "click"), (10L, "view"), (11L, "view")))
    } finally q.stop()
  }

  test("stream-stream left-outer join null-pads only once the watermark proves no-match") {
    implicit val sqlCtx = spark.sqlContext
    val tIn = MemoryStream[Ev]
    val pIn = MemoryStream[Ev]
    val q = graft.streaming.StreamingJoin.purchasesWithTouch(
        tIn.toDF(), pIn.toDF(), horizon = "10 minutes", delay = "5 minutes")
      .writeStream.format("memory").queryName("ssj_outer_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // a purchase with NO preceding touch: no output yet — absence is
      // not provable until the touch-side watermark passes its window
      pIn.addData(Ev(20, ts(100), 7, "purchase", 5.0))
      tIn.addData(Ev(5, ts(100), 8, "view", 0.0)) // unrelated user
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM ssj_outer_sink WHERE p_id = 20").count() == 0,
        "null-padding must wait for the watermark")
      // advance BOTH sides' event time far past the window + delay →
      // global watermark passes, the unmatched purchase finalizes
      pIn.addData(Ev(21, ts(400), 7, "purchase", 1.0))
      tIn.addData(Ev(6, ts(400), 8, "view", 0.0))
      q.processAllAvailable()
      pIn.addData(Ev(22, ts(500), 7, "purchase", 1.0))
      tIn.addData(Ev(7, ts(500), 8, "view", 0.0))
      q.processAllAvailable()
      val row = spark.sql(
          "SELECT touch_type, value FROM ssj_outer_sink WHERE p_id = 20").collect()
      assert(row.length == 1, s"unmatched purchase must emit exactly once: ${row.length}")
      assert(row(0).isNullAt(0) && row(0).getDouble(1) == 5.0,
        "unmatched purchase emits with null touch columns")
    } finally q.stop()
  }

  test("streaming IVF index: incremental routing matches the batch kernel and converges on refresh") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingAnn
    val all = Tables.load(spark, sf(), "embeddings")
      .select($"vec_id", $"embedding").as[VecRow].collect().sortBy(_.vec_id)
    val n = all.length.toLong
    val split = all.length / 2
    val vecStore = Scratch.dir("graft_ann_store", sf())
    val indexDir = Scratch.dir("graft_ann_index", sf())
    // fresh dirs per run (Scratch reuses paths)
    def wipe(d: String): Unit = {
      val p = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f): Unit)
      }
    }
    wipe(vecStore); wipe(indexDir)
    val in = MemoryStream[VecRow]
    val q = StreamingAnn.indexStream(in.toDF(), vecStore, indexDir,
      recentroidEvery = 1000) // epoch refresh only at batch 0; batch 1 routes incrementally
    try {
      // batch 0: the low-id half — contains every centroid the epoch
      // derives (nlist(n/2) lowest ids), so batch 1's incremental routing
      // runs against a centroid set that never changes mid-test
      in.addData(all.take(split).toSeq: _*)
      q.processAllAvailable()
      val epochNlist = graft.operators.SimilarityQueries.ivfNlist(split.toLong)
      // batch 1: the rest — routed incrementally, no rebuild
      in.addData(all.drop(split).toSeq: _*)
      q.processAllAvailable()
      val idx = spark.read.parquet(indexDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(idx.size == all.length, s"index covers the corpus: ${idx.size} vs ${all.length}")
      // incremental-routing pin: batch-1 arrivals carry EXACTLY the
      // assignment the batch kernel computes at the epoch geometry
      val expectedEpoch = graft.operators.SimilarityQueries
        .ivfAssign(spark.read.parquet(vecStore), epochNlist)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      all.drop(split).foreach { v =>
        assert(idx(v.vec_id) == expectedEpoch(v.vec_id),
          s"vec ${v.vec_id}: incremental ${idx(v.vec_id)} != batch ${expectedEpoch(v.vec_id)}")
      }
    } finally q.stop()
    // convergence pin: an epoch refresh rebuilds at the full-corpus
    // geometry and the streamed index EQUALS the batch-built index
    val finalNlist = StreamingAnn.refreshEpoch(spark, vecStore, indexDir)
    assert(finalNlist == graft.operators.SimilarityQueries.ivfNlist(n))
    val streamed = spark.read.parquet(indexDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchBuilt = graft.operators.SimilarityQueries
      .ivfAssign(Tables.load(spark, sf(), "embeddings"), finalNlist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batchBuilt,
      s"streamed index must equal the batch index: ${(streamed diff batchBuilt).take(5)} / ${(batchBuilt diff streamed).take(5)}")
  }

  test("streaming classifier scoring equals the batch inference fold") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingClassifier
    val weights = graft.operators.TextQueries.classifierWeights(spark, sf(), 8)
    val docRows = Tables.spread(Tables.load(spark, sf(), "documents"))
      .select(col("doc_id"), col("text")).limit(200).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val in = MemoryStream[(Long, String)]
    val q = StreamingClassifier.score(in.toDF().toDF("doc_id", "text"), weights)
      .writeStream.format("memory").queryName("clf_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches: scoring is stateless, so the split is arbitrary
      val (b1, b2) = docRows.splitAt(docRows.length / 2)
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql("SELECT doc_id, dotq, accept FROM clf_sink").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val batch = graft.operators.TextQueries.classifierScoreDocs(spark,
        docRows.toDF("doc_id", "text"), weights)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(streamed.size == docRows.size)
    assert(streamed == batch,
      s"streamed margins must be bit-identical to the batch fold: " +
        s"${(streamed.toSet diff batch.toSet).take(3)}")
  }

  test("streaming classifier hot-swaps a re-published model at a batch boundary") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingClassifier
    // two genuinely different models: 2 vs 8 training iterations
    val modelA = graft.operators.TextQueries.classifierWeights(spark, sf(), 2)
    val modelB = graft.operators.TextQueries.classifierWeights(spark, sf(), 8)
    assert(modelA != modelB, "fixture must distinguish the epochs")
    val modelDir = java.nio.file.Files.createTempDirectory("graft_clf_model").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_clf_out").toString + "/scored"
    StreamingClassifier.publishModel(modelA, modelDir, epoch = 1)
    assert(StreamingClassifier.currentModel(modelDir).contains((1L, modelA)),
      "publish must round-trip the weight table exactly")
    val docRows = Tables.spread(Tables.load(spark, sf(), "documents"))
      .select(col("doc_id"), col("text")).limit(200).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (b1, b2) = docRows.splitAt(docRows.length / 2)
    val in = MemoryStream[(Long, String)]
    val q = StreamingClassifier.scoreStream(
      in.toDF().toDF("doc_id", "text"), modelDir, outDir)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      // retrain + re-publish while the stream runs — NO restart
      StreamingClassifier.publishModel(modelB, modelDir, epoch = 2)
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outDir)
      .select("doc_id", "dotq", "accept", "model_epoch").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    // exactly-once across the swap: every doc scored once, none duplicated
    assert(out.size == docRows.size, s"${out.size} vs ${docRows.size}")
    def batchScores(rows: Seq[(Long, String)], w: Map[Long, Long]): Map[Long, (Long, Boolean)] =
      graft.operators.TextQueries.classifierScoreDocs(
          spark, rows.toDF("doc_id", "text"), w)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val expectA = batchScores(b1, modelA)
    val expectB = batchScores(b2, modelB)
    b1.foreach { case (id, _) =>
      assert(out(id) == ((expectA(id)._1, expectA(id)._2, 1L)),
        s"pre-swap doc $id must carry model A margins under epoch 1: ${out(id)}")
    }
    b2.foreach { case (id, _) =>
      assert(out(id) == ((expectB(id)._1, expectB(id)._2, 2L)),
        s"post-swap doc $id must carry model B margins under epoch 2: ${out(id)}")
    }
  }

  test("streaming Misra-Gries top-k: bounds hold and the left fold equals one-shot batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingTopK
    import graft.streaming.StreamingTopK.Item
    val m = 8
    val shards = 4
    // skewed synthetic stream: heavy hitters h0..h3 at 120/80/60/40
    // arrivals, plus 300 singleton keys that should be squeezed out
    val heavy = Seq("h0" -> 120, "h1" -> 80, "h2" -> 60, "h3" -> 40)
    val noise = (0 until 300).map(i => s"noise_$i" -> 1)
    val itemsRaw = (heavy ++ noise).flatMap { case (k, c) => Seq.fill(c)(k) }
    // deterministic interleave (splitmix-style), itemIds = position
    val items = itemsRaw.zipWithIndex
      .sortBy { case (_, i) => (i * 0x9E3779B97F4A7C15L) ^ (i >>> 3) }
      .zipWithIndex.map { case ((k, _), id) => Item(id.toLong, k) }
    val in = MemoryStream[Item]
    val q = StreamingTopK.summarize(in.toDS(), m, shards)
      .writeStream.format("memory").queryName("topk_sink")
      .outputMode(OutputMode.Update()).start()
    try {
      // three micro-batches split in itemId order (the left-fold contract)
      val (b1, rest) = items.splitAt(items.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 3)
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    // latest summary per shard = the rows carrying that shard's max n
    val all = spark.sql("SELECT shard, item, est, shardN FROM topk_sink").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val latest = all.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val maxN = rows.map(_._4).max
      rows.filter(_._4 == maxN).toSeq
    }
    val exact = items.groupBy(_.item).map { case (k, g) => k -> g.size.toLong }
    val shardN = items.groupBy(i => StreamingTopK.shardOf(i.item, shards))
      .map { case (s, g) => s -> g.size.toLong }
    // A shard untouched by the final micro-batch emits nothing that
    // trigger, so its latest row carries n as of its LAST-TOUCHED batch —
    // derive the expectation from exactly those batches rather than
    // assuming every batch touches every shard.
    val batches = {
      val (b1x, restx) = items.splitAt(items.size / 3)
      val (b2x, b3x) = restx.splitAt(restx.size / 3)
      Seq(b1x, b2x, b3x)
    }
    val shardNAtLastTouch = (0 until shards).map { s =>
      val perBatch = batches.map(_.count(i => StreamingTopK.shardOf(i.item, shards) == s).toLong)
      val lastTouched = perBatch.lastIndexWhere(_ > 0)
      s -> perBatch.take(lastTouched + 1).sum
    }.toMap
    // MG bounds per shard: underestimate, error ≤ N_shard/(m+1), containment
    latest.foreach { case (s, k, est, n) =>
      assert(n == shardNAtLastTouch(s),
        s"shard $s summary n=$n, arrivals-at-last-touch=${shardNAtLastTouch(s)}")
      assert(est <= exact(k), s"$k: est $est must not exceed exact ${exact(k)}")
      assert(exact(k) - est <= n / (m + 1),
        s"$k: exact ${exact(k)} - est $est exceeds ${n / (m + 1)}")
    }
    heavy.foreach { case (k, c) =>
      val s = StreamingTopK.shardOf(k, shards)
      if (c > shardN(s) / (m + 1))
        assert(latest.exists(r => r._2 == k),
          s"heavy hitter $k (exact $c > ${shardN(s)}/${m + 1}) must survive")
    }
    // left-fold pin: one-shot batch mapGroupsWithState over the same
    // items (same itemId order) yields bit-identical summaries
    val batch = StreamingTopK.summarize(items.toDS(), m, shards).collect()
      .map(r => (r.shard, r.item, r.est, r.shardN)).toSet
    assert(latest.toSet == batch,
      s"streamed final summaries must equal the one-shot batch fold: " +
        s"${(latest.toSet diff batch).take(5)} / ${(batch diff latest.toSet).take(5)}")
  }
}
