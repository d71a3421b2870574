package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

class EventStreamsSpec extends SparkSpec {

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  private lazy val batch = {
    val sp = spark; import sp.implicits._
    Seq(
      Ev(1, t("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, t("2024-01-01 10:20:00"), 1, "click", 2.0),
      Ev(3, t("2024-01-01 11:10:00"), 1, "buy", 3.0),   // > 30min gap: new session
      Ev(4, t("2024-01-01 10:40:00"), 2, "click", 4.0),
      Ev(5, t("2024-01-01 10:55:00"), 2, "click", 5.0)
    ).toDF
  }

  test("tumbling window counts (batch semantics)") {
    val out = EventStreams.tumblingCounts(batch, "ts", "1 hour")
      .collect().map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toSet
    assert(out == Set(
      ("2024-01-01 10:00:00.0", "click", 4L),
      ("2024-01-01 11:00:00.0", "buy", 1L)))
  }

  test("sliding window double-counts overlaps") {
    val out = EventStreams.slidingCounts(batch, "ts", "1 hour", "30 minutes")
      .collect().map(r => r.getAs[Timestamp]("window_start").toString ->
        r.getAs[Long]("n_events")).toMap
    assert(out("2024-01-01 10:00:00.0") == 4L)
    assert(out("2024-01-01 09:30:00.0") == 2L)
  }

  test("batch sessionize: 30-minute gap splits sessions") {
    val out = EventStreams.sessionize(batch, "ts", "user_id", "30 minutes",
      tieBreak = Seq("event_id"))
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Timestamp]("session_start").toString,
        r.getAs[Long]("n_events"))).toSet
    assert(out == Set(
      (1L, "2024-01-01 10:05:00.0", 2L),
      (1L, "2024-01-01 11:10:00.0", 1L),
      (2L, "2024-01-01 10:40:00.0", 2L)))
  }

  test("streaming tumbling counts over MemoryStream match batch") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(batch.as[Ev].collect().toSeq: _*)
    val q = EventStreams.tumblingCounts(mem.toDF, "ts", "1 hour",
      watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("tumb_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tumb_out").collect()
        .map(r => (r.getAs[Timestamp]("window_start").toString,
          r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00.0", "click", 4L),
        ("2024-01-01 11:00:00.0", "buy", 1L)))
    } finally q.stop()
  }

  test("streaming session_window closes sessions after watermark") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(batch.as[Ev].collect().toSeq: _*)
    val q = EventStreams.sessionize(mem.toDF, "ts", "user_id", "30 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).toSet
      assert(rows == Set((1L, 2L), (1L, 1L), (2L, 2L)))
    } finally q.stop()
  }

  test("mapGroupsWithState running user stats") {
    val out = EventStreams.runningUserStats(batch, "user_id")(spark)
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events")).toMap
    assert(out == Map(1L -> 3L, 2L -> 2L))
  }

  test("batch twin's final row per user equals the stateful op's end state") {
    val twin = EventStreams.runningUserStatsBatch(batch,
      "user_id", "ts", "event_id", "value").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("last_value")))
    // cumulative counts walk 1..n per user in event order
    assert(twin.toSet == Set(
      (1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 3.0),
      (2L, 1L, 4.0), (2L, 2L, 5.0)))
    // final row per user = the stateful op's end-of-stream state: same
    // n_events as mapGroupsWithState on the same frame, and last_value
    // is the max-(ts, event_id) row's value by construction
    val finals = twin.groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
    val stateful = EventStreams.runningUserStats(batch, "user_id")(spark)
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events")).toMap
    assert(finals.view.mapValues(_._2).toMap == stateful)
    assert(finals(1L)._3 == 3.0 && finals(2L)._3 == 5.0)
  }

  test("transformWithState running user stats accumulates across micro-batches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // transformWithState needs the multi-column-family store
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = EventStreams.runningUserStatsTws(mem.toDF, "user_id")(spark)
      .writeStream.format("memory").queryName("tws_out")
      .outputMode("update").start()
    try {
      val rows = batch.as[Ev].collect()
      mem.addData(rows.take(3).toSeq: _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3).toSeq: _*)
      q.processAllAvailable()
      // the LAST update per user must reflect the full history — state
      // survived the micro-batch boundary
      val last = spark.table("tws_out").collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events"))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      assert(last == Map(1L -> 3L, 2L -> 2L))
    } finally {
      q.stop()
      prior match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamThroughput drives the file-source tws pipeline end to end") {
    val (in, out, sec) = EventStreams.streamThroughput(
      spark, batch, "target/tmp/stream_tp_spec", numShards = 2)
    assert(in == 5L, s"input rows: $in")
    // update-mode tws emits one row per touched key per micro-batch:
    // between #distinct-users and #input-rows total
    assert(out >= 2L && out <= 5L, s"output rows: $out")
    assert(sec > 0.0)
  }

  test("streamThroughput leaves the session confs as they were when the stream fails to start") {
    val shuffleKey = "spark.sql.shuffle.partitions"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val priorShuffle = spark.conf.getOption(shuffleKey)
    val priorProvider = spark.conf.getOption(providerKey)
    // a string user id cannot bind the stateful processor's (Long,
    // Double) input: the query fails while it is being built, after the
    // drill's confs are in force
    val bad = batch.withColumn("user_id", concat(lit("u"), col("user_id")))
    intercept[Exception] {
      EventStreams.streamThroughput(spark, bad, "target/tmp/stream_tp_fail",
        numShards = 1, statePartitions = 3)
    }
    assert(spark.conf.getOption(shuffleKey) == priorShuffle)
    assert(spark.conf.getOption(providerKey) == priorProvider)
  }

  test("streaming parquet sink writes append-mode results") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("target/tmp/streamsink")).toString
    val mem = MemoryStream[Ev]
    mem.addData(batch.as[Ev].collect().toSeq: _*)
    val q = EventStreams.toParquetSink(
      mem.toDF.withWatermark("ts", "0 seconds"),
      s"$dir/out", s"$dir/ckpt")
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(s"$dir/out").count() == 5)
  }

  test("streaming delta sink: one APPEND commit per micro-batch, stats on every add") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("target/tmp/streamdelta")).toString
    val tbl = s"$dir/events_delta"
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tbl), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/ckpt"), true)
    val mem = MemoryStream[Ev]
    val q = EventStreams.toDeltaSink(mem.toDF, tbl, s"$dir/ckpt")
    try {
      mem.addData(batch.as[Ev].collect().take(3).toSeq: _*)
      q.processAllAvailable()
      mem.addData(batch.as[Ev].collect().drop(3).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // two batches → two commits (versions 0 and 1), all APPENDs
    val hist = graft.sources.DeltaLog.history(spark, tbl)
    assert(hist.map(_._1) == Seq(1L, 0L), s"expected versions 1,0 got $hist")
    assert(hist.forall(_._2 == "APPEND"))
    val back = graft.sources.DeltaLog.read(spark, tbl)
    assert(back.count() == 5)
    assert(back.select("graft_batch_id").distinct().count() == 2)
    // the delta machinery composes: stats exist, skipping works on them
    assert(graft.sources.DeltaLog.activeAddsAsOf(spark, tbl).forall(_.stats.isDefined))
    val ids = graft.sources.DeltaLog.readWhere(spark, tbl, "event_id >= 4")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(4L, 5L))
  }

  test("duration parsing") {
    assert(EventStreams.parseDurationSeconds("30 minutes") == 1800)
    assert(EventStreams.parseDurationSeconds("1 hour") == 3600)
    intercept[IllegalArgumentException] {
      EventStreams.parseDurationSeconds("fortnight")
    }
  }

  test("batch dedupEvents keeps the earliest occurrence per key") {
    val out = EventStreams.dedupEvents(batch, "ts", Seq("user_id", "event_type"),
      tieBreak = Seq("event_id"))
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(out == Set(1L, 3L, 4L)) // first click/user1, buy/user1, click/user2
  }

  test("transitionMatrix: per-key consecutive pairs, rows normalize to 1") {
    val sp = spark; import sp.implicits._
    val ev = Seq(
      (1L, 1L, t("2024-01-01 10:00:00"), "view"),
      (2L, 1L, t("2024-01-01 10:01:00"), "click"),
      (3L, 1L, t("2024-01-01 10:02:00"), "view"),
      (4L, 1L, t("2024-01-01 10:03:00"), "click"),
      (5L, 2L, t("2024-01-01 10:00:00"), "view"),
      (6L, 2L, t("2024-01-01 10:01:00"), "buy")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = EventStreams.transitionMatrix(ev, "ts", "user_id", "event_type",
        tieBreak = Seq("event_id"))
      .collect().map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("p"))).toMap
    // view -> click twice, view -> buy once (user 2), click -> view once
    assert(out(("view", "click")) == (2L, 0.666667))
    assert(out(("view", "buy")) == (1L, 0.333333))
    assert(out(("click", "view")) == (1L, 1.0))
    // no cross-user pair: (click/user1 last event, view/user2 first) absent
    assert(!out.contains(("click", "buy")))
  }

  test("retention: cohort by first event period, distinct actives per offset") {
    val sp = spark; import sp.implicits._
    // period = 100 s; user 1 first at t=50 (cohort 0), active in periods 0,1,2
    // user 2 first at t=150 (cohort 1), active in periods 1,3
    val ev = Seq(
      (1L, 1L, t("1970-01-01 00:00:50")),
      (2L, 1L, t("1970-01-01 00:01:40")),
      (3L, 1L, t("1970-01-01 00:04:10")),
      (4L, 2L, t("1970-01-01 00:02:30")),
      (5L, 2L, t("1970-01-01 00:05:10"))
    ).toDF("event_id", "user_id", "ts")
    val out = EventStreams.retention(ev, "ts", "user_id", periodSeconds = 100L)
      .collect().map(r => (r.getAs[Long]("cohort"), r.getAs[Long]("period_offset")) ->
        r.getAs[Long]("n_active")).toMap
    assert(out == Map((0L, 0L) -> 1L, (0L, 1L) -> 1L, (0L, 2L) -> 1L,
      (1L, 0L) -> 1L, (1L, 2L) -> 1L))
  }

  test("funnel: strict ordering, monotone null chain, conversion horizon") {
    val sp = spark; import sp.implicits._
    val ev = Seq(
      // user 1 completes in order within horizon
      (1L, 1L, t("2024-01-01 10:00:00"), "view"),
      (2L, 1L, t("2024-01-01 10:05:00"), "click"),
      (3L, 1L, t("2024-01-01 10:10:00"), "purchase"),
      // user 2: click exists but only BEFORE the first view -> chain breaks
      (4L, 2L, t("2024-01-01 09:00:00"), "click"),
      (5L, 2L, t("2024-01-01 10:00:00"), "view"),
      (6L, 2L, t("2024-01-01 11:00:00"), "purchase"),
      // user 3 completes but outside the 1-hour horizon
      (7L, 3L, t("2024-01-01 10:00:00"), "view"),
      (8L, 3L, t("2024-01-01 10:30:00"), "click"),
      (9L, 3L, t("2024-01-01 12:00:00"), "purchase"),
      // user 4 never views: not in the funnel at all
      (10L, 4L, t("2024-01-01 10:00:00"), "click")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = EventStreams.funnel(ev, "ts", "user_id", "event_type",
        Seq("view", "click", "purchase"), 3600L)
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("steps_completed"), r.getAs[Boolean]("converted"))).toMap
    assert(out == Map(
      1L -> (3L, true),
      2L -> (1L, false),  // click-before-view does not count; purchase masked
      3L -> (3L, false))) // completed but 2h > 1h horizon
  }

  test("rollingFeatures: trailing windows count boundary-inclusive, per key") {
    val sp = spark; import sp.implicits._
    val ev = Seq(
      (1L, 1L, t("2024-01-01 10:00:00"), 1.0),
      (2L, 1L, t("2024-01-01 10:30:00"), 2.0),
      (3L, 1L, t("2024-01-01 11:30:00"), 4.0), // 10:30 is INSIDE [10:30, 11:30]
      (4L, 2L, t("2024-01-01 11:30:00"), 8.0)  // other key: independent
    ).toDF("event_id", "user_id", "ts", "value")
    val out = EventStreams.rollingFeatures(ev, "ts", "user_id", "value",
        Seq("1h" -> 3600L))
      .collect().map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("n_1h"), r.getAs[Double]("sum_1h"))).toMap
    assert(out(1L) == (1L, 1.0))
    assert(out(2L) == (2L, 3.0))
    assert(out(3L) == (2L, 6.0)) // events at 10:30 and 11:30; 10:00 aged out
    assert(out(4L) == (1L, 8.0))
  }

  test("rollingFeatures evaluates every window off ONE shuffle + sort") {
    val sp = spark; import sp.implicits._
    val ev = Seq((1L, 1L, t("2024-01-01 10:00:00"), 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    val plan = EventStreams.rollingFeatures(ev, "ts", "user_id", "value",
        Seq("1h" -> 3600L, "24h" -> 86400L))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("batch dedupAgainstCorpus equals NOT-EXISTS semantics") {
    val sp = spark; import sp.implicits._
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha"), (11L, "gamma"), (12L, "beta"), (13L, "delta"))
      .toDF("doc_id", "text")
    val keys = graft.operators.Dedup.corpusKeys128(corpus, "text")
    val out = EventStreams.dedupAgainstCorpus(batch, "text", keys)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out == Set(11L, 13L))
  }

  test("streaming dedupAgainstCorpus drops known texts, stateless across batches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val keys = graft.operators.Dedup.corpusKeys128(corpus, "text")
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.dedupAgainstCorpus(
        mem.toDF.toDF("doc_id", "text"), "text", keys)
      .writeStream.format("memory").queryName("newdocs_out")
      .outputMode("append").start()
    try {
      mem.addData((10L, "alpha"), (11L, "gamma"))
      q.processAllAvailable()
      mem.addData((12L, "beta"), (13L, "delta"))
      q.processAllAvailable()
      val ids = spark.table("newdocs_out").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(11L, 13L), s"corpus dups must drop, got $ids")
    } finally q.stop()
  }

  test("nearDedupSink drops near-copies of the corpus via the persisted band index") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight while " +
        "seventeen silver airplanes circle slowly above the quiet harbor town"),
      (2L, "completely different corpus text about spark engines here")
    ).toDF("doc_id", "text")
    val idxPath = "target/tmp/stream_band_index"
    val sink = "target/tmp/stream_neardedup_sink"
    val ckpt = "target/tmp/stream_neardedup_ckpt"
    for (p <- Seq(idxPath, sink, ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    graft.operators.Dedup.minhashBandIndex(corpus, "text", "doc_id")
      .write.parquet(idxPath)
    val idx = spark.read.parquet(idxPath)
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.nearDedupSink(mem.toDF.toDF("doc_id", "text"),
      "text", "doc_id", corpus, idx, sink, ckpt)
    try {
      mem.addData(
        // near-copy of corpus doc 1 (one word of twenty changed ⇒
        // jaccard ≈ 15/21 ≈ 0.71, above the 0.5 gate) — must drop
        (10L, "the quick brown fox jumps over the sleepy dog tonight while " +
          "seventeen silver airplanes circle slowly above the quiet harbor town"),
        // novel — must pass
        (11L, "an entirely new document with no overlap whatsoever okay"))
      q.processAllAvailable()
      // second batch: exact copy of corpus text drops too, novel passes
      mem.addData((12L, "completely different corpus text about spark engines here"),
        (13L, "another brand new page that shares nothing with the corpus"))
      q.processAllAvailable()
      val ids = spark.read.parquet(sink).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(11L, 13L), s"only novel docs may land in the sink, got $ids")
    } finally q.stop()
  }

  test("batch joinWithin equals the plain equi-join + range filter") {
    val sp = spark; import sp.implicits._
    val clicks = Seq(
      (1L, 1L, t("2024-01-01 10:00:00")),
      (2L, 1L, t("2024-01-01 12:00:00")),
      (3L, 2L, t("2024-01-01 10:00:00"))).toDF("click_id", "user_id", "cts")
    val buys = Seq(
      (100L, 1L, t("2024-01-01 10:30:00")),   // within 1h after click 1
      (101L, 1L, t("2024-01-01 09:30:00")),   // within 1h before click 1
      (102L, 2L, t("2024-01-01 13:00:00"))).toDF("buy_id", "user_id", "bts")
    val out = EventStreams.joinWithin(clicks, buys, Seq("user_id"),
        "cts", "bts", beforeSeconds = 3600, afterSeconds = 3600)
      .select("click_id", "r_buy_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 100L), (1L, 101L)))
  }

  test("stream-stream joinWithin joins across sides with bounded state") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(Long, Long, Timestamp)]
    val rMem = MemoryStream[(Long, Long, Timestamp)]
    val out = EventStreams.joinWithin(
      lMem.toDF.toDF("click_id", "user_id", "cts"),
      rMem.toDF.toDF("buy_id", "user_id", "bts"),
      Seq("user_id"), "cts", "bts",
      beforeSeconds = 3600, afterSeconds = 3600, watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("within_out")
      .outputMode("append").start()
    try {
      lMem.addData((1L, 1L, t("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // the matching buy arrives in a LATER micro-batch: the pair can only
      // come from the join's buffered stream state
      rMem.addData((100L, 1L, t("2024-01-01 10:30:00")))
      rMem.addData((101L, 1L, t("2024-01-01 23:00:00"))) // outside the range
      q.processAllAvailable()
      val pairs = spark.table("within_out")
        .select("click_id", "r_buy_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 100L)), s"got $pairs")
      // the physical plan is the stateful symmetric-hash join, not a
      // batch rewrite
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedupEvents suppresses duplicates across microbatches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.dedupEvents(mem.toDF, "ts", Seq("user_id", "event_type"),
      watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // duplicate keys split ACROSS batches — suppression must come from
      // the state store, not intra-batch dedup
      mem.addData(Ev(1, t("2024-01-01 10:05:00"), 1, "click", 1.0))
      q.processAllAvailable()
      mem.addData(
        Ev(2, t("2024-01-01 10:20:00"), 1, "click", 2.0), // dup of (1, click)
        Ev(3, t("2024-01-01 10:25:00"), 1, "buy", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect()
        .map(_.getAs[Long]("event_id")).toSet
      assert(ids == Set(1L, 3L), s"expected duplicate suppressed, got $ids")
    } finally q.stop()
  }
}
