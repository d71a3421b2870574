package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** The distributed snapshot fold ([[DeltaLog.activeAddsDfAsOf]]) must be
  * row-identical to the driver-side fold ([[DeltaLog.activeAddsAsOf]])
  * across checkpoints, removes, re-adds and time travel — it is the
  * route [[DeltaLog.read]] takes past [[DeltaLog.SnapshotDriverMaxBytes]]
  * of log state, where materializing every add's stats/partition
  * metadata on the driver would be gigabytes per snapshot at 10⁷ files.
  */
class DeltaSnapshotDfSpec extends SparkSpec {

  private def freshDir(name: String): String = {
    val p = s"target/tmp/snapdf/$name"
    val pp = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(pp))
      java.nio.file.Files.walk(pp)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    p
  }

  private def dfRels(p: String, asOf: Option[Long] = None): Set[String] =
    DeltaLog.activeAddsDfAsOf(spark, p, asOf)
      .map(_.select("graft_path").collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)

  private def seqRels(p: String, asOf: Option[Long] = None): Set[String] =
    DeltaLog.activeAddsAsOf(spark, p, asOf).map(_.rel).toSet

  test("distributed fold == driver fold across ops, checkpoints, time travel") {
    val sp = spark
    import sp.implicits._
    val p = freshDir("identity")
    DeltaLog.write(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "name", "v"), "overwrite", p, checkpointInterval = 0)
    DeltaLog.write(Seq((4L, "d", 4.0)).toDF("id", "name", "v"),
      "append", p, checkpointInterval = 0)                    // v1
    assert(DeltaLog.deleteWhere(spark, p, "id = 2") == 1)     // v2: remove+add
    DeltaLog.upsert(Seq((3L, "c2", 33.0)).toDF("id", "name", "v"),
      Seq("id"), p)                                           // v3: remove+add
    DeltaLog.writeCheckpoint(spark, p, 3L)
    DeltaLog.write(Seq((5L, "e", 5.0)).toDF("id", "name", "v"),
      "append", p, checkpointInterval = 0)                    // v4
    DeltaLog.restore(spark, p, 1L)                            // v5: re-adds
    (0L to 5L).foreach { v =>
      assert(dfRels(p, Some(v)) == seqRels(p, Some(v)),
        s"fold mismatch at version $v")
    }
    assert(dfRels(p) == seqRels(p), "fold mismatch at latest")
    assert(dfRels(p).nonEmpty)
  }

  test("read routes through the distributed fold above the byte threshold, same rows") {
    val sp = spark
    import sp.implicits._
    val p = freshDir("route")
    DeltaLog.write((1L to 50L).map(i => (i, s"r$i", i * 1.5))
      .toDF("id", "name", "v"), "overwrite", p, checkpointInterval = 0)
    assert(DeltaLog.deleteWhere(spark, p, "id <= 5") >= 1) // files rewritten
    val viaDriver = DeltaLog.read(spark, p).collect().map(_.toSeq).toSet
    // snapshotDriverMaxBytes = 0 forces every log onto the distributed
    // route — identical rows, the route is a plan choice only
    val viaDf = DeltaLog.read(spark, p, None, snapshotDriverMaxBytes = 0L)
      .collect().map(_.toSeq).toSet
    assert(viaDf == viaDriver, "distributed-route read must match the driver route")
    assert(viaDf.size == 45)
    // time travel takes the same fork
    val v0Df = DeltaLog.read(spark, p, Some(0L), snapshotDriverMaxBytes = 0L)
    assert(v0Df.count() == 50L)
  }

  test("readWhere prunes distributedly above the threshold: identical rows and skipping") {
    val sp = spark
    import sp.implicits._
    val p = freshDir("where_route")
    // several files with disjoint id ranges so stats pruning has teeth
    (0 until 4).foreach { b =>
      DeltaLog.write((b * 100L until b * 100L + 50L).map(i => (i, i * 2.0))
        .toDF("id", "v"), if (b == 0) "overwrite" else "append", p,
        checkpointInterval = 0)
    }
    val pred = "id >= 210 AND id < 240"
    val viaDriver = DeltaLog.readWhere(spark, p, pred)
      .collect().map(_.toSeq).toSet
    val viaDf = DeltaLog.readWhere(spark, p, pred, None,
      snapshotDriverMaxBytes = 0L).collect().map(_.toSeq).toSet
    assert(viaDf == viaDriver && viaDf.size == 30,
      s"distributed prune route must match: ${viaDf.size} vs ${viaDriver.size}")
    // provably-empty predicate keeps the empty-relation shape
    val none = DeltaLog.readWhere(spark, p, "id > 100000", None,
      snapshotDriverMaxBytes = 0L)
    assert(none.count() == 0L && none.columns.toSeq == Seq("id", "v"))
  }

  test("mapped tables: distributed readWhere remaps stats keys and matches the driver route") {
    val sp = spark
    import sp.implicits._
    val p = freshDir("where_mapped")
    DeltaLog.writeNameMapped((1L to 100L).map(i => (i, s"n$i", i * 1.5))
      .toDF("id", "name", "v"), p)
    val pred = "id >= 40 AND id < 60 AND v > 70.0"
    val viaDriver = DeltaLog.readWhere(spark, p, pred)
      .collect().map(_.toSeq).toSet
    val viaDf = DeltaLog.readWhere(spark, p, pred, None,
      snapshotDriverMaxBytes = 0L).collect().map(_.toSeq).toSet
    assert(viaDf == viaDriver && viaDf.nonEmpty,
      s"mapped distributed prune must match driver route: ${viaDf.size} vs ${viaDriver.size}")
  }

  test("distributed route applies deletion vectors identically") {
    val sp = spark
    import sp.implicits._
    val p = freshDir("dv_route")
    val src = sp.range(60).select(col("id"), (col("id") * 1.5).as("v"))
      .repartition(3)
    DeltaLog.writeWithDeletionVectors(src, p, "id % 3 = 0", inlineFirst = true)
    val viaDriver = DeltaLog.read(spark, p).collect().map(_.toSeq).toSet
    assert(viaDriver.size == 40)
    val viaDf = DeltaLog.read(spark, p, None, snapshotDriverMaxBytes = 0L)
      .collect().map(_.toSeq).toSet
    assert(viaDf == viaDriver,
      "DV filtering must be identical on the distributed route")
  }

  /** First graft frame of each job's long call site, for the jobs `body`
    * submits from this thread. A sentinel job drains the listener bus
    * (FIFO) before the count is read, so no job of `body` is missed.
    */
  private def jobSites(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "graft.spec.span"
    val tag = java.util.UUID.randomUUID().toString
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties).map(_.getProperty(key)).orNull
        if (span == s"drain:$tag") drained = true
        else if (span == tag)
          sites.add(e.stageInfos.headOption.map(_.details).getOrElse("")
            .linesIterator.find(_.startsWith("graft.")).getOrElse(""))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, s"drain:$tag")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(2)
      assert(drained, "listener bus did not drain")
      sites.toArray.toSeq.map(_.toString)
    } finally sc.removeSparkListener(listener)
  }

  private def checkpointOpens(sites: Seq[String]): Int =
    sites.count(s => s.startsWith("graft.sources.DeltaLog") &&
      s.contains("readCheckpoint("))

  test("one snapshot per operation: the checkpoint is opened once on both fold routes") {
    val sp = spark
    import sp.implicits._
    Seq(DeltaLog.SnapshotDriverMaxBytes -> "driver", 0L -> "distributed").foreach {
      case (maxBytes, route) =>
        val p = freshDir(s"opens_$route")
        DeltaLog.write((1L to 40L).map(i => (i, s"r$i", i * 1.5))
          .toDF("id", "name", "v"), "overwrite", p, checkpointInterval = 0)
        (1 to 2).foreach { b =>
          DeltaLog.write(Seq((100L + b, s"a$b", 0.5)).toDF("id", "name", "v"),
            "append", p, checkpointInterval = 0)
        }
        DeltaLog.writeCheckpoint(spark, p, 2L)
        DeltaLog.write(Seq((200L, "t", 2.0)).toDF("id", "name", "v"),
          "append", p, checkpointInterval = 0)                   // v3
        val readSites = jobSites {
          DeltaLog.read(spark, p, None, snapshotDriverMaxBytes = maxBytes)
        }
        assert(checkpointOpens(readSites) == 1, s"$route read: $readSites")
        if (route == "driver")
          // one parquet footer job + one collect of every checkpoint action
          assert(readSites.size <= 2, s"driver-route read jobs: $readSites")
        val upsertSites = jobSites {
          DeltaLog.upsert(Seq((5L, "u5", 55.0)).toDF("id", "name", "v"),
            Seq("id"), p, snapshotDriverMaxBytes = maxBytes)       // v4
        }
        assert(checkpointOpens(upsertSites) == 1, s"$route upsert: $upsertSites")
        val deleteSites = jobSites {
          assert(DeltaLog.deleteWhere(spark, p, "id = 7",
            snapshotDriverMaxBytes = maxBytes) == 1)               // v5
        }
        assert(checkpointOpens(deleteSites) == 1, s"$route delete: $deleteSites")
        val got = DeltaLog.read(spark, p).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got.size == 42 && got(5L) == "u5" && !got.contains(7L))
    }
  }
}

