package graft.operators

import graft.SparkSpec
import graft.plans.HashExpressions
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {

  private lazy val docs = {
    val sp = spark; import sp.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),     // exact dup of 1
      (3L, "The quick brown fox, jumps over the lazy dog!"),   // normalized dup
      (4L, "the quick brown fox jumps over the sleepy dog"),   // near dup (1 word)
      (5L, "completely different text about spark engines here")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs, "text", "doc_id").collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("dup_count")).toMap
    assert(out(1L) == 2L) // docs 1+2 collapse
    assert(out.values.sum == 5L)
  }

  test("incrementalSurvivors returns exactly the texts absent from the corpus") {
    val sp = spark; import sp.implicits._
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha"), (11L, "delta"), (12L, "beta"), (13L, "epsilon"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalSurvivors(batch, corpus, "text", "doc_id",
      expectedCorpusDocs = 10L).collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(11L, 13L))
  }

  test("incrementalSurvivors stays exact even when the bloom filter saturates") {
    val sp = spark; import sp.implicits._
    // expectedCorpusDocs=1 with 400 corpus keys drives fpp toward 1: every
    // batch row becomes a bloom 'maybe', and only the exact anti-join stands
    // between a false positive and data loss
    val corpus = (0L until 400L).map(i => (i, s"corpus doc $i")).toDF("doc_id", "text")
    val batch = (0L until 50L).map(i => (1000L + i, s"new doc $i")).toDF("doc_id", "text")
    val out = Dedup.incrementalSurvivors(batch, corpus, "text", "doc_id",
      expectedCorpusDocs = 1L, fpp = 0.5).collect().map(_.getLong(0)).sorted
    assert(out.toSeq == (1000L until 1050L).toSeq)
  }

  test("connectedComponents labels a multi-hop chain with its min id") {
    val sp = spark; import sp.implicits._
    // path 1-2-3-4-5-6-7-8 (diameter 7 forces several propagation rounds),
    // triangle 10-11-12, edgeless 99 absent from pairs entirely
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L),
      (10L, 11L), (11L, 12L), (10L, 12L)
    ).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 8L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(cc(_) == 10L))
    assert(!cc.contains(99L))
  }

  test("canonicalPairs gives identical components and skips the edge-dedup exchange") {
    val sp = spark; import sp.implicits._
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L),
      (10L, 11L), (11L, 12L), (10L, 12L)
    ).toDF("id_a", "id_b")
    val guarded = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val canonical = Dedup.connectedComponents(pairs, canonicalPairs = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(canonical == guarded)
    // duplicates in the input are still CORRECT under the flag (min-label
    // aggregation is idempotent) — only the fan-out guard is waived
    val dup = pairs.unionAll(pairs)
    val withDups = Dedup.connectedComponents(dup, canonicalPairs = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(withDups == guarded)
  }

  test("connectedComponents runs one Spark job per round (observed-metric convergence)") {
    val sp = spark; import sp.implicits._
    // 4-chain: seed reaches (1,1)(2,1)(3,2)(4,3); round 1 jumps everything
    // to 1; round 2 confirms the fixpoint — exactly 2 rounds
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sp.sparkContext.addSparkListener(listener)
    try {
      Dedup.connectedComponents(pairs).collect()
      // listener events are posted synchronously enough for a count after
      // the final blocking action, but allow the bus a beat to drain
      Thread.sleep(300)
    } finally sp.sparkContext.removeSparkListener(listener)
    // pinned ceiling (AQE stage-materialization jobs included): measured
    // 19 with the convergence sum OBSERVED on the checkpoint job vs 23
    // with the separate per-round agg — the assert fails if the piggyback
    // regresses back to a standalone sum job per round.
    assert(jobs.get() <= 20, s"CC ran ${jobs.get()} jobs for 2 rounds")
  }

  test("connectedComponents throws rather than emit a split component") {
    val sp = spark; import sp.implicits._
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2).collect()
    }
  }

  test("dedupClusters assigns singletons their own id; survivors keep one row per cluster") {
    val assigned = Dedup.dedupClusters(docs, "doc_id",
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", shingleWords = 2,
        threshold = 0.5)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1,2,3,4 share 2-gram Jaccard ≥ 0.5 (chain suffices); 5 is alone
    assert(assigned(1L) == 1L && assigned(2L) == 1L && assigned(5L) == 5L)
    assert(assigned.size == 5)
    val survivors = Dedup.clusterSurvivors(docs, "doc_id",
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", shingleWords = 2,
        threshold = 0.5)).collect().map(_.getAs[Long]("doc_id")).sorted
    assert(survivors.toSeq == assigned.values.toSeq.distinct.sorted)
  }

  test("normalized dedup also collapses punctuation/case variants") {
    val out = Dedup.exactNormalized(docs, "text", "doc_id").collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("dup_count")).toMap
    assert(out(1L) == 3L) // 1,2,3 collapse
  }

  test("exactSurvivors keeps one row per text, smallest id") {
    val ids = Dedup.exactSurvivors(docs, "text", "doc_id").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 3L, 4L, 5L))
  }

  test("exact dedup key is 128-bit: two independent seeded xxhash64 words") {
    // Collision math motivating the width: grouping on a single 64-bit
    // hash expects ~n²/2⁶⁵ false-merges — 0.03 at 10⁹ docs but ~27 at
    // 3×10¹⁰, silent data loss at target scale. Two seeded words give
    // n²/2¹²⁹ ≈ 1.3×10⁻¹⁸ at 3×10¹⁰. Here we pin the construction: the
    // words must be INDEPENDENT (different seed prefixes), not one word
    // duplicated, or the effective width collapses back to 64 bits.
    val sp = spark; import sp.implicits._
    val words = Seq("alpha", "beta").toDF("t")
      .select(
        xxhash64(lit(1L), col("t")).as("h1"),
        xxhash64(lit(2L), col("t")).as("h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    words.foreach { case (h1, h2) =>
      assert(h1 != h2, "seeded words must differ — else the key is 64-bit")
    }
    assert(words.map(_._1).distinct.length == 2)
    // and the dedup output is invariant: distinct texts stay distinct
    assert(Dedup.exact(docs, "text", "doc_id").count() == 4L)
  }

  test("fingerprint128 agrees with fingerprint64 on equality classes") {
    val sp = spark; import sp.implicits._
    val df = Seq("the cat sat", "sat the cat", "a dog ran").toDF("t")
      .select(TF.fingerprint64(col("t")).as("f64"),
        TF.fingerprint128(col("t")).as("f128"))
      .collect()
    // token-multiset-equal texts collapse under both widths
    assert(df(0).get(0) == df(1).get(0) && df(0).get(1) == df(1).get(1))
    assert(df(0).get(0) != df(2).get(0) && df(0).get(1) != df(2).get(1))
  }

  test("minhash LSH finds the planted near-duplicate pair") {
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
      numHashes = 32, bands = 16, shingleWords = 3, jaccardThreshold = 0.3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L))) // exact dups always collide
    assert(pairs.exists { case (a, b) => Set(a, b).subsetOf(Set(1L, 2L, 3L, 4L)) && (a, b) != (1L, 2L) })
    assert(!pairs.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("maxBandFreq bounds hot-bucket fan-out from an exact-duplicate cluster") {
    val sp = spark; import sp.implicits._
    // 40 identical docs (one hot band bucket per band) + one near pair
    // with mid-range overlap that must SURVIVE the cap
    val boiler = (1L to 40L).map(id => (id,
      "the same boilerplate footer text repeated on every single page here"))
    val near = Seq(
      (100L, "quick brown foxes jump over lazy dogs in the golden autumn meadow"),
      (101L, "quick brown foxes jump over lazy dogs in the silent autumn meadow"))
    val docs = (boiler ++ near).toDF("doc_id", "text")
    def pairSet(cap: Long) = Dedup.minhashLshPairs(docs, "text", "doc_id",
      numHashes = 32, bands = 16, shingleWords = 3, jaccardThreshold = 0.3,
      maxBandFreq = cap).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val uncapped = pairSet(0L)
    assert(uncapped.size == 40 * 39 / 2 + 1, "cluster explodes quadratically uncapped")
    val capped = pairSet(10L)
    // the 40-member cluster exceeds the cap in EVERY band → all its
    // quadratic pairs are gone; the sub-cap near pair survives intact
    assert(capped == Set((100L, 101L)))
    // a cap above the cluster size is a no-op
    assert(pairSet(1000L) == uncapped)
  }

  test("minhash pairs: subset of exact pairs always; equality above the knee") {
    // below the S-curve knee LSH promises a recall floor, not completeness;
    // above it (t=0.85, r=4, b=32 ⇒ P(miss) < 1e-10) the pair set must
    // EQUAL the exact inverted-index pair set — the regime the graded
    // query declares
    val fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val exactLow = pairs(Dedup.ngramJaccardPairs(fixture, "text", "doc_id",
      shingleWords = 3, threshold = 0.3))
    val lshLow = pairs(Dedup.minhashLshPairs(fixture, "text", "doc_id",
      numHashes = 128, bands = 32, shingleWords = 3, jaccardThreshold = 0.3))
    assert(lshLow.subsetOf(exactLow), "LSH must never emit a below-threshold pair")
    val exactHigh = pairs(Dedup.ngramJaccardPairs(fixture, "text", "doc_id",
      shingleWords = 3, threshold = 0.85))
    val lshHigh = pairs(Dedup.minhashLshPairs(fixture, "text", "doc_id",
      numHashes = 128, bands = 32, shingleWords = 3, jaccardThreshold = 0.85))
    assert(lshHigh == exactHigh,
      s"above-knee LSH must be complete: missed ${(exactHigh -- lshHigh).size}")
  }

  test("simhash pairs: identical docs at hamming 0, unrelated far") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Long]("hamming"))).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(!pairs.keySet.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("simhash banding has NO recall hole: complete vs brute force at hamming 8-10") {
    // the maxHamming+1-block scheme guarantees recall by pigeonhole at ANY
    // maxHamming — prove completeness against an exhaustive all-pairs
    // hamming matrix on the real fixture (120-bit two-word fingerprints,
    // including chunks that straddle the 60-bit word boundary)
    val fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (maxH <- Seq(8, 10)) {
      val banded = Dedup.simhashPairs(fixture, "text", "doc_id", maxHamming = maxH)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      val sketches = fixture.select(col("doc_id"),
        HashExpressions.simhashMd5Wide(
          split(TF.normalizeText(col("text")), " ")).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
      val brute = (for {
        (ia, ha) <- sketches; (ib, hb) <- sketches if ia < ib
        if ha.zip(hb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum <= maxH
      } yield (ia, ib)).toSet
      assert(banded == brute,
        s"maxHamming=$maxH: banding missed ${(brute -- banded).size} pairs / extra ${(banded -- brute).size}")
    }
  }

  test("wide simhash word 1 matches a DuckDB-replicable direct computation") {
    // word 1 = hex chars 16-30 of md5 — straddles the digest's byte 7;
    // pin the extraction against an independent BigInteger computation
    val toks = Seq("alpha", "bravo", "charlie", "z")
    val viaNative = {
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        toks.map(t => org.apache.spark.unsafe.types.UTF8String.fromString(t)).toArray[Any])
      (0 until toks.length).map { i =>
        graft.plans.NativeOps.md5Words(
          org.apache.spark.unsafe.types.UTF8String.fromString(toks(i)), 2)
      }
    }
    toks.zip(viaNative).foreach { case (t, words) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      assert(words(0) == java.lang.Long.parseLong(hex.substring(0, 15), 16),
        s"word0 mismatch for '$t'")
      assert(words(1) == java.lang.Long.parseLong(hex.substring(15, 30), 16),
        s"word1 mismatch for '$t'")
    }
  }

  test("prefix-filtered pair join is COMPLETE: equals the naive posting self-join") {
    // the AllPairs prefix filter must be invisible in the results at any
    // threshold — verify both measures against an independent naive
    // brute force (full posting self-join + groupBy) on the real fixture
    val fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val posting = fixture.select(col("doc_id").as("id"),
      explode(array_distinct(TF.wordShingles(col("text"), 3))).as("g"))
    val sizes = posting.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = posting.alias("a").join(posting.alias("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
    for (t <- Seq(0.1, 0.5, 0.9)) {
      val naiveJ = inter
        .where(col("i").cast("double") / (col("na") + col("nb") - col("i")) >= t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val prefJ = Dedup.ngramJaccardPairs(fixture, "text", "doc_id",
        shingleWords = 3, threshold = t).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(prefJ == naiveJ,
        s"jaccard t=$t: missing ${(naiveJ -- prefJ).size}, extra ${(prefJ -- naiveJ).size}")
      val naiveC = inter
        .where(col("i").cast("double") / least(col("na"), col("nb")) >= t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val prefC = Dedup.containmentPairs(fixture, "text", "doc_id",
        shingleWords = 3, threshold = t).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(prefC == naiveC,
        s"containment t=$t: missing ${(naiveC -- prefC).size}, extra ${(prefC -- naiveC).size}")
      // the opt-in bounded hot join must be invisible in the answer
      val boundC = Dedup.containmentPairs(fixture, "text", "doc_id",
        shingleWords = 3, threshold = t, boundedHotJoin = true).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(boundC == naiveC,
        s"bounded containment t=$t: missing ${(naiveC -- boundC).size}, extra ${(boundC -- naiveC).size}")
    }
  }

  test("maxDocFreq cap drops boilerplate-only pairs, keeps sub-cap overlap intact") {
    val sp = spark; import sp.implicits._
    // 40 docs share a hot trigram run (df 40 > cap 10); one genuine pair
    // shares a rare run (df 2). Under the cap the hot-run pairs vanish
    // and the genuine pair's score is computed over sub-cap shingles with
    // FULL set sizes in the denominator.
    val hot = "copyright acme corporation all rights reserved worldwide"
    val rare = "plutonium osmium iridium rhenium tantalum hafnium"
    val boiler = (1L to 40L).map(i => (i, s"doc$i alpha$i beta$i gamma$i $hot"))
    val pairDocs = Seq((100L, s"original $rare text"), (101L, s"original $rare text"))
    val docs = (boiler ++ pairDocs).toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(docs, "text", "doc_id",
        shingleWords = 3, threshold = 0.5, maxDocFreq = 10L)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(capped == Set((100L, 101L)),
      s"cap must keep only the rare-run pair, got $capped")
    // exact default still sees the boilerplate pairs
    val exact = Dedup.containmentPairs(docs, "text", "doc_id",
        shingleWords = 3, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(exact.size > 100 && exact.contains((100L, 101L)))
    // the adaptive sentinel resolves via autoMaxDocFreq(42) = 32 < 40 →
    // also prunes the hot run, without any dial passed
    val adaptive = Dedup.containmentPairs(docs, "text", "doc_id",
        shingleWords = 3, threshold = 0.5, maxDocFreq = Dedup.AdaptiveDocFreq)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(adaptive == Set((100L, 101L)))
    // the bounded hot join (df 40 > hotDf 32 HERE, so the hot branch is
    // genuinely exercised) is EXACT: identical to the full-posting join,
    // boilerplate pairs included
    val bounded = Dedup.containmentPairs(docs, "text", "doc_id",
        shingleWords = 3, threshold = 0.5, boundedHotJoin = true)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(bounded == exact,
      s"bounded: missing ${(exact -- bounded).size}, extra ${(bounded -- exact).size}")
  }

  test("ngram jaccard computes exact similarity on collided pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleWords = 2, threshold = 0.1)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    // 1 vs 4: 8 bigrams each, 6 shared -> 6/10
    assert(pairs.get((1L, 4L)).forall(j => math.abs(j - 0.6) < 1e-6))
  }

  private lazy val vecs = {
    val sp = spark; import sp.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // near 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal to 0
      (3L, Array(0.0f, 0.95f, 0.05f, 0.0f)), // near 2
      (4L, Array(0.5f, 0.5f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
  }

  test("embedding cosine pairs above threshold (exact path)") {
    val pairs = Dedup.embeddingCosinePairs(vecs, "embedding", "vec_id",
      threshold = 0.98)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((0L, 1L), (2L, 3L)))
  }

  test("embedding LSH pairs are a high-recall subset of the exact pair set") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val exact = pairSet(Dedup.embeddingCosinePairs(emb, "embedding", "vec_id",
      threshold = 0.2))
    val lsh = pairSet(Dedup.embeddingCosinePairs(emb, "embedding", "vec_id",
      threshold = 0.2, lshBits = 4, dim = 64, lshTables = 16))
    assert(lsh.subsetOf(exact), "LSH must never emit a below-threshold pair")
    val recall = if (exact.isEmpty) 1.0 else (lsh intersect exact).size.toDouble / exact.size
    assert(recall > 0.5, s"LSH pair recall too low: $recall")
  }

  test("tight-regime LSH (bits=16 × 8 tables) prunes hard AND keeps full recall") {
    // the pruning regime: near-dup pairs at cosine ≈ 0.9998 (perturbed
    // copies), fine buckets. Assert (1) the candidate set is a small
    // fraction of all pairs — this is what makes LSH the scale path —
    // and (2) the verified pair set equals the exact brute-force set
    val sp = spark
    val emb = sp.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val base = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val pert = emb.select((col("vec_id") + lit(100000L)).as("vec_id"),
      expr("transform(embedding, (x, i) -> CAST(x AS DOUBLE) + 0.02 * " +
        "CAST(element_at(embedding, (i + 1) % 64 + 1) AS DOUBLE))").as("embedding"))
    val aug = base.unionAll(pert)
    val n = aug.count()
    val allPairs = n * (n - 1) / 2.0
    val cand = Dedup.signLshCandidates(
      aug.select(col("vec_id").as("id"), col("embedding").as("v")),
      lshBits = 16, dim = 64, lshTables = 8).count()
    val ratio = cand / allPairs
    info(f"candidate ratio: $cand pairs of ${allPairs.toLong} (${ratio * 100}%.3f%%)")
    assert(ratio < 0.05, f"tight LSH params should prune; got ratio $ratio%.4f")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val lsh = pairSet(Dedup.embeddingCosinePairs(aug, "embedding", "vec_id",
      threshold = 0.9, lshBits = 16, dim = 64, lshTables = 8))
    val exact = pairSet(Dedup.embeddingCosinePairs(aug, "embedding", "vec_id",
      threshold = 0.9))
    assert(lsh == exact,
      s"tight LSH missed ${(exact -- lsh).size} / extra ${(lsh -- exact).size} pairs")
    assert(exact.size >= emb.count(), "every perturbed copy must pair with its source")
  }

  test("incremental near-dup: persisted index path matches fresh sketching, batch broadcasts") {
    val sp = spark
    val docs = sp.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val batch = docs.where(col("doc_id") < 50)
    val corpus = docs.where(col("doc_id") >= 50)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
    val fresh = Dedup.incrementalNearDupPairs(batch, corpus, "text", "doc_id",
      numHashes = 128, bands = 32, shingleWords = 3, jaccardThreshold = 0.85)
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("target/tmp/incrnear")).toString
    Dedup.minhashBandIndex(corpus, "text", "doc_id", 128, 32, 3)
      .write.mode("overwrite").parquet(s"$dir/idx")
    val viaIndex = Dedup.incrementalNearDupPairs(batch, corpus, "text", "doc_id",
      numHashes = 128, bands = 32, shingleWords = 3, jaccardThreshold = 0.85,
      corpusIndex = Some(sp.read.parquet(s"$dir/idx")))
    assert(pairSet(fresh) == pairSet(viaIndex))
    assert(pairSet(fresh).nonEmpty)
    // the batch band side must broadcast — the corpus index never re-shuffles
    val p = viaIndex.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"batch bands should broadcast:\n$p")
  }

  test("clusterSurvivorsBy keeps the max-score row per component, min-id on ties") {
    val sp = spark; import sp.implicits._
    // component {1,2,3} via chain pairs (1-2, 2-3); 4 is a singleton
    val docs = Seq((1L, "a", 0.5), (2L, "b", 0.9), (3L, "c", 0.9), (4L, "d", 0.1))
      .toDF("doc_id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.clusterSurvivorsBy(docs, "doc_id", col("score"), pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 2 and 3 tie at 0.9 → min id 2 wins; singleton 4 survives untouched
    assert(kept == Set(2L, 4L))
  }

  test("semantic dedup drops nearly all perturbed copies, keeps all sources") {
    // SemDeDup quality gate: the perturbed corpus has one near-identical
    // copy per source (cosine ≈ 0.9998). Cluster-scoped dedup must kill a
    // copy whenever it lands in its source's cluster — which is nearly
    // always, since the pair is closer to each other than to anything
    // else. Sources (lower ids) must ALL survive: first-occurrence wins.
    val sp = spark
    val emb = sp.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val base = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val pert = emb.select((col("vec_id") + lit(100000L)).as("vec_id"),
      expr("transform(embedding, (x, i) -> CAST(x AS DOUBLE) + 0.02 * " +
        "CAST(element_at(embedding, (i + 1) % 64 + 1) AS DOUBLE))").as("embedding"))
    val aug = base.unionAll(pert)
    val nBase = base.count()
    val survivors = Dedup.semanticSurvivors(aug, "embedding", "vec_id",
      threshold = 0.99, nlist = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val keptSources = survivors.count(_ < 100000L)
    val keptCopies = survivors.count(_ >= 100000L)
    info(s"sources kept: $keptSources/$nBase, copies kept: $keptCopies/$nBase")
    assert(keptSources == nBase, "no source (lower id) may be dropped")
    assert(keptCopies <= nBase / 10,
      s"semantic dedup should drop ≥90% of near-identical copies, kept $keptCopies")
    // determinism across partitionings
    val survivors2 = Dedup.semanticSurvivors(aug.repartition(13), "embedding",
      "vec_id", threshold = 0.99, nlist = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors2 == survivors)
  }

  test("brute-force top-k ranks by cosine with id tie-break") {
    val q = vecs.where(col("vec_id") === 0L)
    val out = Similarity.bruteForceTopK(vecs, q, "embedding", "vec_id", k = 2)
      .collect().sortBy(_.getAs[Int]("rank"))
      .map(_.getAs[Long]("corpus_id")).toSeq
    assert(out == Seq(1L, 4L)) // cos(0,1)≈0.994 > cos(0,4)=0.5 > cos(0,2)=0
  }

  test("LSH top-k returns a subset of brute-force ranking (recall path)") {
    val q = vecs.where(col("vec_id") === 0L)
    val out = Similarity.lshTopK(vecs, q, "embedding", "vec_id", k = 2,
      bits = 2, dim = 4)
    val ids = out.collect().map(_.getAs[Long]("corpus_id")).toSet
    assert(ids.subsetOf(Set(1L, 2L, 3L, 4L)))
  }

  test("tight-regime ANN (bits=16 × 8 tables) prunes hard AND finds the true top-1") {
    // mirror of the tight dedup gate for the SEARCH path: perturbed
    // copies are the queries, their source vectors the true nearest
    // neighbors (cosine ≈ 0.9998); fine buckets must collapse the
    // candidate ratio while still surfacing exactly the brute-force top-1
    val sp = spark
    val emb = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val pert = emb.select((col("vec_id") + lit(100000L)).as("vec_id"),
      expr("transform(embedding, (x, i) -> CAST(x AS DOUBLE) + 0.02 * " +
        "CAST(element_at(embedding, (i + 1) % 64 + 1) AS DOUBLE))").as("embedding"))
    val aug = base.unionAll(pert)
    val queries = aug.where(col("vec_id") >= 100000L && col("vec_id") < 100020L)
    val corpusN = aug.count(); val queryN = queries.count()
    val cand = Similarity.lshCandidates(aug, queries, "embedding", "vec_id",
      bits = 16, dim = 64, numTables = 8).count()
    val ratio = cand.toDouble / (corpusN * queryN)
    info(f"ANN candidate ratio: $cand of ${corpusN * queryN} query×corpus (${ratio * 100}%.3f%%)")
    assert(ratio < 0.05, f"tight ANN params should prune; got ratio $ratio%.4f")
    def top1(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("corpus_id")).toMap
    val lsh = top1(Similarity.lshTopK(aug, queries, "embedding", "vec_id",
      k = 1, bits = 16, numTables = 8))
    val exact = top1(Similarity.bruteForceTopK(aug, queries, "embedding", "vec_id", k = 1))
    assert(lsh == exact, s"pruning-regime ANN must find every true top-1; " +
      s"missed ${(exact.keySet -- lsh.keySet).size}, wrong ${lsh.count { case (q, c) => exact.get(q).exists(_ != c) }}")
    // and each query's true neighbor is its perturbation source
    assert(exact.forall { case (q, c) => c == q - 100000L })
  }

  test("IVF top-k with full probe matches brute force top-1") {
    val q = vecs.where(col("vec_id") === 0L)
    val out = Similarity.ivfTopK(vecs, q, "embedding", "vec_id", k = 1,
      nlist = 2, nprobe = 2).collect()
    assert(out.head.getAs[Long]("corpus_id") == 1L)
  }

  test("similarity top-k fails fast on non-integral ids instead of dropping rows") {
    val sp = spark; import sp.implicits._
    val vecs = Seq(("a", Array(1.0f, 0.0f)), ("b", Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(vecs, vecs, "embedding", "vec_id", k = 1).collect()
    }
    assert(e.getMessage.contains("integral id"))
  }

  test("persisted band index carries the hash-scheme tag; untagged indexes are rejected") {
    val sp = spark; import sp.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq((2L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val path = "target/tmp/band_scheme_spec"
    Dedup.minhashBandIndex(corpus, "text", "doc_id")
      .write.mode("overwrite").parquet(path)
    val reread = spark.read.parquet(path) // tag survives the round-trip
    val hits = Dedup.incrementalNearDupPairs(batch, corpus, "text", "doc_id",
      jaccardThreshold = 0.9, corpusIndex = Some(reread))
    assert(hits.count() == 1L)
    // an index persisted under the OLD hash scheme has no tag: its bh
    // values cannot match this build's sketches, so the join must raise
    // rather than silently report zero near-dups
    val untagged = reread.select(col("id"), col("band"),
      col("bh").cast("long").as("bh")) // cast strips field metadata
    val e = intercept[IllegalStateException] {
      Dedup.incrementalNearDupPairs(batch, corpus, "text", "doc_id",
        corpusIndex = Some(untagged))
    }
    assert(e.getMessage.contains("scheme"))
  }

  test("LSH and IVF recall vs brute force on the real embeddings fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 10)
    def topSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val exact = topSet(Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 10))
    // fixture neighbors sit at cosine 0.24-0.39 (θ≈70°) — a hard regime
    // for sign-LSH, so recall needs shallow signatures and many tables
    val lsh = topSet(Similarity.lshTopK(emb, queries, "embedding", "vec_id",
      k = 10, bits = 4, dim = 64, numTables = 16))
    val ivf = topSet(Similarity.ivfTopK(emb, queries, "embedding", "vec_id",
      k = 10, nlist = 8, nprobe = 4))
    val lshRecall = (lsh intersect exact).size.toDouble / exact.size
    val ivfRecall = (ivf intersect exact).size.toDouble / exact.size
    assert(lshRecall > 0.5, s"LSH recall too low: $lshRecall")
    assert(ivfRecall > 0.5, s"IVF recall too low: $ivfRecall")
  }

  test("Lloyd refinement balances IVF lists and is partitioning-deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 10)
    def listSizes(refine: Int): Seq[Long] = {
      val dir = s"target/tmp/ivf_refine_$refine"
      Similarity.buildIvfIndex(emb, "embedding", "vec_id", dir,
        nlist = 8, refineIterations = refine)
      spark.read.parquet(dir).groupBy("list_id").count()
        .collect().map(_.getAs[Long]("count")).toSeq
    }
    val seeded = listSizes(0); val refined = listSizes(1)
    def spread(s: Seq[Long]) = s.max - s.min
    info(s"list sizes seeds=${seeded.sorted.mkString(",")} refined=${refined.sorted.mkString(",")}")
    // balancing is the point: the largest/smallest list gap must shrink
    // (seed centroids are arbitrary corpus members; a Lloyd step moves
    // each centroid to its region's mean, evening out assignment counts)
    assert(spread(refined) < spread(seeded),
      s"refinement should balance lists: spread ${spread(seeded)} -> ${spread(refined)}")
    // determinism: the same corpus under a different partitioning yields
    // bit-identical centroids (DECIMAL sums are order-independent)
    def cents(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] = {
      val dir = "target/tmp/ivf_refine_det"
      Similarity.buildIvfIndex(df, "embedding", "vec_id", dir,
        nlist = 8, refineIterations = 1)
      spark.read.parquet(s"${dir}_centroids").collect()
        .map(r => r.getAs[Long]("cent_id") ->
          r.getSeq[Double](r.fieldIndex("centv")).toSeq).toMap
    }
    val a = cents(emb.repartition(3))
    val b = cents(emb.repartition(17, col("vec_id")))
    assert(a == b, "refined centroids must not depend on input partitioning")
    // recall contract survives refinement
    def topSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val exact = topSet(Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 10))
    val refinedIvf = topSet(Similarity.ivfTopK(emb, queries, "embedding", "vec_id",
      k = 10, nlist = 8, nprobe = 4, refineIterations = 1))
    val recall = (refinedIvf intersect exact).size.toDouble / exact.size
    assert(recall > 0.5, s"refined IVF recall too low: $recall")
  }

  test("persisted IVF index matches in-memory IVF and probes with partition pruning") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
    val idx = "target/tmp/ivf_index"
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", idx, nlist = 8)
    val indexed = Similarity.ivfTopKIndexed(idx, queries, "embedding", "vec_id",
      k = 10, nprobe = 4)
    // pruning proof: the scan must carry a PartitionFilters entry on
    // list_id, i.e. a probe reads only its lists' directories
    val plan = indexed.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("ivf_index") && l.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("list_id IN") || scanLine.contains("list_id#"),
      s"no partition pruning on list_id:\n$plan")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Int]("rank"))).toSet
    val inMemory = Similarity.ivfTopK(emb, queries, "embedding", "vec_id",
      k = 10, nlist = 8, nprobe = 4)
    assert(rows(indexed) == rows(inMemory),
      "indexed probe must reproduce the in-memory IVF ranking")
  }

  test("autoNlist holds list size constant as the corpus grows; sampled IVF training still probes") {
    // the linear-scaling rule: nlist ∝ N so mean list size is flat —
    // a fixed nlist regrows every list with the corpus and turns the
    // all-N kNN edge build quadratic
    assert(Similarity.autoNlist(0) == 16)
    assert(Similarity.autoNlist(512) == 16)
    assert(Similarity.autoNlist(2000) == 63)
    assert(Similarity.autoNlist(20000) == 625)
    val meanAt = (n: Long) => n.toDouble / Similarity.autoNlist(n)
    assert(math.abs(meanAt(20000) - meanAt(2000)) < 2.0,
      "mean list size must be ~flat across a 10x corpus growth")

    // trainFraction gates ONLY the Lloyd refinement sample: every corpus
    // vector still lands in a list and the index keeps its recall contract
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = "target/tmp/ivf_sampled"
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", idx,
      nlist = 8, trainFraction = 0.5)
    assert(spark.read.parquet(idx).count() == emb.count(),
      "assignment must cover the whole corpus, not just the train sample")
    val queries = emb.where(col("vec_id") < 5)
    def topSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"))).toSet
    val exact = topSet(Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 10))
    val approx = topSet(Similarity.ivfTopKIndexed(idx, queries, "embedding", "vec_id",
      k = 10, nprobe = 4))
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall > 0.5, s"sampled-training IVF recall too low: $recall")
  }

  test("autoLshBits sizes the sign-LSH bucket space to the corpus") {
    // same rule as autoNlist: bucket space ∝ N so occupancy is ~flat —
    // fixed bits leave a constant bucket count and a quadratic bucket join
    assert(Dedup.autoLshBits(0) == 4)
    assert(Dedup.autoLshBits(512) == 4)
    assert(Dedup.autoLshBits(2048) == 6)
    assert(Dedup.autoLshBits(20480) == 10)
    for (n <- Seq(1000L, 10000L, 100000L, 1000000L)) {
      val bits = Dedup.autoLshBits(n)
      assert((1L << bits) >= n / 32, s"bucket space too small at n=$n")
      assert((1L << bits) <= math.max(16L, n), s"bucket space overshoots at n=$n")
    }
    assert(Dedup.autoLshBits(Long.MaxValue) == 30, "bits must cap")
  }

  test("autoLshBits keeps the candidate count linear across a 10x corpus jump") {
    // the regime-boundary claim in embeddingCosinePairs' scaladoc, measured:
    // unrelated pairs collide per table with ~2^-bits, so candidates ≈
    // T·N²/2^(bits+1); with bits = autoLshBits(N) the bucket space grows
    // with N and the count stays ≤ T·targetBucketSize·N — LINEAR. Fixed
    // bits across the same jump would grow candidates ~100x.
    val sp = spark
    def vecs(n: Long) = sp.range(n).select(col("id"),
      expr("transform(sequence(1, 64), j -> CAST(xxhash64(concat(CAST(id AS STRING), " +
        "'_', CAST(j AS STRING))) % 1000000 AS DOUBLE) / 1000000.0)").as("v"))
    val perRow = Seq(2000L, 20000L).map { n =>
      val bits = Dedup.autoLshBits(n) // 6 then 10: bucket space ∝ N
      val cand = Dedup.signLshCandidates(vecs(n), bits, dim = 64,
        lshTables = 8).count()
      info(f"N=$n bits=$bits candidates=$cand (${cand.toDouble / n}%.0f per row)")
      assert(cand <= 8L * 32L * n,
        s"candidates $cand exceed the T*targetBucketSize*N linear bound at N=$n")
      cand.toDouble / n
    }
    // per-row candidate load must not grow with the corpus (flat-to-down)
    assert(perRow(1) <= perRow(0) * 2.0,
      s"per-row candidates grew across 10x: $perRow")
  }

  test("editDistancePairs: randomized equality with brute-force levenshtein") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7L)
    val alphabet = "abcde"
    def randStr(n: Int) = (1 to n).map(_ => alphabet(rnd.nextInt(5))).mkString
    // base strings + planted single-edit variants + some very short strings
    val base = (1 to 60).map(i => (i.toLong, randStr(6 + rnd.nextInt(6))))
    val variants = base.take(20).zipWithIndex.map { case ((_, s), i) =>
      val pos = rnd.nextInt(s.length)
      (1000L + i, s.updated(pos, alphabet(rnd.nextInt(5))))
    }
    val shorts = Seq((2000L, "a"), (2001L, "b"), (2002L, "ab"), (2003L, "ba"))
    val rows = base ++ variants ++ shorts
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (k <- Seq(1, 2)) {
      val expected = (for {
        (ia, sa) <- rows; (ib, sb) <- rows
        if ia < ib && lev(sa, sb) <= k
      } yield (ia, ib, lev(sa, sb).toLong)).toSet
      val got = Dedup.editDistancePairs(rows.toDF("id", "s"), "s", "id",
          maxDist = k, q = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected, s"maxDist=$k diverged from brute force")
    }
  }

  test("containmentPairs flags a short doc pasted inside a long one; jaccard misses it") {
    val sp = spark; import sp.implicits._
    val shortDoc = "the quick brown fox jumps over the lazy dog"
    val longDoc = "padding words one two three four five six seven eight nine ten " +
      shortDoc + " more filler text goes on and on with many additional words here"
    val docs = Seq((1L, shortDoc), (2L, longDoc),
      (3L, "unrelated content about entirely different things altogether")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "text", "doc_id",
        shingleWords = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(cont == Seq((1L, 2L, 1L)),
      s"short doc must be flagged as contained in the long one, got $cont")
    // the same pair is INVISIBLE to jaccard at any comparable threshold:
    // the union is dominated by the long doc
    val jac = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleWords = 3, threshold = 0.8)
    assert(jac.count() == 0, "jaccard at 0.8 must miss the wrapped copy")
  }

  test("editDistancePairs: short-string pool past maxShortPool raises typed") {
    val sp = spark; import sp.implicits._
    // 30 strings of length <= 4 all land in the all-pairs short pool
    val rows = (1 to 30).map(i => (i.toLong, f"s$i%02d"))
    val e = intercept[graft.GraftError.LimitExceeded] {
      Dedup.editDistancePairs(rows.toDF("id", "s"), "s", "id",
        maxDist = 1, q = 2, maxShortPool = 10L).collect()
    }
    assert(e.getMessage.contains("maxShortPool"))
    // raising the dial restores the complete answer
    val got = Dedup.editDistancePairs(rows.toDF("id", "s"), "s", "id",
      maxDist = 1, q = 2, maxShortPool = 100L).count()
    assert(got > 0)
  }

  test("PQ: codes compress to m small ints; planted near-dups are retrieved") {
    val sp = spark; import sp.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqTrain(emb, "embedding", "vec_id", m = 8, ksub = 16,
      refineIterations = 2, dim = 64)
    // codebook shape: 8 subspaces × 16 centroids × 8-dim means
    assert(cb.count() == 8L * 16)
    assert(cb.select(size(col("centv"))).distinct().as[Int].collect().toSeq == Seq(8))
    val enc = Similarity.pqEncode(emb, "embedding", "vec_id", cb)
    assert(enc.count() == emb.count())
    val codeStats = enc.select(size(col("codes")).as("m"),
      array_max(col("codes")).as("mx"), array_min(col("codes")).as("mn"))
    assert(codeStats.where(col("m") =!= 8 || col("mx") >= 16 || col("mn") < 0)
      .count() == 0, "every code vector must be 8 ids in [0, 16)")
    // plant an exact copy of vector 7 under a fresh id: PQ must retrieve
    // the copy as the top neighbor of the original (identical codes win
    // ADC, and exact re-rank puts cosine=1 first)
    val planted = emb.where(col("vec_id") === 7)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(planted)
    // codebook trained on a half-corpus hash sample (the 100 TB path):
    // retrieval quality must survive sample training
    val cb2 = Similarity.pqTrain(corpus, "embedding", "vec_id", m = 8, ksub = 16,
      refineIterations = 2, dim = 64, trainFraction = 0.5)
    val enc2 = Similarity.pqEncode(corpus, "embedding", "vec_id", cb2)
    val top = Similarity.pqTopK(enc2, cb2, corpus,
        corpus.where(col("vec_id") === 7), "embedding", "vec_id",
        k = 3, m = 8, dim = 64, rerank = 30)
      .orderBy(col("rank")).as[(Long, Long, Double, Int)].collect()
    assert(top.head._2 == 100007L, s"planted copy must rank first, got ${top.head}")
    assert(math.abs(top.head._3 - 1.0) < 1e-6)
  }

  test("pqTopK refuses a ksub hint below 1 instead of deriving silently") {
    val none = spark.emptyDataFrame
    Seq(0, -2).foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        Similarity.pqTopK(none, none, none, none, "embedding", "vec_id",
          k = 3, ksub = bad)
      }
      assert(e.getMessage.contains("ksub"), e.getMessage)
    }
  }

  test("PQ ADC survives a sparse codebook (dropped empty centroid)") {
    val sp = spark; import sp.implicits._
    // hand-built codebook with a GAP: cent_ids 0, 1, 3 (2 was "dropped"
    // by an empty Lloyd cluster). m=2 subspaces over dim=4. A flatten
    // that packs by sorted order would misalign every slot after the gap.
    val cb = Seq(
      (0, 0, Seq(0.0, 0.0)), (0, 1, Seq(1.0, 0.0)), (0, 3, Seq(0.0, 1.0)),
      (1, 0, Seq(0.0, 0.0)), (1, 1, Seq(1.0, 0.0)), (1, 3, Seq(0.0, 1.0))
    ).toDF("subspace", "cent_id", "centv")
    // corpus vectors sit exactly ON centroids, including the post-gap id 3
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f, 1.0f, 0.0f)), // codes (1, 1)
      (11L, Array(0.0f, 1.0f, 0.0f, 1.0f)), // codes (3, 3) — past the gap
      (12L, Array(1.0f, 1.0f, 1.0f, 1.0f))  // equidistant → tie-break to 0
    ).toDF("vec_id", "embedding")
    val enc = Similarity.pqEncode(corpus, "embedding", "vec_id", cb, m = 2, dim = 4)
    val codes = enc.collect().map(r => r.getAs[Long]("corpus_id") ->
      r.getAs[scala.collection.Seq[Int]]("codes").toSeq).toMap
    assert(codes(11L) == Seq(3, 3), s"gap centroid must be assignable: $codes")
    // query = vector 11's own position: with a correct sparse LUT its ADC
    // distance to itself-shaped 11 is 0 and it must rank first
    val q = Seq((99L, Array(0.0f, 1.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Similarity.pqTopK(enc, cb, corpus, q, "embedding", "vec_id",
        k = 1, m = 2, dim = 4, rerank = 3)
      .collect().map(r => r.getAs[Long]("corpus_id"))
    assert(top.toSeq == Seq(11L), s"sparse-codebook ADC misranked: ${top.toSeq}")
  }

  test("PQ index: append encodes against the existing codebook; search finds appended copy") {
    val sp = spark; import sp.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.where(col("vec_id") < 400)
    val idx = "target/tmp/pq_index_append"
    Similarity.buildPqIndex(base, "embedding", "vec_id", idx)
    val cbBefore = spark.read.parquet(s"${idx}_codebook").collect().toSet
    // append an exact copy of vector 7 under a fresh id — NO retrain
    val planted = emb.where(col("vec_id") === 7)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    Similarity.appendToPqIndex(idx, planted, "embedding", "vec_id")
    assert(spark.read.parquet(s"${idx}_codebook").collect().toSet == cbBefore,
      "append must not touch the codebook")
    assert(spark.read.parquet(idx).count() == base.count() + 1)
    val top = Similarity.pqTopKIndexed(idx,
        emb.where(col("vec_id") === 7), "embedding", "vec_id",
        k = 3, rerank = 30)
      .orderBy(col("rank")).as[(Long, Long, Double, Int)].collect()
    assert(top.head._2 == 100007L, s"appended copy must rank first, got ${top.head}")
  }

  test("IVF+PQ combined index: planted copy found through probe + ADC + re-rank") {
    val sp = spark; import sp.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planted = emb.where(col("vec_id") === 7)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(planted)
    val idx = "target/tmp/ivfpq_index_spec"
    Similarity.buildIvfPqIndex(corpus, "embedding", "vec_id", idx, nlist = 8)
    // identical vectors land in the same coarse list and share codes, so
    // the copy must survive the probe and win the exact re-rank
    val top = Similarity.ivfPqTopK(idx, corpus.where(col("vec_id") === 7),
        "embedding", "vec_id", k = 3, nprobe = 2, rerank = 30)
      .orderBy(col("rank")).as[(Long, Long, Double, Int)].collect()
    assert(top.head._2 == 100007L, s"planted copy must rank first, got ${top.head}")
    assert(math.abs(top.head._3 - 1.0) < 1e-6)
    // batch regime: forcing the probed set past the literal cap routes
    // the probe through shuffle joins (no driver list-id literal, no
    // broadcast of the Q-sized probe/LUT/query frames) — identical
    // results, the route is a plan choice, never a semantics choice
    val litRows = Similarity.ivfPqTopK(idx, corpus.where(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nprobe = 2, rerank = 30)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("corpus_id"), r.getAs[Int]("rank"))).toSet
    val batchRows = Similarity.ivfPqTopK(idx, corpus.where(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nprobe = 2, rerank = 30,
        maxProbedLiteral = 0)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("corpus_id"), r.getAs[Int]("rank"))).toSet
    assert(batchRows == litRows,
      "batch-join probe route must return the literal route's rows")
  }

  test("IVF+PQ large-nlist build persists the meta quantizer; probes reuse it") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = "target/tmp/ivfpq_index_meta"
    // above the two-level threshold the build must write _meta/_cmap so
    // ivfPqTopK probes load the persisted quantizer instead of re-running
    // the meta-Lloyd pass per call (same contract as buildIvfIndex)
    Similarity.buildIvfPqIndex(emb, "embedding", "vec_id", idx, nlist = 300)
    assert(new java.io.File(idx + "_meta").exists() &&
      new java.io.File(idx + "_cmap").exists(),
      "large-nlist IVF+PQ build must persist the meta quantizer")
    val out = Similarity.ivfPqTopK(idx, emb.where(col("vec_id") === 7),
      "embedding", "vec_id", k = 3, nprobe = 8, rerank = 30)
    assert(out.count() == 3)
  }

  test("IVF index append: batch joins existing lists, probes find appended vectors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.where(col("vec_id") < 400)
    val batch = emb.where(col("vec_id") >= 400)
    val idx = "target/tmp/ivf_index_append"
    Similarity.buildIvfIndex(base, "embedding", "vec_id", idx, nlist = 8)
    Similarity.appendToIvfIndex(idx, batch, "embedding", "vec_id")
    // every base + batch row is in the index, under the ORIGINAL centroids
    val all = spark.read.parquet(idx)
    assert(all.count() == emb.count())
    assert(all.select("list_id").distinct().count() <= 8)
    // a batch vector queried against the index finds ITSELF via its list
    // (nprobe=8 = scan all lists: isolates the append from probe recall)
    val self = Similarity.ivfTopKIndexed(idx,
        batch.limit(3).withColumn("vec_id", col("vec_id") + 100000L),
        "embedding", "vec_id", k = 1, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("query_id") - 100000L,
        r.getAs[Long]("corpus_id"))).toSet
    assert(self.forall { case (q, c) => q == c },
      s"appended vectors must be reachable: $self")
  }

  test("minhash sketch: deterministic, k longs, dup texts identical sketches") {
    val sk = docs.select(col("doc_id"),
      HashExpressions.minhashSketch(TF.wordShingles(col("text"), 3), 16).as("s"))
      .collect().map(r => r.getAs[Long](0) -> r.getSeq[Long](1)).toMap
    assert(sk.values.forall(_.length == 16))
    assert(sk(1L) == sk(2L))
    assert(sk(1L) != sk(5L))
  }

  test("simhash64: deterministic and registered for SQL") {
    HashExpressions.register(spark)
    docs.createOrReplaceTempView("sh_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, simhash64(split(lower(text), ' ')) AS h FROM sh_docs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql(1L) == viaSql(2L))
    val viaSql2 = spark.sql(
      "SELECT minhash_sketch(split(lower(text), ' '), 8) AS s FROM sh_docs LIMIT 1")
      .first().getSeq[Long](0)
    assert(viaSql2.length == 8)
  }

  test("sign-LSH bucket is deterministic and collides for near vectors") {
    val b = vecs.select(col("vec_id"),
      VF.signLshBucket(col("embedding"), 6, 4).as("b"))
      .collect().map(r => r.getAs[Long](0) -> r.getAs[Long](1)).toMap
    val b2 = vecs.select(col("vec_id"),
      VF.signLshBucket(col("embedding"), 6, 4).as("b"))
      .collect().map(r => r.getAs[Long](0) -> r.getAs[Long](1)).toMap
    assert(b == b2)
    assert(b(0L) == b(1L)) // near vectors share sign pattern
  }

  test("two-level routing with full meta probe equals the flat assign and probe exactly") {
    // metaProbes >= m probes every meta cell, so the candidate set is all
    // centroids and the two-level pick must reproduce the flat argmin /
    // top-n bit for bit — the exactness anchor for the approximate regime
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = emb.select(col("vec_id").as("corpus_id"), col("embedding").as("cv"))
    val nlist = 40
    val cents = Similarity.seedAndRefine(c, nlist, 1)
    val m = math.ceil(math.sqrt(nlist.toDouble)).toInt // 7 cells
    val flat = Similarity.assignToLists(c, cents, nlistHint = nlist)
      .select("corpus_id", "list_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val twoLevel = Similarity.twoLevelNearestLists(
      c.select(col("corpus_id").as("graft_pid"), col("cv").as("graft_pv")),
      cents, n = 1, nlistHint = nlist, metaProbes = m)
      .select("graft_pid", "list_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(twoLevel == flat, "full-coverage two-level argmin must equal flat")
    // top-4 probe vs an independically computed flat window top-4
    val flat4 = c.join(org.apache.spark.sql.functions.broadcast(cents))
      .withColumn("d", VF.l2Distance(col("cv"), col("centv")))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("corpus_id"))
          .orderBy(col("d").asc, col("cent_id").asc)))
      .where(col("rn") <= 4)
      .select(col("corpus_id"), col("cent_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val twoLevel4 = Similarity.twoLevelNearestLists(
      c.select(col("corpus_id").as("graft_pid"), col("cv").as("graft_pv")),
      cents, n = 4, nlistHint = nlist, metaProbes = m)
      .select("graft_pid", "list_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(twoLevel4 == flat4, "full-coverage two-level top-4 must equal flat")
  }

  test("routed two-level IVF (nlist above threshold) finds a planted exact twin at rank 1") {
    // nlist=300 > TwoLevelThreshold routes assign AND probe two-level
    // through the public API; an exact duplicate shares its source's meta
    // cells and candidate centroids deterministically, so the source's
    // assigned list is always probed and cosine 1.0 wins rank 1 — the
    // contract that holds at ANY corpus size, independent of recall regime
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.select(col("vec_id"), col("embedding"))
    val copies = base.select((col("vec_id") + lit(100000L)).as("vec_id"),
      col("embedding"))
    val corpus = base.unionAll(copies)
    val queries = copies.where(col("vec_id") < 100020L)
    val rows = Similarity.ivfTopK(corpus, queries, "embedding", "vec_id",
      k = 1, nlist = 300, nprobe = 4).collect()
    assert(rows.length == 20, s"expected 20 planted queries, got ${rows.length}")
    assert(rows.forall(r =>
      r.getAs[Long]("corpus_id") == r.getAs[Long]("query_id") - 100000L),
      rows.take(5).mkString(", "))
    assert(rows.forall(r => math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-6))
  }

  test("two-level assignment fidelity at the default meta probe width is high and total") {
    // quantifies the approximation the scaladoc admits: at metaProbes=8
    // of m=18 cells (nlist=300 on the 500-vector fixture), what fraction
    // of points still get their TRUE nearest centroid — and nobody is
    // dropped (the totality contract)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = emb.select(col("vec_id").as("corpus_id"), col("embedding").as("cv"))
    val n = c.count()
    val nlist = 300
    val cents = Similarity.seedAndRefine(c, nlist, 1)
    val flat = c.join(org.apache.spark.sql.functions.broadcast(cents))
      .withColumn("d", VF.l2Distance(col("cv"), col("centv")))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("corpus_id"))
          .orderBy(col("d").asc, col("cent_id").asc)))
      .where(col("rn") === 1)
      .select(col("corpus_id"), col("cent_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val twoLevel = Similarity.twoLevelNearestLists(
      c.select(col("corpus_id").as("graft_pid"), col("cv").as("graft_pv")),
      cents, n = 1, nlistHint = nlist,
      metaProbes = Similarity.DefaultMetaProbes)
      .select("graft_pid", "list_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(twoLevel.size == n, s"totality: ${twoLevel.size} of $n assigned")
    val agree = flat.count { case (id, cent) => twoLevel.get(id).contains(cent) }
    val fidelity = agree.toDouble / n
    info(f"assignment fidelity at metaProbes=8 of m=18: $fidelity%.3f ($agree/$n)")
    assert(fidelity >= 0.8,
      f"two-level assignment fidelity $fidelity%.3f below 0.8 — the " +
        "probe width no longer covers the true nearest centroid's cell")
  }

  test("bucketed IVF layout above threshold: dirs capped, probes exact, append visible") {
    // autoNlist at corpus scale means nlist ∝ N — one directory PER LIST
    // is a filesystem-metadata explosion at 10⁹ vectors. Above the
    // two-level threshold the index partitions by pmod(list_id, 1024)
    // with list_id-sorted rows; probes prune bucket dirs then row-groups.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
    val idx = "target/tmp/ivf_index_bucketed"
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", idx, nlist = 300)
    val dirs = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.contains("="))
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("list_bucket=")),
      s"expected bucketed dirs, got ${dirs.take(3).mkString(",")}")
    assert(dirs.length <= Similarity.IndexDirBuckets)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Int]("rank"))).toSet
    // above the threshold the build PERSISTS the meta quantizer next to
    // the centroids — probes load it instead of re-running the
    // O(nlist^1.5) Lloyd pass per call
    assert(new java.io.File(idx + "_meta").exists() &&
      new java.io.File(idx + "_cmap").exists(),
      "large-nlist build must persist the meta quantizer")
    // the bucketed at-rest probe reproduces the in-memory two-level IVF
    // bit for bit (same deterministic centroids, same probe kernel)
    val indexed = Similarity.ivfTopKIndexed(idx, queries, "embedding",
      "vec_id", k = 10, nprobe = 8)
    val inMemory = Similarity.ivfTopK(emb, queries, "embedding", "vec_id",
      k = 10, nlist = 300, nprobe = 8)
    assert(rows(indexed) == rows(inMemory),
      "bucketed indexed probe must reproduce the in-memory ranking")
    // batch regime: forcing the probed set past the literal cap routes
    // the probe through the shuffle join — identical results, no driver
    // literal (the route is a plan choice, never a semantics choice)
    val batched = Similarity.ivfTopKIndexed(idx, queries, "embedding",
      "vec_id", k = 10, nprobe = 8, maxProbedLiteral = 0)
    assert(rows(batched) == rows(indexed),
      "batch-join probe route must return the literal route's rows")
    // append matches the bucketed layout; an appended exact copy is
    // found by its source's probe (identical vector -> same list)
    val extra = emb.where(col("vec_id") === 1L)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(idx, extra, "embedding", "vec_id")
    val after = Similarity.ivfTopKIndexed(idx,
      emb.where(col("vec_id") === 1L), "embedding", "vec_id",
      k = 1, nprobe = 8).collect()
    assert(after.head.getAs[Long]("corpus_id") == 100001L &&
      math.abs(after.head.getAs[Double]("cosine") - 1.0) < 1e-6,
      after.mkString(","))
    // a small-nlist REBUILD at the same path clears the stale quantizer:
    // pairing an old quantizer with new centroids would corrupt probes
    Similarity.buildIvfIndex(emb, "embedding", "vec_id", idx, nlist = 8)
    assert(!new java.io.File(idx + "_meta").exists() &&
      !new java.io.File(idx + "_cmap").exists(),
      "small-nlist rebuild must delete the stale meta quantizer")
    assert(Similarity.ivfTopKIndexed(idx, queries, "embedding", "vec_id",
      k = 5, nprobe = 4).count() > 0)
  }

  test("two-level assign candidates per point grow ~sqrt(N), not linearly, at 10x corpus") {
    // the 100x-scale claim: with nlist = autoNlist (∝ N) the flat assign
    // evaluates nlist candidates per point (linear growth), the two-level
    // route metaProbes·(nlist/m) ≈ √nlist — measure the actual candidate
    // join size at two corpus sizes
    def perPoint(n: Int): Double = {
      val c = spark.range(n).select(col("id").as("corpus_id"),
        expr("transform(sequence(1, 16), j -> cast(sin(id * j) as double))").as("cv"))
      val nlist = Similarity.autoNlist(n, targetListSize = 2)
      val cents = Similarity.seedAndRefine(c, nlist, 1)
      val cand = Similarity.twoLevelCandidates(
        c.select(col("corpus_id").as("graft_pid"), col("cv").as("graft_pv")),
        cents, nlist, Similarity.DefaultMetaProbes).count()
      cand.toDouble / n
    }
    val p1 = perPoint(1000)   // nlist=500, m=23
    val p10 = perPoint(10000) // nlist=5000, m=71
    val growth = p10 / p1
    info(f"per-point candidates: N=1000 -> $p1%.0f, N=10000 -> $p10%.0f " +
      f"(growth $growth%.2fx; flat nlist growth is 10x)")
    assert(growth < 4.5,
      f"per-point candidate growth $growth%.2fx should track sqrt(10)≈3.2, not 10x")
  }
}
