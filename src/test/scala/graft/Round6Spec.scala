package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.idx.CosSimIndexer
import graft.multimodal.BinaryMedia

/** Round-6 additions: weak-reference broadcast registry, video frame stats,
  * codec header hardening.
  */
class Round6Spec extends SparkSpec {

  import spark.implicits._

  private def eventually(timeoutMs: Long = 15000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) { Thread.sleep(100); ok = cond }
    ok
  }

  // ===== weak-reference registry ==========================================

  test("a dropped, unreleased broadcast stays ContextCleaner-eligible (weak refs)") {
    BroadcastLifecycle.releaseAll()
    def leak(): Unit = {
      BroadcastLifecycle.track(spark.sparkContext.broadcast(Array.fill(1024)(1.0)))
      ()
    }
    leak()
    // the registry must not pin the abandoned broadcast: once GC clears the
    // weak ref the entry disappears from the live count
    assert(eventually() { System.gc(); BroadcastLifecycle.trackedCount == 0 },
      "registry pinned an unreachable broadcast")
  }

  test("live broadcasts survive GC and stay releasable") {
    BroadcastLifecycle.releaseAll()
    val bc = BroadcastLifecycle.track(spark.sparkContext.broadcast(Array(1, 2, 3)))
    System.gc()
    assert(BroadcastLifecycle.trackedCount == 1)
    assert(BroadcastLifecycle.releaseAll() == 1)
    intercept[Exception] { bc.value }
  }

  // ===== persistence round-trip leaves no tracked leak ====================

  test("Persistence.load -> release() leaves trackedCount at 0") {
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey").as("id"), col("p_name").as("company"),
              col("p_brand").as("brand"))
    val model = EntityMatching(
      EmParams(nameCol = "company", entityIdCol = "brand", uidCol = "id"),
      indexers = Seq(new CosSimIndexer(numCandidates = 2, lowerBound = 0.3)))
      .fit(parts)
    val dir = Files.createTempDirectory("graftmodel6").toString + "/model"
    Persistence.save(model, dir)
    model.release()
    BroadcastLifecycle.releaseAll()
    val loaded = Persistence.load(spark, dir)
    assert(loaded.transform(parts.limit(5)).count() > 0)
    assert(BroadcastLifecycle.trackedCount > 0, "load re-fits and re-tracks")
    loaded.release()
    assert(BroadcastLifecycle.trackedCount == 0,
      "release() after load must drop every re-fit broadcast (gt + idf)")
  }

  // ===== video frame stats (q71 kernel) ===================================

  test("frameStats replays the frame splitter and per-frame decode") {
    // 100 ASCII bytes -> per = 25 bytes/frame; at width 8 (24 B/row) each
    // frame is 2 rows => 54 + 48 = 102 container bytes; every=2 keeps f0, f2
    val text = (0 until 100).map(i => ('A' + i % 26).toChar).mkString
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val out = BinaryMedia.frameStats(BinaryMedia.sampleFrames(
      BinaryMedia.videoFromText(df, "doc_id", "text", nFrames = 4, frameWidth = 8),
      every = 2)).collect()
    assert(out.length == 1)
    val r = out.head
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    val expectedPx = bytes.slice(0, 25).map(_ & 0xff).sum.toLong +
      bytes.slice(50, 75).map(_ & 0xff).sum.toLong
    assert(r.getLong(0) == 7L)
    assert(r.getInt(1) == 2, "every=2 over 4 frames keeps 2")
    assert(r.getLong(2) == 204L, s"2 frames x 102 bytes, got ${r.getLong(2)}")
    assert(r.getLong(3) == expectedPx)
    assert(r.getInt(4) == 2, "tail frame is 25 bytes = 2 rows of 24")
  }

  test("empty text still yields nFrames 8x1 zero frames") {
    val df = Seq((1L, "")).toDF("doc_id", "text")
    val r = BinaryMedia.frameStats(BinaryMedia.sampleFrames(
      BinaryMedia.videoFromText(df, "doc_id", "text", nFrames = 4, frameWidth = 8),
      every = 2)).collect().head
    // each empty frame: 1 row of zero-padded pixels, 54 + 24 bytes
    assert(r.getInt(1) == 2 && r.getLong(2) == 156L && r.getLong(3) == 0L &&
      r.getInt(4) == 1)
  }

  // ===== codec header hardening ===========================================

  test("decodeBmp rejects hostile headers with clean errors") {
    val good = BinaryMedia.encodeBmp(2, 2, new Array[Byte](12))
    def corrupt(off: Int, value: Int): Array[Byte] = {
      val b = good.clone()
      b(off) = (value & 0xff).toByte
      b(off + 1) = ((value >> 8) & 0xff).toByte
      b(off + 2) = ((value >> 16) & 0xff).toByte
      b(off + 3) = ((value >> 24) & 0xff).toByte
      b
    }
    intercept[IllegalArgumentException] { BinaryMedia.decodeBmp(corrupt(18, -5)) }
    intercept[IllegalArgumentException] { BinaryMedia.decodeBmp(corrupt(18, 0)) }
    intercept[IllegalArgumentException] { BinaryMedia.decodeBmp(corrupt(22, Int.MinValue)) }
    // implausible volume: width*height*3 overflows Int
    intercept[IllegalArgumentException] { BinaryMedia.decodeBmp(corrupt(18, 1 << 20)) }
    intercept[IllegalArgumentException] { BinaryMedia.decodeBmp(corrupt(10, 7)) }
    intercept[IllegalArgumentException] { BinaryMedia.decodeBmp(corrupt(10, 1 << 30)) }
    // the original still decodes
    assert(BinaryMedia.decodeBmp(good).width == 2)
  }

  test("sampleFrames stops at a declared frame size smaller than a header") {
    val frame = BinaryMedia.encodeBmp(2, 1, new Array[Byte](6))
    val corrupt = frame.clone()
    corrupt(2) = 10; corrupt(3) = 0; corrupt(4) = 0; corrupt(5) = 0 // size=10 < 54
    val df = Seq((1L, frame ++ frame), (2L, corrupt ++ frame))
      .toDF("media_id", "media")
    val got = BinaryMedia.sampleFrames(df).select("media_id", "n_frames")
      .as[(Long, Int)].collect().toMap
    assert(got(1L) == 2 && got(2L) == 0)
  }

  // ===== BM25 lexical search ==============================================

  test("Bm25.topK matches a hand-computed score and ranks by score desc") {
    // corpus: 3 docs; query "cat dog" — doc lengths 2, 3, 4; avgdl = 3
    val docs = Seq(
      (1L, "cat dog"),
      (2L, "cat cat mouse"),
      (3L, "dog mouse mouse bird")).toDF("doc_id", "text")
    val qs = Seq((100L, "cat dog")).toDF("query_id", "query_text")
    val got = graft.search.Bm25.topK(docs, qs, k = 3)
      .orderBy("rank").collect()
    def idf(df: Double) = math.log(1 + (3.0 - df + 0.5) / (df + 0.5))
    def sat(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 3.0))
    val s1 = BigDecimal(idf(2) * sat(1, 2) + idf(2) * sat(1, 2))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s2 = BigDecimal(idf(2) * sat(2, 3))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s3 = BigDecimal(idf(2) * sat(1, 4))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_.getDouble(2)).toSeq == Seq(s1, s2, s3))
    assert(got.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
  }

  test("Bm25.topK caps at k and never returns docs without a query term") {
    val docs = (1L to 20L).map(i => (i, if (i <= 12) s"alpha token$i" else s"beta token$i"))
      .toDF("doc_id", "text")
    val qs = Seq((1L, "alpha")).toDF("query_id", "query_text")
    val got = graft.search.Bm25.topK(docs, qs, k = 5).collect()
    assert(got.length == 5)
    assert(got.forall(_.getLong(1) <= 12), "a beta doc scored for an alpha query")
  }

  test("Bm25 indexed path is bit-identical to the direct path, probes pruned") {
    val docs = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey").as("doc_id"), col("p_name").as("text"))
    val qs = docs.filter(col("doc_id") <= 3)
      .select(col("doc_id").as("query_id"), col("text").as("query_text"))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_idx_test"
    graft.search.Bm25.writeIndex(docs, path, nBuckets = 8)
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val direct  = key(graft.search.Bm25.topK(docs, qs, k = 5).collect())
    val indexed = key(graft.search.Bm25.topKIndexed(qs, path, k = 5).collect())
    assert(indexed == direct)
    // a literal bucket isin on the partition column must compile to
    // PartitionFilters (same assertion recipe as the disk IVF index)
    val prunedScan = spark.read.parquet(s"$path/postings")
      .filter(col("term_bucket").isin(0, 1))
    val scanStr = prunedScan.queryExecution.executedPlan.toString
    assert(scanStr.contains("PartitionFilters: [term_bucket#") ||
      scanStr.contains("PartitionFilters: [term_bucket "),
      s"expected partition pruning in:\n$scanStr")
  }

  // ===== int8 quantized ANN ===============================================

  test("int8 ANN: self-match is exact, scores track the float kernel") {
    import graft.ann.Knn
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val queries = emb.filter(col("vec_id") < 30)
    val q8 = Knn.bruteForceTopKInt8(queries, emb, k = 3).collect()
    // quantized self-cosine is dot(q,q)/(|q||q|) = exactly 1.0
    val top1 = q8.filter(_.getInt(3) == 1)
    assert(top1.length == 30)
    assert(top1.forall(r => r.getLong(0) == r.getLong(1) && r.getDouble(2) == 1.0))
    // per-pair quantized cosine stays close to the float cosine (direction
    // error <= ~0.5/127 per component); compare on the float kernel's pairs
    val f = Knn.bruteForceTopK(queries, emb, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val q8map = q8.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val common = f.keySet.intersect(q8map.keySet)
    assert(common.size >= 60, s"int8 and float top-3 should mostly agree: ${common.size}")
    common.foreach { k0 =>
      assert(math.abs(f(k0) - q8map(k0)) < 0.05, s"$k0: ${f(k0)} vs ${q8map(k0)}")
    }
    // deterministic: two runs bit-identical
    assert(Knn.bruteForceTopKInt8(queries, emb, k = 3).collect().map(_.toSeq).toSeq ==
      q8.map(_.toSeq).toSeq)
  }

  test("int8 IVF: exhaustive probe is bit-identical to int8 brute force; partial probe has perfect self-recall") {
    import graft.ann.Knn
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val queries = emb.filter(col("vec_id") < 30)
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val brute = key(Knn.bruteForceTopKInt8(queries, emb, k = 3).collect())
    val ivf   = key(Knn.ivfTopKInt8(queries, emb, k = 3,
      nLists = 8, nProbe = 8, seed = 7L, maxIter = 5).collect())
    assert(ivf == brute)
    // partial probing: the query's own list is always probed first, so
    // rank-1 self-match survives and scores never exceed the exhaustive ones
    val partial = Knn.ivfTopKInt8(queries, emb, k = 3,
      nLists = 8, nProbe = 2, seed = 7L, maxIter = 5).collect()
    val top1 = partial.filter(_.getInt(3) == 1)
    assert(top1.length == 30)
    assert(top1.forall(r => r.getLong(0) == r.getLong(1) && r.getDouble(2) == 1.0))
    partial.foreach { r =>
      val b = brute.get((r.getLong(0), r.getInt(3)))
      b.foreach { case (_, s) => assert(r.getDouble(2) <= s + 1e-12) }
    }
  }

  test("broadcast-kernel ceiling rejects unpackable target sets with guidance") {
    import graft.ann.Knn
    // 64-dim float: 272 B/row -> ~7M rows fit under the 2 GiB ceiling,
    // 100M rows do not
    Knn.checkPackable(7L * 1000 * 1000, 64L * 4 + 16, 64L)
    val e = intercept[IllegalArgumentException] {
      Knn.checkPackable(100L * 1000 * 1000, 64L * 4 + 16, 64L)
    }
    assert(e.getMessage.contains("ivfTopKBucketed"), "must point at the scale paths")
    // int8 rows are ~3.4x smaller: 25M rows of 64-dim int8 still fit
    Knn.checkPackable(25L * 1000 * 1000, 64L + 16, 64L)
    // the data-array entry bound fires with the same guidance even when the
    // byte estimate is under the ceiling (the n*dim Int-overflow class)
    val e2 = intercept[IllegalArgumentException] {
      Knn.checkPackable(1L << 25, 1L, 112L)
    }
    assert(e2.getMessage.contains("JVM array bound"))
    assert(e2.getMessage.contains("ivfTopKBucketed"))
  }

  // ===== connected-components duplicate clusters ==========================

  test("connectedComponents closes chains where min-neighbour pointing fails") {
    // edges (2,3), (1,4), (3,4): node 3's min smaller neighbour is 2, but the
    // component min is 1 — the single-pass star assignment gets this wrong,
    // the closure must not
    val pairs = Seq((2L, 3L), (1L, 4L), (3L, 4L)).toDF("id_a", "id_b")
    val verts = Seq(1L, 2L, 3L, 4L).toDF("id")
    val got = graft.data.Dedup.connectedComponents(verts, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("duplicateClusters: chains collapse to one cluster, singletons self-label") {
    // near-identical chain a~b~c (successive one-word edits) + unrelated doc
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (10L, base),
      (11L, base.replace("w30", "x30")),
      (12L, base.replace("w30", "x30").replace("w1 ", "x1 ")),
      (50L, (100 to 140).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val got = graft.data.Dedup.duplicateClusters(docs, "text", "doc_id",
        k = 5, threshold = 0.5, maxDocsPerShingle = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set((10L, 10L, false), (11L, 10L, true), (12L, 10L, true),
      (50L, 50L, false)))
  }

  test("CorpusPipeline transitive near-dedup keeps one doc per cluster") {
    import graft.data.{CorpusConfig, CorpusPipeline}
    // component {2,3,4} with edges (2,4) and (3,4) but NOT (2,3) at thr 0.6:
    // docs 2/3 edit mid-doc words 10 and 20 of base doc 4 — each edit flips 5
    // shingles, so jaccard to base is 21/31 = 0.68 but 2-vs-3 (10 flipped
    // shingles) is 16/36 = 0.44
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (2L, base.replace("w10 ", "x10 ")),
      (3L, base.replace("w20 ", "x20 ")),
      (4L, base)).toDF("doc_id", "text")
    def kept(transitive: Boolean): Set[Long] =
      CorpusPipeline.run(docs, CorpusConfig(
        minTokens = 0, nearDedupThreshold = Some(0.6), shingleK = 5,
        maxDocsPerShingle = 0, nearDedupTransitive = transitive))
        .kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept(transitive = false) == Set(2L, 3L), "star: 3 has no smaller neighbour")
    assert(kept(transitive = true) == Set(2L), "transitive: one keeper per cluster")
  }

  test("streaming near-dup flags exact copies across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val textA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val textB = (1 to 40).map(i => s"omega${i * 7}").mkString(" ")
    val in = MemoryStream[(Long, String)]
    val flags = graft.streaming.StreamingNearDup
      .flagNearDups(in.toDF.toDF("doc_id", "text"), "text", "doc_id")
      .toDF("doc_id", "matched")
    val sink = s"graft_snd_${System.nanoTime()}"
    val q = flags.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      in.addData((1L, textA), (2L, textB))
      q.processAllAvailable()
      in.addData((3L, textA)) // exact copy of doc 1, later micro-batch
      q.processAllAvailable()
      val got = spark.table(sink).groupBy("doc_id")
        .agg(max(col("matched")).as("d")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(!got(1L), "first occurrence must not be flagged")
      assert(!got(2L), "unrelated text must not be flagged")
      assert(got(3L), "copy arriving in a later batch must hit bucket state")
    } finally { q.stop(); spark.catalog.dropTempView(sink); () }
  }

  test("asof backward join: inclusive at equal ts, null before first right row") {
    val left = Seq(
      ("a", 5L, "l1"), ("a", 10L, "l2"), ("a", 20L, "l3"),
      ("b", 10L, "l4")).toDF("k", "ts", "tag")
    val right = Seq(
      ("a", 10L, 1.0), ("a", 15L, 2.0), ("c", 1L, 9.0)).toDF("k", "rts", "v")
    val got = graft.operators.AsofJoin
      .backward(left, right, Seq("k"), "ts", "rts", Seq("rts", "v"))
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getDouble(4))))).toMap
    assert(got("l1").isEmpty, "before the first right row -> null")
    assert(got("l2").contains((10L, 1.0)), "equal ts matches (inclusive)")
    assert(got("l3").contains((15L, 2.0)), "latest prior right row wins")
    assert(got("l4").isEmpty, "no right rows for this key")
    val fwd = graft.operators.AsofJoin
      .forward(left, right, Seq("k"), "ts", "rts", Seq("rts", "v"))
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getDouble(4))))).toMap
    assert(fwd("l1").contains((10L, 1.0)), "earliest at-or-after wins")
    assert(fwd("l2").contains((10L, 1.0)), "equal ts matches (inclusive, forward)")
    assert(fwd("l3").isEmpty, "after the last right row -> null")
    assert(fwd("l4").isEmpty, "no right rows for this key (forward)")
  }

  test("streaming near-dup maxPerBucket=0 evicts all cross-batch state, keeps in-batch matching") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val textA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val in = MemoryStream[(Long, String)]
    val flags = graft.streaming.StreamingNearDup
      .flagNearDups(in.toDF.toDF("doc_id", "text"), "text", "doc_id",
        maxPerBucket = 0)
      .toDF("doc_id", "matched")
    val sink = s"graft_sndc_${System.nanoTime()}"
    val q = flags.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      in.addData((1L, textA), (2L, textA)); q.processAllAvailable()
      in.addData((3L, textA)); q.processAllAvailable()
      val got = spark.table(sink).groupBy("doc_id")
        .agg(max(col("matched")).as("d")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(!got(1L), "first in batch")
      assert(got(2L), "in-batch duplicate still matches with cap 0")
      assert(!got(3L), "cross-batch fingerprint evicted by the cap")
    } finally { q.stop(); spark.catalog.dropTempView(sink); () }
  }

  test("quotaSample keeps exactly n per stratum and is monotone in n") {
    import graft.data.Sampling
    val df = (1L to 300L).map(i => (i, s"src${i % 3}")).toDF("id", "src")
    val k5 = Sampling.quotaSample(df, "id", "src", n = 5)
    assert(k5.groupBy("src").count().collect().forall(_.getLong(1) == 5))
    // small stratum: returns all of it
    val tiny = df.filter($"id" <= 4)
    assert(Sampling.quotaSample(tiny, "id", "src", n = 5).count() == 4)
    // monotone: the n=5 set is a subset of the n=10 set
    val k10 = Sampling.quotaSample(df, "id", "src", n = 10)
    assert(k5.join(k10, Seq("id"), "left_anti").count() == 0)
    // deterministic across runs
    assert(Sampling.quotaSample(df, "id", "src", n = 5).collect().map(_.getLong(0)).sorted
      .sameElements(k5.collect().map(_.getLong(0)).sorted))
  }

  // ===== stratified hash sampling =========================================

  test("thresholdHex is lexicographically correct at the boundaries") {
    import graft.data.Sampling.thresholdHex
    assert(thresholdHex(0.0) == "0000") // below every prefix: keeps nothing
    assert(thresholdHex(0.1) == "1999")
    assert(thresholdHex(0.5) == "8000")
    // regression: "10000" would sort BELOW "ffff" and keep only ~1/16
    assert(thresholdHex(1.0) == "g")
    assert("ffff" < thresholdHex(1.0) && "0000" < thresholdHex(1.0))
  }

  test("stratifiedHashSample applies per-stratum rates deterministically") {
    import graft.data.Sampling
    val df = (1L to 2000L).map(i =>
      (i, Seq("en", "de", "fr", "zh")(((i % 4).toInt)))).toDF("id", "lang")
    val rates = Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.0)
    val kept = Sampling.stratifiedHashSample(df, "id", "lang", rates,
      defaultRate = 0.1, salt = "t|")
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.getOrElse("en", 0L) == 500L, "rate 1.0 keeps every row")
    assert(!byLang.contains("fr"), "rate 0.0 keeps nothing")
    assert(byLang("de") > 150 && byLang("de") < 350, s"de ~50%: $byLang")
    assert(byLang("zh") > 10 && byLang("zh") < 120, s"zh default ~10%: $byLang")
    // determinism + consistency with the single-stratum primitive
    val deOnly = Sampling.hashSample(df.filter($"lang" === "de"), "id", 0.5, "t|")
    assert(deOnly.count() == byLang("de"))
    assert(kept.count() == Sampling.stratifiedHashSample(df, "id", "lang",
      rates, defaultRate = 0.1, salt = "t|").count())
  }

  // ===== empty-input edges for the round's new operators ==================

  test("new operators survive empty inputs") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    // BM25: empty query set and empty corpus both yield empty results
    val qs = Seq((1L, "a b")).toDF("query_id", "query_text")
    val noQs = Seq.empty[(Long, String)].toDF("query_id", "query_text")
    assert(graft.search.Bm25.topK(someDocs, noQs, k = 3).count() == 0)
    assert(graft.search.Bm25.topK(noDocs, qs, k = 3).count() == 0)
    // clusters: a corpus with no near-dup pairs labels everything kept
    val got = graft.data.Dedup.duplicateClusters(someDocs, "text", "doc_id",
      k = 5, threshold = 0.9, maxDocsPerShingle = 0).collect()
    assert(got.length == 1 && !got.head.getBoolean(2))
    assert(graft.data.Dedup.duplicateClusters(noDocs, "text", "doc_id").count() == 0)
    // quota 0 keeps nothing; sampler on empty frame is empty
    val df = Seq((1L, "en")).toDF("id", "lang")
    assert(graft.data.Sampling.quotaSample(df, "id", "lang", n = 0).count() == 0)
    assert(graft.data.Sampling.stratifiedHashSample(
      df.limit(0), "id", "lang", Map("en" -> 1.0)).count() == 0)
    // as-of with an empty right side: all-null payload, left preserved
    val left = Seq(("a", 1L, "x")).toDF("k", "ts", "tag")
    val emptyRight = Seq.empty[(String, Long, Double)].toDF("k", "rts", "v")
    val asof = graft.operators.AsofJoin
      .backward(left, emptyRight, Seq("k"), "ts", "rts", Seq("v")).collect()
    assert(asof.length == 1 && asof.head.isNullAt(3))
  }
}
