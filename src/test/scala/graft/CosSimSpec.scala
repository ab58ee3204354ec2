package graft

import java.nio.file.Files

import org.apache.spark.graft.BroadcastProbe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.idx.{CosSimIndexer, CosSimKernel, TfidfTerms}
import graft.streaming.StreamingMatch

/** The cos-sim candidate indexer, its scoring kernel and its TF-IDF
  * vectorizer.
  */
class CosSimSpec extends SparkSpec {

  import spark.implicits._

  private def gtDf = Seq(
    (1L, 1L, "acme industries"),
    (2L, 2L, "zenith corp"),
    (3L, 3L, "nadir holdings")).toDF("uid", "entity_id", "preprocessed")

  private def eventually(timeoutMs: Long = 15000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) { Thread.sleep(100); ok = cond }
    ok
  }

  // ===== kernel ===========================================================

  test("roundHalfUp is bit-identical to the BigDecimal HALF_UP expansion") {
    def exact(x: Double, p: Int): Double =
      BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP).toDouble
    // exact binary ties (x.5 at prec 0) must round away from zero
    for (x <- Seq(0.5, 1.5, 2.5, -0.5, -1.5, 3.0, -0.0, 0.0))
      assert(java.lang.Double.compare(CosSimKernel.roundHalfUp(x, 0), exact(x, 0)) == 0,
        s"prec=0 x=$x")
    // deterministic sweep: cosine-like values, near-tie grids, negatives
    val rnd = new scala.util.Random(42)
    val samples =
      (0 until 20000).map(_ => rnd.nextDouble() * 1.2) ++
      (0 until 5000).map(_ => -rnd.nextDouble()) ++
      // values engineered close to the .5 boundary at prec 9
      (0 until 2000).map(i => (i.toLong * 1000 + 500).toDouble / 1e12) ++
      (0 until 2000).map(i => (i.toLong * 1000 + 499).toDouble / 1e12 + 1e-13) ++
      Seq(0.1234567895, 0.9999999995, 1.0000000005, 4.9999999999e-10, 5.0000000001e-10)
    for (x <- samples; p <- Seq(2, 6, 9)) {
      val got = CosSimKernel.roundHalfUp(x, p)
      val want = exact(x, p)
      assert(java.lang.Double.compare(got, want) == 0,
        s"prec=$p x=$x got=$got want=$want")
    }
  }

  test("Scratch caps cached per-block score arrays") {
    val scratch = new CosSimKernel.Scratch
    (0 until 5 * CosSimKernel.MaxCachedBlocks)
      .foreach(i => scratch.scoresFor("block" + i, 16))
    assert(scratch.blockScores.size() == CosSimKernel.MaxCachedBlocks)
    // LRU: the most recently touched block survives
    assert(scratch.blockScores.containsKey(
      "block" + (5 * CosSimKernel.MaxCachedBlocks - 1)))
  }

  // ===== vectorizer =======================================================

  test("vocabulary, idf and transform do not depend on the GT's partition count") {
    // 150 one-off words tie on count 1: their order must come from the term
    val gt = (0 until 150).map { i =>
      (i.toLong, s"w${(i * 37) % 150} common" + (if (i % 3 == 0) " tri" else ""))
    }.toDF(Cols.Uid, Cols.Preprocessed)
    val names = Seq((1L, "w5 common"), (2L, "w77 tri unseen"), (3L, "common"))
      .toDF(Cols.Uid, Cols.Preprocessed)
    def fitOn(df: DataFrame) = new CosSimIndexer(numCandidates = 3, lowerBound = 0.1).fit(df)
    val one = fitOn(gt.coalesce(1))
    val eight = fitOn(gt.repartition(8))
    val vocab = one.tfidf.vocabulary.toSeq
    assert(vocab.take(2) == Seq("common", "tri"), "count descending first")
    assert(vocab.drop(2) == vocab.drop(2).sorted, "equal counts by term ascending")
    assert(eight.tfidf.vocabulary.toSeq == vocab)
    assert(eight.tfidf.idf.toSeq == one.tfidf.idf.toSeq)
    def features(m: graft.idx.CosSimIndexerModel) =
      m.tfidf.transform(names).select(Cols.Uid, "features").collect().map(_.toString).sorted.toSeq
    def matches(m: graft.idx.CosSimIndexerModel) =
      m.transform(names).collect().map(_.toString).sorted.toSeq
    assert(features(eight) == features(one))
    assert(matches(eight) == matches(one) && matches(one).nonEmpty)
    one.release(); eight.release()
  }

  test("gt whose names produce no ngram tokens fits an inert vectorizer") {
    // word 2-grams over single-word names: every row tokenizes, no 2-gram;
    // an empty GT likewise fits an empty vocabulary
    val names = Seq((1L, "acme corp"), (2L, "globex"), (3L, "acme globex"))
      .toDF(Cols.Uid, Cols.Preprocessed)
    val gts = Seq(
      Seq((1L, "acme"), (2L, "globex")).toDF(Cols.Uid, Cols.Preprocessed),
      Seq.empty[(Long, String)].toDF(Cols.Uid, Cols.Preprocessed))
    gts.foreach { gt =>
      val m = new CosSimIndexer(tokenizer = "words", ngram = 2,
        numCandidates = 3, lowerBound = 0.1).fit(gt)
      assert(m.tfidf.vocabularySize == 0)
      assert(m.transform(names).count() == 0)
    }
  }

  // ===== broadcast lifecycle ==============================================

  test("TfidfModel broadcasts term index + idf once at fit; transform adds nothing; release drops it") {
    BroadcastLifecycle.releaseAll()
    val gt = gtDf.union(
      Seq((4L, 4L, "lifecycleprobe trust")).toDF("uid", "entity_id", "preprocessed"))
    val model = new CosSimIndexer(numCandidates = 3, lowerBound = 0.1).fit(gt)
    // exactly two tracked broadcasts per fitted cos-sim stack: packed GT +
    // (term index, idf)
    assert(BroadcastLifecycle.trackedCount == 2,
      s"expected gt + terms tracked, got ${BroadcastLifecycle.trackedCount}")
    val names = Seq((10L, "acme industries"), (11L, "zenith corp"))
      .toDF("uid", "preprocessed")
    (1 to 3).foreach(_ => assert(model.transform(names).count() >= 1))
    assert(model.tfidf.transform(names).count() == 2)
    assert(BroadcastLifecycle.trackedCount == 2,
      "transform must NOT create new tracked broadcasts")
    // no broadcast of the term map may outlive release() on the driver
    def termMapHeld: Boolean = BroadcastProbe.driverValues().exists {
      case t: TfidfTerms                 => t.vocabulary.contains("lifecycleprobe")
      case m: scala.collection.Map[_, _] => m.keySet.exists(_ == "lifecycleprobe")
      case _                             => false
    }
    assert(termMapHeld, "probe must see the live term map")
    val termsId = model.tfidf.termsBc.id
    model.release()
    assert(BroadcastLifecycle.trackedCount == 0)
    // transform after release is dead (term index + idf broadcast destroyed)
    intercept[Exception] { model.tfidf.termsBc.value }
    assert(eventually()(BroadcastProbe.broadcastBlocks(termsId).isEmpty && !termMapHeld),
      "a broadcast of the term map outlived release()")
  }

  test("CosSimIndexerModel.release destroys the broadcast GT blocks") {
    val model = new CosSimIndexer(numCandidates = 3, lowerBound = 0.1).fit(gtDf)
    val bcId = model.gtBc.id
    // materialize once so the blocks actually exist on the block manager
    val n = model.transform(Seq((10L, "acme industries")).toDF("uid", "preprocessed")).count()
    assert(n >= 1)
    assert(BroadcastProbe.broadcastBlocks(bcId).nonEmpty)

    model.release()
    // driver handle is invalid immediately...
    intercept[Exception] { model.gtBc.value }
    // ...and the storage blocks disappear (destroy is async, so poll)
    assert(eventually()(BroadcastProbe.broadcastBlocks(bcId).isEmpty),
      s"broadcast_$bcId blocks still present after release()")
    // double release is a safe no-op
    model.release()
  }

  test("EntityMatchingModel.release cascades to every indexer and widened copies share state") {
    val gt = Seq((1L, "alpha beta gmbh"), (2L, "gamma delta llc"))
      .toDF("entity_id", "name")
    val em = EntityMatching(EmParams(checkUid = false)).fit(gt)
    val cosBcs = em.candidateModel.models.collect {
      case m: graft.idx.CosSimIndexerModel => m.gtBc
    }
    assert(cosBcs.size == 2) // default indexer set has two cossim indexers
    val widenedShares = em.candidateModel.widened.models.collect {
      case m: graft.idx.CosSimIndexerModel => m.gtBc
    }
    assert(widenedShares.map(_.id) == cosBcs.map(_.id),
      "widen must share the fitted broadcast, not copy it")
    em.release()
    cosBcs.foreach(bc => intercept[Exception] { bc.value })
  }

  // ===== batch and stream =================================================

  test("streaming cossim transform matches batch results") {
    val dir = Files.createTempDirectory("graftstream").toString
    val gt = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey").cast("long").as(Cols.Uid), col("p_name").as(Cols.Preprocessed))
    gt.filter(col(Cols.Uid) < 50).write.mode("overwrite").parquet(s"$dir/names")

    val idx   = new CosSimIndexer(numCandidates = 3, lowerBound = 0.5)
    val model = idx.fit(gt)

    val schema = spark.read.parquet(s"$dir/names").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/names")
    val out = StreamingMatch.transformStreaming(model, stream)
    val q = out.writeStream.format("memory").queryName("stream_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.sql("SELECT * FROM stream_out")
    val batch = model.transform(spark.read.parquet(s"$dir/names"))
    // the same transform on a stream and on a batch gives the same pairs
    assert(streamed.count() == batch.count())
    val diff = streamed.select(Cols.Uid, Cols.GtUid, "score", "rank")
      .exceptAll(batch.select(Cols.Uid, Cols.GtUid, "score", "rank")).count()
    assert(diff == 0)
  }

  // ===== brute-force differential =========================================

  private val words = Seq("acme", "global", "holdings", "trading", "alpha", "beta",
    "delta", "systems", "foods", "tech", "capital", "partners", "group", "north",
    "south", "bank", "zeta", "omega", "kappa", "river", "stone", "metro", "24", "7")

  /** A few hundred GT rows drawn from a smaller pool of names, so the same
    * name sits under several gt uids and scores tie.
    */
  private lazy val (bruteGt, bruteNames) = {
    val rnd = new scala.util.Random(11)
    def name(): String = {
      val ws = Seq.fill(1 + rnd.nextInt(4))(words(rnd.nextInt(words.size)))
      // an occasional doubled word gives char n-gram counts above 1
      (if (rnd.nextInt(6) == 0) ws :+ ws.head else ws).mkString(" ")
    }
    val pool = IndexedSeq.fill(120)(name())
    val gt = (0 until 300).map(i => (1000L + i, pool(rnd.nextInt(pool.size))))
    val names = (0 until 60).map { i =>
      val base = pool(rnd.nextInt(pool.size))
      val s = i % 4 match {
        case 0 => base
        case 1 => base + " " + words(rnd.nextInt(words.size))
        case 2 => base + " unseenword"
        case _ => name()
      }
      (i.toLong, s)
    }
    (gt, names)
  }

  /** Scores straight from the formula in TfidfVectorizer's doc comment:
    * tokenize, n-gram, idf = ln((m+1)/(df+1)), OOV-aware L2 norm, dot,
    * HALF_UP round, threshold, top-k by (score desc, gt_uid asc).
    */
  private def bruteForce(gt: Seq[(Long, String)], names: Seq[(Long, String)],
                         ix: CosSimIndexer): Seq[(Long, Long, Double, Int)] = {
    val pat = if (ix.tokenizer == "words") "[\\p{IsAlphabetic}\\p{Digit}]+".r else ".".r
    def grams(s: String): Seq[String] = {
      val toks = pat.findAllIn(s.toLowerCase()).toSeq
      if (toks.size < ix.ngram) Nil else toks.sliding(ix.ngram).map(_.mkString(" ")).toSeq
    }
    val m = gt.size
    val idf = gt.flatMap { case (_, s) => grams(s).distinct }.groupBy(identity)
      .map { case (t, occ) => t -> math.log((m + 1.0) / (occ.size + 1.0)) }
    val maxIdfSq = if (idf.isEmpty) 0.0 else math.pow(idf.values.max, 2)
    def vec(s: String): Map[String, Double] = {
      val g = grams(s)
      val tf = g.filter(idf.contains).groupBy(identity)
        .map { case (t, occ) => t -> (if (ix.binary) 1.0 else occ.size.toDouble) }
      val oov = (if (ix.binary) g.distinct.size else g.size) - tf.values.sum
      val w = tf.map { case (t, c) => t -> c * idf(t) }
      val norm = math.max(math.sqrt(w.values.map(x => x * x).sum + oov * maxIdfSq), 1e-9)
      w.map { case (t, x) => t -> x / norm }
    }
    def block(s: String): String =
      if (ix.blockingFunc.isEmpty) "" else s.trim.take(1).toLowerCase()
    val gtVecs = gt.map { case (u, s) => (u, block(s), vec(s)) }
    names.flatMap { case (uid, s) =>
      val q = vec(s)
      val b = block(s)
      gtVecs.collect { case (gu, gb, v) if gb == b =>
        val dot = q.collect { case (t, x) if v.contains(t) => x * v(t) }.sum
        (gu, CosSimKernel.roundHalfUp(dot, 9))
      }.filter(_._2 >= ix.lowerBound)
        .sortBy { case (gu, sc) => (-sc, gu) }
        .take(ix.numCandidates).zipWithIndex
        .map { case ((gu, sc), r) => (uid, gu, sc, r + 1) }
    }
  }

  private def actual(out: DataFrame): Seq[(Long, Long, Double, Int)] =
    out.collect().toSeq.map(r => (r.getAs[Long](Cols.Uid), r.getAs[Long](Cols.GtUid),
      CosSimKernel.roundHalfUp(r.getAs[Double]("score"), 9), r.getAs[Int]("rank")))
      .sortBy { case (u, g, sc, _) => (u, -sc, g) }

  test("cos-sim top-k equals a brute-force evaluation of the TF-IDF formula") {
    val gtDf = bruteGt.toDF(Cols.Uid, Cols.Preprocessed).repartition(3)
    val namesDf = bruteNames.toDF(Cols.Uid, Cols.Preprocessed).repartition(2)
    val indexers = Seq(
      new CosSimIndexer(tokenizer = "words", ngram = 1, binary = true,
        numCandidates = 4, lowerBound = 0.3),
      new CosSimIndexer(tokenizer = "characters", ngram = 2, binary = false,
        numCandidates = 5, lowerBound = 0.2, blockingFunc = Some("first")))
    indexers.foreach { ix =>
      val model = ix.fit(gtDf)
      val want = bruteForce(bruteGt, bruteNames, ix)
        .sortBy { case (u, g, sc, _) => (u, -sc, g) }
      val got = actual(model.transform(namesDf))
      assert(want.exists(_._4 > 1) && want.map(_._1).distinct.size > 30,
        s"${ix.tokenizer}: fixture too thin")
      // repeated GT names must produce tied scores the kernel breaks by gt_uid
      assert(want.groupBy(w => (w._1, w._3)).exists(_._2.size > 1),
        s"${ix.tokenizer}: fixture has no score ties")
      val firstDiff = got.zipAll(want, null, null).find(p => p._1 != p._2)
      assert(firstDiff.isEmpty, s"${ix.tokenizer}: first (got, want) diff $firstDiff")
      model.release()
    }
  }
}
