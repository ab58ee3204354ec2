package graft.idx

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.linalg.SparseVector
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Cols

/** Ground truth packed as an inverted index: for each term, the postings list
  * of (gt row, normalized weight). CSC layout over primitive arrays.
  */
final case class PackedGt(
    indptr: Array[Int],    // size nTerms+1
    indices: Array[Int],   // gt row positions, size nnz
    data: Array[Double],   // normalized weights, size nnz
    gtUids: Array[Long]) { // row position -> gt uid
  def nTerms: Int = indptr.length - 1
  def nRows: Int  = gtUids.length
}

object PackedGt {
  /** Build from collected (gtUid, features) rows; zero weights dropped so the
    * kernel's "first touch" bookkeeping stays exact.
    */
  def build(rows: Array[(Long, SparseVector)], nTerms: Int): PackedGt = {
    val sorted = rows.sortBy(_._1)
    val counts = new Array[Int](nTerms)
    sorted.foreach { case (_, v) =>
      var i = 0
      while (i < v.indices.length) {
        if (v.values(i) != 0.0) counts(v.indices(i)) += 1
        i += 1
      }
    }
    val indptr = new Array[Int](nTerms + 1)
    var t = 0
    while (t < nTerms) { indptr(t + 1) = indptr(t) + counts(t); t += 1 }
    val nnz     = indptr(nTerms)
    val indices = new Array[Int](nnz)
    val data    = new Array[Double](nnz)
    val fill    = new Array[Int](nTerms)
    val gtUids  = new Array[Long](sorted.length)
    var g = 0
    while (g < sorted.length) {
      val (uid, v) = sorted(g)
      gtUids(g) = uid
      var i = 0
      while (i < v.indices.length) {
        if (v.values(i) != 0.0) {
          val term = v.indices(i)
          val pos  = indptr(term) + fill(term)
          indices(pos) = g
          data(pos)    = v.values(i)
          fill(term) += 1
        }
        i += 1
      }
      g += 1
    }
    PackedGt(indptr, indices, data, gtUids)
  }
}

/** The per-row scoring kernel of [[CosSimIndexerModel.transform]], which
  * serves batch and streaming frames alike: accumulate term-by-term dot
  * products into a primitive scores array (touched-index bookkeeping instead
  * of hash maps — no boxing), then round/threshold/top-k by insertion.
  */
private[graft] object CosSimKernel {

  private val POW10: Array[Double] = Array.tabulate(16)(i => math.pow(10, i))

  private def roundExact(x: Double, prec: Int): Double =
    BigDecimal(x).setScale(prec, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** HALF_UP decimal rounding, bit-identical to
    * `BigDecimal(x).setScale(prec, HALF_UP).toDouble` but allocation-free on
    * the fast path (the BigDecimal form allocates per candidate — billions of
    * short-lived objects in the innermost matmul loop at scale). The scaled
    * double `x * 10^prec` carries at most ~|scaled|*2^-51 absolute error, so
    * any value landing within 1e-6 of an integer boundary of `scaled + 0.5`
    * (i.e. near a .5 rounding tie) falls back to the exact decimal expansion;
    * everywhere else `floor(scaled + 0.5)` picks the same digit the exact
    * expansion does, and `f / 10^prec` is the correctly-rounded double of the
    * exact decimal f*10^-prec (10^prec is integer-exact for prec <= 15 and
    * IEEE division rounds once). Scores here are cosines in [0, ~1], so the
    * 1e-6 band at scaled <= 10^prec <= 2^50 dwarfs the actual error bound.
    */
  def roundHalfUp(x: Double, prec: Int): Double =
    // HALF_UP is symmetric (ties round away from zero) and BigDecimal
    // negation/toDouble are sign-exact, so negatives reduce to the positive
    // case; ±0.0 both yield +0.0, matching BigDecimal.valueOf(-0.0) == "0.0"
    if (x == 0.0) 0.0
    else if (x < 0.0) {
      // a negative rounding to zero must still be +0.0 (BigDecimal "0.00")
      val r = roundHalfUpPos(-x, prec)
      if (r == 0.0) 0.0 else -r
    } else roundHalfUpPos(x, prec)

  private def roundHalfUpPos(x: Double, prec: Int): Double = {
    if (prec < 0 || prec > 15 || !(x <= 4.0e15)) return roundExact(x, prec)
    val scaled = x * POW10(prec)
    if (scaled >= 4.0e15) return roundExact(x, prec) // nearing 2^52: spacing > 0.5
    val y = scaled + 0.5
    val f = math.floor(y)
    if (y - f < 1e-6 || (f + 1.0) - y < 1e-6) roundExact(x, prec)
    else f / POW10(prec)
  }

  /** Reusable per-task scratch: per-block primitive score accumulators plus
    * a growable touched-index buffer. NOT thread-safe — one instance per
    * task/partition.
    *
    * The per-block score arrays are an LRU cache capped at [[MaxCachedBlocks]]
    * entries: without a cap, a long-lived task (one scratch serves every row
    * of a partition) touching many blocks would pin sum(nRows)*8 bytes of
    * accumulators. Rows are typically block-clustered,
    * so evictions are rare; an evicted block's array is simply re-allocated
    * (and re-zeroed by construction) on its next touch.
    */
  final class Scratch {
    val blockScores: java.util.LinkedHashMap[String, Array[Double]] =
      new java.util.LinkedHashMap[String, Array[Double]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[Double]]): Boolean =
          size() > MaxCachedBlocks
      }
    var touched = new Array[Int](1024)
    def scoresFor(block: String, nRows: Int): Array[Double] = {
      var s = blockScores.get(block)
      if (s == null) { s = new Array[Double](nRows); blockScores.put(block, s) }
      s
    }
  }

  /** Upper bound on per-task cached score arrays (see [[Scratch]]). */
  final val MaxCachedBlocks = 32

  /** Score `sv` against the `block` sub-index of `gt`, filling bestS/bestG
    * (caller-allocated, size >= k) in (score DESC, gtUid ASC) order; returns
    * how many were filled. The per-block scratch scores array is left
    * re-zeroed for the next row.
    */
  def topK(gt: PackedGt, block: String, sv: SparseVector,
           k: Int, lb: Double, prec: Int, scratch: Scratch,
           bestS: Array[Double], bestG: Array[Int]): Int = {
    val scores = scratch.scoresFor(block, gt.nRows)
    var touched = scratch.touched
    var nTouched = 0
    var i = 0
    while (i < sv.indices.length) {
      val t = sv.indices(i)
      val q = sv.values(i)
      if (q != 0.0 && t < gt.nTerms) {
        var p = gt.indptr(t)
        val end = gt.indptr(t + 1)
        while (p < end) {
          val g = gt.indices(p)
          if (scores(g) == 0.0) {
            if (nTouched == touched.length) {
              touched = java.util.Arrays.copyOf(touched, nTouched * 2)
              scratch.touched = touched
            }
            touched(nTouched) = g
            nTouched += 1
          }
          scores(g) += q * gt.data(p)
          p += 1
        }
      }
      i += 1
    }
    // round + threshold + top-k selection (small k: insertion into sorted buffer)
    var nBest = 0
    var j = 0
    while (j < nTouched) {
      val g = touched(j)
      val s = roundHalfUp(scores(g), prec)
      scores(g) = 0.0 // reset for next row
      if (s >= lb) {
        // find insert position among current best (score desc, gtUid asc)
        var pos = nBest
        while (pos > 0 && {
          val ps = bestS(pos - 1)
          ps < s || (ps == s && gt.gtUids(bestG(pos - 1)) > gt.gtUids(g))
        }) pos -= 1
        if (pos < k) {
          val last = math.min(nBest, k - 1)
          var m = last
          while (m > pos) { bestS(m) = bestS(m - 1); bestG(m) = bestG(m - 1); m -= 1 }
          bestS(pos) = s
          bestG(pos) = g
          if (nBest < k) nBest += 1
        }
      }
      j += 1
    }
    nBest
  }
}

/** Cosine-similarity top-k indexer — the core candidate-generation operator.
  *
  * Re-expresses the reference's broadcast top-k similarity join
  * (/root/reference/emm/indexing/spark_cos_sim_matcher.py:601-719 with the
  * `awesome_cossim_topn` C++ kernel at :295-415): the TF-IDF-vectorized ground
  * truth is collected once, packed into a primitive-array inverted index,
  * broadcast to all executors, and every partition of names streams through a
  * Scala kernel that accumulates per-GT dot products term-by-term and keeps
  * the top-k above a lower bound. No shuffle of the GT side, no N×M join:
  * cost is O(sum of postings touched), the same asymptotics as the reference.
  *
  * Scale notes (100 TB design): the names side stays fully distributed and
  * never shuffles — candidate generation is map-only. The GT side must fit on
  * executors like the reference's design point (10M names ≈ a few GB packed);
  * beyond that, `blockingFunc` splits the GT into per-key sub-indexes and the
  * kernel only scores the matching block.
  *
  * Scores are rounded to `scorePrecision` decimals (HALF_UP, same as Spark's
  * `round`) before ranking so that ordering and thresholding are stable across
  * engines and summation orders.
  */
final class CosSimIndexer(
    val tokenizer: String = "words",
    val ngram: Int = 1,
    val binary: Boolean = true,
    val numCandidates: Int = 10,
    val lowerBound: Double = 0.5,
    val vocabSize: Int = 1 << 25,
    val blockingFunc: Option[String] = None, // e.g. "first", "first2", "first3"
    val scorePrecision: Int = 9,
    val uidCol: String = Cols.Uid,
    val gtUidCol: String = Cols.GtUid,
    val inputCol: String = Cols.Preprocessed) extends NameIndexer with Serializable {

  /** Copy with a different candidate count (training window widening). */
  def withNumCandidates(k: Int): CosSimIndexer =
    new CosSimIndexer(tokenizer, ngram, binary, k, lowerBound, vocabSize,
      blockingFunc, scorePrecision, uidCol, gtUidCol, inputCol)

  private[graft] def blockCol(df: DataFrame): DataFrame = blockingFunc match {
    case None => df.withColumn("block", lit(""))
    case Some(f) =>
      val k = f match {
        case "first"  => 1
        case "first2" => 2
        case "first3" => 3
        case other    => throw new IllegalArgumentException(s"unknown blocking func: $other")
      }
      df.withColumn("block", lower(substring(trim(col(inputCol)), 1, k)))
  }

  def fit(gt: DataFrame): CosSimIndexerModel = {
    val vec   = new TfidfVectorizer(tokenizer, ngram, binary, vocabSize, inputCol)
    val model = vec.fit(gt)
    val gtVec = blockCol(model.transform(gt))
      .select(col(uidCol).cast("long"), col("features"), col("block"))
    // executor -> driver boundary: collect the (small relative to names) GT
    // matrix once, like the reference (spark_cos_sim_matcher.py:690-714)
    val nTerms = model.vocabularySize
    val collected = gtVec.collect().map(r =>
      (r.getString(2), (r.getLong(0), r.getAs[SparseVector](1))))
    val packed: Map[String, PackedGt] =
      collected.groupBy(_._1).map { case (b, rows) => b -> PackedGt.build(rows.map(_._2), nTerms) }
    val bc = graft.BroadcastLifecycle.track(gt.sparkSession.sparkContext.broadcast(packed))
    new CosSimIndexerModel(this, model, bc)
  }
}

final class CosSimIndexerModel(
    val indexer: CosSimIndexer,
    val tfidf: TfidfModel,
    val gtBc: Broadcast[Map[String, PackedGt]]) extends NameIndexerModel {

  override def widen: CosSimIndexerModel =
    new CosSimIndexerModel(indexer.withNumCandidates(indexer.numCandidates + 1), tfidf, gtBc)

  /** Destroy the broadcast GT index AND the fit-time term index + idf
    * broadcast (reference `_unpersist`, spark_cos_sim_matcher.py via
    * spark_entity_matching.py:682-690). Widened copies share `gtBc` and
    * `tfidf`, so releasing either kills both; transform after release throws.
    */
  override def release(): Unit = {
    graft.BroadcastLifecycle.release(gtBc)
    tfidf.release()
  }

  private val outSchema = StructType(Seq(
    StructField(indexer.uidCol, LongType, nullable = false),
    StructField(indexer.gtUidCol, LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("rank", IntegerType, nullable = false)))

  /** names(uid, preprocessed) -> (uid, gt_uid, score, rank), top-k per uid.
    * Map-only, so the same plan runs on batch and streaming frames.
    */
  def transform(names: DataFrame): DataFrame = {
    val input = indexer.blockCol(names)
      .select(col(indexer.uidCol).cast("long"), col(indexer.inputCol), col("block"))
    val bc    = gtBc
    val tf    = tfidf
    val k     = indexer.numCandidates
    val lb    = indexer.lowerBound
    val prec  = indexer.scorePrecision
    input.mapPartitions { rows =>
      // per-task scratch accumulator reused across rows (see CosSimKernel)
      val scratch = new CosSimKernel.Scratch
      val bestS = new Array[Double](k)
      val bestG = new Array[Int](k)
      rows.flatMap { r =>
        val block = r.getString(2)
        bc.value.get(block) match {
          case None => Iterator.empty
          case Some(gt) =>
            val uid   = r.getLong(0)
            val nBest = CosSimKernel.topK(gt, block, tf.vectorize(r.getString(1)),
              k, lb, prec, scratch, bestS, bestG)
            Iterator.tabulate(nBest)(i => Row(uid, gt.gtUids(bestG(i)), bestS(i), i + 1))
        }
      }
    }(Encoders.row(outSchema))
  }
}
