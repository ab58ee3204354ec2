package graft.idx

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.linalg.{SparseVector, Vector}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Normalized TF-IDF vectorizer for name matching.
  *
  * Semantics of the reference's vectorizer pipeline (emm/indexing
  * spark_cos_sim_matcher.py, spark_normalized_tfidf.py and
  * pandas_normalized_tfidf.py), with Spark ML's RegexTokenizer / NGram /
  * CountVectorizer / IDF conventions:
  *
  *  - tokenize: lowercase (`toLowerCase()`), then every match of the token
  *    pattern (word: runs of [letter|digit]; char: every character);
  *  - n-grams: n consecutive tokens joined by a space, none when a name has
  *    fewer than n tokens;
  *  - vocabulary: the GT's n-grams by total occurrence count descending, then
  *    term ascending, capped at `vocabSize`;
  *  - tf: occurrence counts of in-vocabulary n-grams (1.0 each when `binary`);
  *  - idf = ln((m+1)/(df+1)), m = GT rows, df = GT rows holding the term
  *    (Spark IDF's smoothed formula == sklearn's smoothed idf minus 1, which
  *    is what the reference aligns both to);
  *  - L2 normalization that accounts for out-of-vocabulary tokens: each OOV
  *    token contributes max(idf)^2 to the squared norm, so names full of
  *    unseen tokens get proportionally lower scores. Indices ascend and the
  *    squared norm is summed in index order.
  *
  * Fit is one term-count aggregate over the GT; the term index and the idf
  * ship together in one tracked broadcast. An empty vocabulary (empty GT, or
  * no name long enough for an n-gram) vectorizes every name to zero.
  *
  * We keep weights in double (not the reference's float32): exact IEEE doubles
  * are what the DuckDB oracle computes, and the broadcast size stays modest.
  */
final class TfidfVectorizer(
    val tokenizer: String = "words", // "words" | "characters"
    val ngram: Int = 1,
    val binary: Boolean = true,
    val vocabSize: Int = 1 << 25,
    val inputCol: String = graft.Cols.Preprocessed,
    val outputCol: String = "features") extends Serializable {

  private val pattern = java.util.regex.Pattern.compile(
    if (tokenizer == "words") "[\\p{IsAlphabetic}\\p{Digit}]+" else ".")

  /** Lowercased pattern matches of `text`; a null name has no tokens. */
  def tokens(text: String): Array[String] = {
    if (text == null) return Array.empty
    val m = pattern.matcher(text.toLowerCase())
    val out = Array.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  /** Runs of `ngram` consecutive tokens joined by a space. */
  def ngrams(toks: Array[String]): Array[String] =
    if (ngram == 1) toks
    else Array.tabulate(math.max(toks.length - ngram + 1, 0))(
      i => toks.slice(i, i + ngram).mkString(" "))

  /** The n-grams of `text`: the one tokenize-plus-n-gram step of fit and
    * transform.
    */
  def grams(text: String): Array[String] = ngrams(tokens(text))

  def fit(gt: DataFrame): TfidfModel = {
    val termCounts = udf((text: String) => grams(text).groupMapReduce(identity)(_ => 1L)(_ + _))
    // one row per term: total occurrences and the number of GT rows holding it
    val stats = gt.select(explode(termCounts(col(inputCol))).as(Seq("term", "n")))
      .groupBy("term").agg(sum("n"), count(lit(1)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (term, n, _) => (-n, term) }
      .take(vocabSize)
    val m = gt.count()
    val terms = new TfidfTerms(stats.map(_._1),
      stats.map { case (_, _, df) => math.log((m + 1.0) / (df + 1.0)) })
    new TfidfModel(this,
      graft.BroadcastLifecycle.track(gt.sparkSession.sparkContext.broadcast(terms)))
  }
}

/** A fitted vocabulary and its idf weights: column j is `vocabulary(j)`. */
final class TfidfTerms(val vocabulary: Array[String], val idf: Array[Double])
    extends Serializable {
  val maxIdfSq: Double = if (idf.isEmpty) 0.0 else { val m = idf.max; m * m }

  /** term -> column, built once per deserialized copy. */
  @transient lazy val index: java.util.HashMap[String, Integer] = {
    val h = new java.util.HashMap[String, Integer](vocabulary.length * 2)
    vocabulary.indices.foreach(j => h.put(vocabulary(j), j))
    h
  }
}

final class TfidfModel(
    vec: TfidfVectorizer,
    val termsBc: Broadcast[TfidfTerms]) extends Serializable {

  def vocabulary: Array[String] = termsBc.value.vocabulary

  def vocabularySize: Int = vocabulary.length

  /** The fitted idf weights (driver-side view of the broadcast). */
  def idf: Array[Double] = termsBc.value.idf

  /** Destroy the fit-time term index + idf broadcast; the model is dead
    * afterwards. Called from `CosSimIndexerModel.release()` so the lifecycle
    * covers every broadcast a fitted cos-sim stack owns.
    */
  def release(): Unit = graft.BroadcastLifecycle.release(termsBc)

  /** Counts of the in-vocabulary `grams` by ascending column. */
  private def termFreq(grams: Array[String]): SparseVector = {
    val terms = termsBc.value
    val cols = new Array[Int](grams.length)
    var n = 0
    grams.foreach { g =>
      val j = terms.index.get(g)
      if (j != null) { cols(n) = j; n += 1 }
    }
    java.util.Arrays.sort(cols, 0, n)
    val indices = new Array[Int](n)
    val values = new Array[Double](n)
    var d = 0
    var i = 0
    while (i < n) {
      if (d > 0 && indices(d - 1) == cols(i)) { if (!vec.binary) values(d - 1) += 1.0 }
      else { indices(d) = cols(i); values(d) = 1.0; d += 1 }
      i += 1
    }
    new SparseVector(terms.vocabulary.length,
      java.util.Arrays.copyOf(indices, d), java.util.Arrays.copyOf(values, d))
  }

  /** OOV-aware L2-normalized tf-idf of `tf`, the term counts of `grams`. */
  private def features(tf: SparseVector, grams: Array[String]): SparseVector = {
    val terms = termsBc.value
    val nAll =
      if (vec.binary) { val s = new java.util.HashSet[String](); grams.foreach(s.add); s.size }
      else grams.length
    var matched = 0.0
    var sumSq = 0.0
    val vals = new Array[Double](tf.indices.length)
    var i = 0
    while (i < vals.length) {
      matched += tf.values(i)
      val v = tf.values(i) * terms.idf(tf.indices(i))
      vals(i) = v
      sumSq += v * v
      i += 1
    }
    val oov = math.max(nAll - matched, 0.0)
    val norm = math.max(math.sqrt(sumSq + oov * terms.maxIdfSq), 1e-9)
    i = 0
    while (i < vals.length) { vals(i) /= norm; i += 1 }
    new SparseVector(tf.size, tf.indices, vals)
  }

  /** The normalized `features` vector of one name. */
  private[idx] def vectorize(text: String): SparseVector = {
    val g = vec.grams(text)
    features(termFreq(g), g)
  }

  /** Adds the `tokens`, `ngram_tokens`, `tf` and normalized `features` columns. */
  def transform(df: DataFrame): DataFrame = {
    val toks = udf((text: String) => vec.tokens(text))
    val grams = udf((t: Seq[String]) => vec.ngrams(t.toArray))
    val tf = udf((g: Seq[String]) => termFreq(g.toArray): Vector)
    val norm = udf((v: Vector, g: Seq[String]) => features(v.toSparse, g.toArray): Vector)
    df.withColumn("tokens", toks(col(vec.inputCol)))
      .withColumn("ngram_tokens", grams(col("tokens")))
      .withColumn("tf", tf(col("ngram_tokens")))
      .withColumn(vec.outputCol, norm(col("tf"), col("ngram_tokens")))
  }
}
