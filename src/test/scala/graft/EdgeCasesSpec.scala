package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.Knn
import graft.data.Dedup
import graft.idx.{CandidateSelection, CosSimIndexer, SniIndexer}

/** Degenerate-input behavior: empty frames, single rows, ragged/zero vectors,
  * null text. Operators must return empty/deterministic results, not throw.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emptyNames = Seq.empty[(Long, String)].toDF(Cols.Uid, Cols.Preprocessed)
  private lazy val oneName    = Seq((1L, "acme corp")).toDF(Cols.Uid, Cols.Preprocessed)

  test("cossim indexer on empty names and empty gt") {
    val m = new CosSimIndexer(numCandidates = 3, lowerBound = 0.1).fit(oneName)
    assert(m.transform(emptyNames).count() == 0)
    val mEmpty = new CosSimIndexer(numCandidates = 3, lowerBound = 0.1).fit(emptyNames)
    assert(mEmpty.transform(oneName).count() == 0)
  }

  test("sni indexer on empty names") {
    val m = new SniIndexer(window = 2).fit(oneName)
    assert(m.transform(emptyNames).count() == 0)
  }

  test("candidate selection keeps a no-candidate row for an unmatchable name") {
    val gt = Seq((1L, "alpha beta")).toDF(Cols.Uid, Cols.Preprocessed)
      .withColumn(Cols.Name, col(Cols.Preprocessed))
      .withColumn(Cols.EntityId, lit("e1"))
    val nm = Seq((9L, "zzzz qqqq")).toDF(Cols.Uid, Cols.Preprocessed)
    val out = new CandidateSelection(Seq(
      new CosSimIndexer(numCandidates = 2, lowerBound = 0.99))).fit(gt).transform(nm)
    assert(out.count() == 1 && out.filter(col(Cols.GtUid).isNull).count() == 1)
  }

  test("dedup operators on empty and single-doc corpora") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val one   = Seq((1L, "only doc here now")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(empty, "text", "doc_id", k = 3, threshold = 0.1).count() == 0)
    assert(Dedup.ngramJaccardPairs(one, "text", "doc_id", k = 3, threshold = 0.1).count() == 0)
    assert(Dedup.minHashLshPairs(one, "text", "doc_id", k = 3).count() == 0)
    assert(Dedup.simHashPairs(one, "text", "doc_id").count() == 0)
    // null text hashes like empty, never throws
    val withNull = Seq((1L, null.asInstanceOf[String]), (2L, "real text words here"))
      .toDF("doc_id", "text")
    assert(Dedup.simHashPairs(withNull, "text", "doc_id").count() == 0)
  }

  test("knn kernels tolerate ragged and zero vectors") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = true)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, Seq(1.0f, 0.0f, 0.0f)),
      org.apache.spark.sql.Row(2L, Seq(1.0f, 0.0f)),        // ragged: shorter
      org.apache.spark.sql.Row(3L, Seq(0.0f, 0.0f, 0.0f)),  // zero norm
      org.apache.spark.sql.Row(4L, Seq(1.0f, 0.0f, 0.0f, 9.9f))) // ragged: longer
    val emb = spark.createDataFrame(rows, schema)
    val bf = Knn.bruteForceTopK(emb, emb, k = 4)
    assert(bf.count() > 0)
    // zero-padding semantics: the short vector scores as if padded, so the
    // identical-prefix vectors 1, 2 and 4 (truncated) are mutual cosine-1
    val top = bf.filter(col("query_id") === 1 && col("rank") === 1).head
    assert(top.getLong(1) == 1L)
    val ivf = Knn.ivfTopK(emb, emb, k = 2, nLists = 2, nProbe = 2)
    assert(ivf.count() > 0)
    assert(Knn.exactCosinePairs(emb, minCosine = 0.99).count() >= 3) // pairs among {1,2,4}
    assert(Knn.lshCosinePairs(emb, nBands = 2, bitsPerBand = 2, minCosine = 0.99).count() <= 3)
  }

  test("null embedding rows flow through every ANN path") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = true)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, Seq(1.0f, 0.0f)),
      org.apache.spark.sql.Row(2L, null),
      org.apache.spark.sql.Row(3L, Seq(0.9f, 0.1f)))
    val emb = spark.createDataFrame(rows, schema)
    assert(Knn.bruteForceTopK(emb, emb, k = 2).count() > 0)
    assert(Knn.exactCosinePairs(emb, 0.5).count() >= 1)
    assert(Knn.ivfTopK(emb, emb, k = 2, nLists = 2, nProbe = 2).count() > 0)
    assert(Knn.lshCosinePairs(emb, nBands = 2, bitsPerBand = 2, minCosine = 0.5).count() >= 0)
  }

  test("ragged vectors: all three IVF paths agree (zero-pad semantics)") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = true)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      org.apache.spark.sql.Row(2L, Seq(1.0f)),                  // short
      org.apache.spark.sql.Row(3L, Seq(1.0f, 0.0f, 0.0f, 9.9f)),
      org.apache.spark.sql.Row(4L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      org.apache.spark.sql.Row(5L, Seq(0.1f, 0.9f)))            // short
    val emb = spark.createDataFrame(rows, schema)
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val kernel = key(Knn.ivfTopK(emb, emb, k = 3, nLists = 2, nProbe = 1, seed = 5L).collect())
    val bucketed = key(Knn.ivfTopKBucketed(emb, emb, k = 3, nLists = 2, nProbe = 1, seed = 5L).collect())
    assert(kernel == bucketed, s"kernel=$kernel bucketed=$bucketed")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ragged_ivf"
    Knn.ivfWriteIndex(emb, path, nLists = 2, seed = 5L)
    val indexed = key(Knn.ivfTopKIndexed(emb, path, k = 3, nProbe = 1).collect())
    assert(kernel == indexed, s"kernel=$kernel indexed=$indexed")
  }

  test("training-pair assembly with null entity ids keeps every name") {
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey").cast("long").as(Cols.Uid),
              col("p_name").as(Cols.Name),
              when(col("p_partkey") % 7 === 0, lit(null))
                .otherwise(col("p_brand")).as(Cols.EntityId))
    val model = EntityMatching(EmParams(), Seq(
      new CosSimIndexer(numCandidates = 2, lowerBound = 0.5))).fit(parts)
    val nm = parts.filter(col(Cols.Uid) < 60)
    val pairs = model.createTrainingPairs(nm, createNegativeSampleFraction = 0.5)
    // null-entity names land in the negative set, they are never dropped
    assert(pairs.select(Cols.Uid).distinct().count() == nm.count())
    assert(pairs.filter(col(Cols.EntityId).isNull && col("positive_set")).count() == 0)
    assert(pairs.filter(col("correct").isNull).count() == 0)
  }
}
