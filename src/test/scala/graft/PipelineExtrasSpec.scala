package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.idx.CosSimIndexer
import graft.ml.{Thresholds, TrainData}
import graft.sources.Sources

class PipelineExtrasSpec extends SparkSpec {
  import spark.implicits._

  test("csv round-trip with ';' separator") {
    val dir = Files.createTempDirectory("graftcsv").toString
    val df  = Seq((1L, "Acme B.V."), (2L, "Widget; GmbH")).toDF("id", "name")
    Sources.writeCsv(df, s"$dir/out", sep = ";")
    val back = Sources.readCsv(spark, s"$dir/out", sep = ";")
    assert(back.count() == 2)
    assert(back.columns.toSet == Set("id", "name"))
  }

  test("binaryFile source reads bytes + metadata") {
    val dir = Files.createTempDirectory("graftbin")
    Files.write(dir.resolve("blob.bin"), Array[Byte](1, 2, 3, 4))
    val df = Sources.readBinaryFiles(spark, dir.toString)
    val row = df.select("length", "content").head
    assert(row.getLong(0) == 4L)
    assert(row.getAs[Array[Byte]](1).toSeq == Seq[Byte](1, 2, 3, 4))
  }

  test("threshold curves + decide") {
    val scored = Seq((0.9, true), (0.8, true), (0.7, false), (0.2, false))
      .toDF("s", "y")
    val curves = Thresholds.curves(scored, "s", "y", steps = 10)
    assert(curves.count() == 11)
    val thr = Thresholds.decide(curves, "precision", 1.0)
    assert(thr.exists(t => t > 0.7 && t <= 0.8)) // first threshold excluding the 0.7 FP
  }

  test("grouped split keeps groups intact") {
    val df = (1 to 1000).map(i => (i, i % 50)).toDF("row", "grp")
    val (train, test) = TrainData.groupedSplit(df, "grp", 0.3)
    assert(train.count() + test.count() == 1000)
    val overlap = train.select("grp").distinct()
      .join(test.select("grp").distinct(), "grp").count()
    assert(overlap == 0)
    assert(test.count() > 100) // roughly a quarter-ish of rows
  }

  test("noiser is deterministic and perturbs") {
    val n1 = TrainData.noise("globex corporation holdings", 7L)
    val n2 = TrainData.noise("globex corporation holdings", 7L)
    assert(n1 == n2)
    assert(n1 != "globex corporation holdings")
  }

  test("model persistence round-trip") {
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey").as("id"), col("p_name").as("company"),
              col("p_brand").as("brand"))
    val matcher = EntityMatching(
      EmParams(nameCol = "company", entityIdCol = "brand", uidCol = "id"),
      indexers = Seq(new CosSimIndexer(numCandidates = 3, lowerBound = 0.3)))
    val model = matcher.fit(parts)
    val dir = Files.createTempDirectory("graftmodel").toString + "/model"
    Persistence.save(model, dir)
    val loaded = Persistence.load(spark, dir)
    val a = model.transform(parts.limit(10)).select("uid", "gt_uid", Cols.score(0))
    val b = loaded.transform(parts.limit(10)).select("uid", "gt_uid", Cols.score(0))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("persistence round-trips carry-on cols, aggregation config and extra features") {
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey").as("id"), col("p_name").as("company"),
              col("p_brand").as("brand"), col("p_type").as("country"))
    val matcher = EntityMatching(
      EmParams(nameCol = "company", entityIdCol = "brand", uidCol = "id",
        carryOnCols = Seq("country"),
        aggregationMethod = Some("mean_score"), checkUid = true),
      indexers = Seq(new CosSimIndexer(numCandidates = 3, lowerBound = 0.3)))
    val model = matcher.fit(parts)
    model.fitClassifier(parts.limit(80))
    val dir = Files.createTempDirectory("graftmodel2").toString + "/model"
    Persistence.save(model, dir)
    val loaded = Persistence.load(spark, dir)
    val lp = loaded.matcher.params
    assert(lp.carryOnCols == Seq("country") &&
      lp.aggregationMethod.contains("mean_score") && lp.checkUid)
    assert(loaded.supervised.get.layer.extraFeatureCols == Seq("country"))
    // the loaded supervised layer must be able to SCORE (the extra equality
    // feature has to be regenerated for the persisted VectorAssembler)
    val a = model.transform(parts.limit(10))
      .select("uid", "gt_uid", Cols.NmScore)
    val b = loaded.transform(parts.limit(10))
      .select("uid", "gt_uid", Cols.NmScore)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("addAggregationLayer survives persistence") {
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey").as("id"), col("p_name").as("company"))
    val model = EntityMatching(
      EmParams(nameCol = "company", uidCol = "id"),
      indexers = Seq(new CosSimIndexer(numCandidates = 2, lowerBound = 0.3)))
      .fit(parts)
      .addAggregationLayer("mean_score")
    val dir = Files.createTempDirectory("graftmodel3").toString + "/model"
    Persistence.save(model, dir)
    val loaded = Persistence.load(spark, dir)
    assert(loaded.effectiveAggregationMethod.contains("mean_score"))
  }
}
