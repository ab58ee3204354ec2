package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{BroadcastLifecycle, Cols, EmParams, EntityMatching, EntityMatchingModel}
import graft.agg.EntityAggregation
import graft.features.Vocabulary
import graft.idx._
import graft.ml.SupervisedLayer
import graft.preprocess.Preprocessor
import graft.streaming.StreamingMatch

/** End-to-end matcher benchmark. One JVM runs one workload for one seed:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --source-sha SHA
  *
  * Load shape: one process, `local[nproc]`, shuffle partitions = nproc, one
  * client in a closed loop (the next op starts when the previous one has
  * finished). Every timed op is forced with a `noop` write, not `count()`,
  * so the optimizer cannot drop work. The program only ever sees the parquet
  * files the generator wrote in setup; the truth is joined after the op.
  *
  * The last stdout line is the result object; the `#` lines before it are
  * the run record. The exit code is 1 when an output check failed.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, sourceSha: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      new File(m("work")), m.getOrElse("source-sha", "unknown"))
  }

  def main(args: Array[String]): Unit = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val o = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try new Bench(spark, o, nproc, sessionS).run()
      finally spark.stop()
    System.exit(code)
  }
}

/** Workload sizes, chosen so that a run of the benchmark's length holds
  * several ops and every run of both workloads fits the time budget.
  */
object Sizes {
  // gt_index: fit on GT + transform of a small batch
  val IndexEntities = 4000L
  val IndexNames = 1000L
  // match_batch: transform of one single-file batch against a GT fitted in setup
  val BatchEntities = 7000L
  val BatchNames = 2000L
  // traced run: supervised layers and one stream micro-batch on every workload
  val TraceTrain = 300L
  val TraceAccounts = 200L
  val StreamBatch = 500
  val SetupReps = 3
  // the JIT keeps speeding ops up for several ops: the untimed check pass
  // plus at least one op warm up for this long
  val WarmupSeconds = 6.0
  val MinOps = 3
  val TraceOps = 2
}

final class Bench(spark: SparkSession, o: Main.Opts, nproc: Int, sessionS: Double) {
  import Sizes._

  private val sc = spark.sparkContext
  private val gen = new Gen(spark, o.seed)
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = cpuBean.getProcessCpuTime
  private def dir(name: String): File = new File(o.work, name)
  private def path(name: String): String = dir(name).getAbsolutePath
  private def read(name: String): DataFrame = spark.read.parquet(path(name))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def write(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(path(name))

  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private val problems = mutable.ArrayBuffer.empty[String]
  private def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ---------------------------------------------------------------- inputs

  /** Write a generated names frame as matcher input (`keep` columns) and
    * its truth table (uid, entity_id, in_gt, kind) beside it.
    */
  private def writeNames(df: DataFrame, name: String, nEntities: Long,
                         keep: Seq[String] = Seq("uid", "name")): Seq[String] = {
    write(df.select(keep.map(col): _*), name)
    write(df.select(col("uid"), col("entity_id"), (col("entity_id") < nEntities).as("in_gt"),
      col("kind")), s"$name.truth")
    Seq(name, s"$name.truth")
  }

  private def genGt(nEntities: Long): Seq[String] = {
    write(gen.groundTruth(nEntities, nproc), "gt")
    Seq("gt")
  }

  // ----------------------------------------------------------------- model

  private def fitDefault(): EntityMatchingModel = EntityMatching().fit(read("gt"))

  private def cosModels(m: EntityMatchingModel): Seq[CosSimIndexerModel] =
    m.candidateModel.models.collect { case c: CosSimIndexerModel => c }

  /** Bytes of the fitted broadcast state: packed GT arrays plus idf. */
  private def indexBytes(m: CosSimIndexerModel): Long =
    m.gtBc.value.values.map(p =>
      p.indptr.length * 4L + p.indices.length * 4L + p.data.length * 8L + p.gtUids.length * 8L).sum +
      m.tfidf.idf.length * 8L

  /** The matcher's own normalize on inputs that carry a uid under the
    * default column names is exactly the preprocessing pipeline.
    */
  private def preprocess(df: DataFrame): DataFrame = Preprocessor(df, EmParams().preprocessPipeline)

  // ---------------------------------------------------------------- checks

  /** Candidate invariants on a candidate-level matcher output: one row per
    * (uid, gt_uid), or a single null row for a name without candidates.
    */
  private def checkCandidates(out: DataFrame, inputNames: Long, label: String): Unit = {
    val r = out.groupBy(Cols.Uid).agg(
        count(when(col(Cols.GtUid).isNull, 1)).as("n_null"),
        count(col(Cols.GtUid)).as("n_cand"),
        countDistinct(col(Cols.GtUid)).as("n_distinct"))
      .agg(count(lit(1)), sum(when(col("n_null") > 1, 1).otherwise(0)),
        sum(when(col("n_null") === 1 && col("n_cand") > 0, 1).otherwise(0)),
        sum(when(col("n_cand") =!= col("n_distinct"), 1).otherwise(0))).head()
    check(r.getLong(0) == inputNames, s"$label: ${r.getLong(0)} of $inputNames input names in the output")
    check(r.getLong(1) == 0, s"$label: ${r.getLong(1)} names with several no-candidate rows")
    check(r.getLong(2) == 0, s"$label: ${r.getLong(2)} names with a no-candidate row and candidates")
    check(r.getLong(3) == 0, s"$label: ${r.getLong(3)} names with a duplicate (uid, gt_uid)")
    EntityMatching.defaultIndexers.zipWithIndex.foreach {
      case (c: CosSimIndexer, i) =>
        val bad = out.filter(col(Cols.rank(i)) > c.numCandidates ||
          col(Cols.score(i)) < c.lowerBound || col(Cols.score(i)) > 1.0).count()
        check(bad == 0, s"$label: $bad cos-sim rows of indexer $i outside rank <= k, score in [lb, 1]")
      case (s: SniIndexer, i) =>
        val bad = out.filter(col(Cols.rank(i)) > s.window || col(Cols.score(i)) <= 0.0 ||
          col(Cols.score(i)) > 1.0).count()
        check(bad == 0, s"$label: $bad SNI rows of indexer $i outside rank <= w, score in (0, 1]")
      case _ =>
    }
  }

  /** Share of names whose entity is in GT with a candidate of that entity. */
  private def candidateRecall(out: DataFrame, truth: DataFrame): Double = {
    val inGt = truth.filter(col("in_gt"))
    val hit = out.filter(col(Cols.GtUid).isNotNull)
      .select(col(Cols.Uid), col(Cols.GtEntityId)).distinct()
      .join(inGt, Seq(Cols.Uid))
      .filter(col(Cols.GtEntityId) === col("entity_id"))
      .select(Cols.Uid).distinct().count()
    hit.toDouble / inGt.count()
  }

  // ------------------------------------------------------------- workloads

  private trait Workload {
    /** Generate inputs and fit what the op reuses; returns the input
      * directories, which the digest covers.
      */
    def setup(): Seq[String]
    def namesPerOp: Long
    def op(): Unit
    def afterOp(): Unit = clearCaches()
    /** Run `f` on a model fitted on this workload's GT (untimed checks). */
    def withModel[T](f: EntityMatchingModel => T): T
    def names: String
    def inputNames: Long
  }

  /** Op = default-indexer fit on GT plus transform of a small batch: the
    * fit layers at work.
    */
  private final class GtIndex extends Workload {
    private var fitted: Option[EntityMatchingModel] = None
    def setup(): Seq[String] =
      genGt(IndexEntities) ++ writeNames(gen.names(0, IndexNames, IndexEntities, 1), "names", IndexEntities)
    lazy val namesPerOp: Long = read("gt").count()
    def op(): Unit = {
      val m = fitDefault()
      fitted = Some(m)
      noop(m.transform(read("names")))
    }
    override def afterOp(): Unit = {
      fitted.foreach(_.release())
      fitted = None
      BroadcastLifecycle.releaseAll()
      clearCaches()
    }
    def withModel[T](f: EntityMatchingModel => T): T = {
      fitted = Some(fitDefault())
      try f(fitted.get) finally afterOp()
    }
    def names: String = "names"
    def inputNames: Long = IndexNames
  }

  /** Op = transform of one single-file batch against a GT fitted in
    * setup: kernel, SNI and merge; the fit does not run.
    */
  private final class MatchBatch extends Workload {
    var model: EntityMatchingModel = _
    def setup(): Seq[String] = {
      if (model != null) { model.release(); BroadcastLifecycle.releaseAll(); clearCaches() }
      val dirs = genGt(BatchEntities) ++
        writeNames(gen.names(0, BatchNames, BatchEntities, 1), "batch", BatchEntities)
      model = fitDefault()
      dirs
    }
    def withModel[T](f: EntityMatchingModel => T): T = f(model)
    def namesPerOp: Long = BatchNames
    def op(): Unit = noop(model.transform(read("batch")))
    def names: String = "batch"
    def inputNames: Long = BatchNames
  }

  private def workload(name: String): Workload = name match {
    case "gt_index"    => new GtIndex
    case "match_batch" => new MatchBatch
    case other         => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  // ------------------------------------------------------------------ run

  private var attempted = 0
  private var failed = 0

  /** One op, counted; returns its wall seconds and process CPU ns. */
  private def timedOp(w: Workload): Option[(Double, Long)] = {
    attempted += 1
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val res =
      try { w.op(); Some(((System.nanoTime() - t0) / 1e9, cpuNs() - c0)) }
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"op $attempted failed: $e")
        None
      }
    w.afterOp()
    res
  }

  /** Closed loop: ops back to back until the time is up and MinOps ops have
    * completed.
    */
  private def loop(w: Workload): Seq[(Double, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Long)]
    val start = System.nanoTime()
    while (((System.nanoTime() - start) / 1e9 < o.seconds || out.size < MinOps) && failed <= 3)
      out ++= timedOp(w)
    out.toSeq
  }

  private def json(metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def run(): Int = {
    val w = workload(o.workload)
    // warm the session: codegen, shuffle and parquet paths
    noop(spark.range(2000000).selectExpr("id % 97 as k").groupBy("k").count())

    val setups = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.ArrayBuffer.empty[String]
    (0 until (if (o.trace) 1 else SetupReps)).foreach { _ =>
      val t = System.nanoTime()
      val dirs = w.setup()
      setups += (System.nanoTime() - t) / 1e9
      digests += Gen.digest(spark, dirs.map(dir))
    }
    check(digests.distinct.size == 1, s"generator: one seed gave different inputs ${digests.distinct}")
    // untimed output checks; they also warm the op's code paths
    val warm = System.nanoTime()
    val (recall, indexMb) = w.withModel { m =>
      val out = m.transform(read(w.names)).localCheckpoint()
      checkCandidates(out, w.inputNames, o.workload)
      (candidateRecall(out, read(s"${w.names}.truth")), cosModels(m).map(indexBytes).sum / 1e6)
    }
    clearCaches()
    var warmOps = 0
    while (warmOps < 1 || (System.nanoTime() - warm) / 1e9 < WarmupSeconds) {
      w.op(); w.afterOp(); warmOps += 1
    }

    val metrics = if (o.trace) traced(w) else {
      val ops = loop(w)
      val walls = ops.map(_._1)
      val names = ops.size * w.namesPerOp
      println(s"# op_s samples ${walls.mkString(" ")}")
      Seq(
        ("setup_s", median(setups.toSeq), "s"),
        ("op_s", median(walls), "s"),
        ("names_per_s", names / walls.sum, "1/s"),
        ("cpu_s_per_kname", ops.map(_._2).sum / 1e9 / (names / 1000.0), "s"))
    }

    val all = if (o.trace) metrics
      else metrics ++ Seq(("index_mb", indexMb, "MB"), ("candidate_recall", recall, "ratio"))

    val record =
      s"""{"workload": "${o.workload}", "seed": ${o.seed}, "trace": ${o.trace}, "nproc": $nproc, """ +
        s""""heap_mb": ${Runtime.getRuntime.maxMemory / (1 << 20)}, "spark": "${spark.version}", """ +
        s""""source_sha": "${o.sourceSha}", "input_digest": "${digests.head}", """ +
        s""""session_s": $sessionS, "setup_reps_s": [${setups.mkString(", ")}], """ +
        s""""failed_ratio": ${failed.toDouble / math.max(attempted, 1)}}"""
    println(s"# record $record")
    problems.foreach(p => println(s"# check failed: $p"))
    val correct = problems.isEmpty
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${json(all)}}""")
    if (correct) 0 else 1
  }

  // ------------------------------------------------------------ traced run

  /** Traced run: the op alternately untraced and inside a span (the
    * difference of the medians is the tracing overhead), then one span per
    * layer. Spans are written to trace-<workload>-<seed>.json in the work
    * directory when the run ends.
    */
  private def traced(w: Workload): Seq[(String, Double, String)] = {
    val tr = new Tracer(sc)
    val plain = mutable.ArrayBuffer.empty[Double]
    val tagged = mutable.ArrayBuffer.empty[Span]
    (0 until TraceOps).foreach { i =>
      plain ++= timedOp(w).map(_._1)
      attempted += 1
      tagged += tr.span("op", i)(w.op())._2
      w.afterOp()
    }
    val out = mutable.ArrayBuffer[(String, Double, String)](
      ("trace_overhead_s", median(tagged.map(_.wallS).toSeq) - median(plain.toSeq), "s"),
      ("scan_amplification", median(tagged.map(_.stats.rowsRead.toDouble).toSeq) / w.namesPerOp, "ratio"))
    out ++= layers(tr, w)
    java.nio.file.Files.write(new File(o.work, s"trace-${o.workload}-${o.seed}.json").toPath,
      tr.toJson.getBytes("UTF-8"))
    tr.close()
    out.toSeq
  }

  private def counters(s: Span): Seq[(String, Double, String)] = Seq(
    (s"${s.name}.wall_s", s.wallS, "s"),
    (s"${s.name}.exec_cpu_s", s.stats.execCpuNs / 1e9, "s"),
    (s"${s.name}.driver_s", s.driverS, "s"),
    (s"${s.name}.jobs", s.stats.jobs.toDouble, "count"),
    (s"${s.name}.shuffle_mb", s.stats.shuffleWriteBytes / 1e6, "MB"),
    (s"${s.name}.spill_mb", s.stats.spillBytes / 1e6, "MB"),
    (s"${s.name}.rows_read", s.stats.rowsRead.toDouble, "count"))

  private val accountCols = Seq("uid", "name", "account", "counterparty_account_count_distinct")
  private val nameSchema = StructType(Seq(StructField("uid", LongType), StructField("name", StringType)))

  /** One span per layer. Each re-executes one public call on inputs
    * materialized with localCheckpoint, so layer spans do not add up to the
    * op. The supervised layers and the streaming path run on every workload
    * on fixed-size inputs of their own.
    */
  private def layers(tr: Tracer, w: Workload): Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def span[T](name: String)(body: => T): (T, Span) = {
      val r = tr.span(name, parent = Some("layers"))(body)
      out ++= counters(r._2)
      r
    }
    val gtIn = read("gt")
    val namesIn = read(w.names)
    span("preprocess") { noop(preprocess(gtIn)); noop(preprocess(namesIn)) }
    val gt = preprocess(gtIn).localCheckpoint()
    val names = preprocess(namesIn).localCheckpoint()

    val (wordIdx, charIdx, sniIdx) = EntityMatching.defaultIndexers match {
      case Seq(a: CosSimIndexer, b: CosSimIndexer, c: SniIndexer) => (a, b, c)
      case other => throw new IllegalStateException(s"unexpected default indexers $other")
    }
    val cos = Seq("word" -> wordIdx, "char" -> charIdx).map { case (tag, ix) =>
      val vec = new TfidfVectorizer(ix.tokenizer, ix.ngram, ix.binary, ix.vocabSize, ix.inputCol)
      val (tf, tfSpan) = span(s"tfidf_fit.$tag")(vec.fit(gt))
      out += ((s"tfidf_fit.$tag.vocab_terms", tf.vocabularySize.toDouble, "count"))
      tf.release()
      val (cm, fitSpan) = span(s"cossim_fit.$tag")(ix.fit(gt))
      out += ((s"cossim_fit.$tag.self_s", fitSpan.wallS - tfSpan.wallS, "s"))
      out += ((s"cossim_fit.$tag.index_mb", indexBytes(cm) / 1e6, "MB"))
      cm
    }
    val perIndexer = cos.zip(Seq("word", "char")).map { case (cm, tag) =>
      val s = span(s"cossim_transform.$tag")(noop(cm.transform(names)))._2
      val pairs = cm.transform(names).count().toDouble
      out += ((s"cossim_transform.$tag.postings_offered", postingsOffered(cm, names).toDouble, "count"))
      out += ((s"cossim_transform.$tag.pairs_out", pairs, "count"))
      (s, pairs)
    }
    val sni = sniIdx.fit(gt)
    val sniSpan = span("sni_transform")(noop(sni.transform(names)))._2
    val sniPairs = sni.transform(names).count().toDouble
    out += (("sni_transform.pairs_out", sniPairs, "count"))

    val cs = new CandidateSelectionModel(cos :+ sni, gt)
    val candSpan = span("candidates")(noop(cs.transform(names)))._2
    val cands = cs.transform(names).localCheckpoint()
    val pairsIn = perIndexer.map(_._2).sum + sniPairs
    val pairsOut = cands.filter(col(Cols.GtUid).isNotNull).count().toDouble
    out ++= Seq(
      ("candidates.pairs_in", pairsIn, "count"),
      ("candidates.pairs_out", pairsOut, "count"),
      ("candidates.no_candidate_names", cands.filter(col(Cols.GtUid).isNull).count().toDouble, "count"),
      ("candidates.dedup_ratio", pairsOut / pairsIn, "ratio"),
      ("candidates.self_s", candSpan.wallS - perIndexer.map(_._1.wallS).sum - sniSpan.wallS, "s"))

    // supervised layers and account aggregation
    val entities = gtIn.agg(max("entity_id")).head().getLong(0) + 1
    write(gen.names(1L << 41, TraceTrain, entities, 1, absentShare = false)
      .select("uid", "name", "entity_id"), "trace-train")
    writeNames(gen.accounts(TraceAccounts, entities, 1), "trace-accounts", entities, accountCols)
    val emm = new EntityMatchingModel(EntityMatching(), gt, cs)
    val pairs = span("training_pairs") {
      val p = emm.createTrainingPairs(read("trace-train")); noop(p); p
    }._1.localCheckpoint()
    val layer = new SupervisedLayer(cs.models.indices.map(Cols.score))
    span("pair_features") {
      val matched = pairs.filter(col(Cols.GtUid).isNotNull)
      noop(layer.addFeatures(matched, Vocabulary.fit(matched, Seq(Cols.Preprocessed, Cols.GtPreprocessed))))
    }
    val sm = span("classifier_fit")(layer.fit(pairs))._1
    val accCands = cs.transform(preprocess(read("trace-accounts"))).localCheckpoint()
    span("classifier_score")(noop(sm.transform(accCands)))
    val scored = sm.transform(accCands).localCheckpoint()
    span("aggregate")(noop(EntityAggregation.aggregate(scored, "max_frequency_nm_score")))
    out ++= supervisedQuality(scored, EntityAggregation.aggregate(scored, "max_frequency_nm_score"))

    // one micro-batch of the workload's names through the streaming path
    write(namesIn.limit(StreamBatch).coalesce(1), "trace-stream")
    def streamed(): DataFrame = {
      val pre = preprocess(spark.readStream.schema(nameSchema).parquet(path("trace-stream")))
      cos.zipWithIndex.map { case (cm, i) =>
        StreamingMatch.transformStreaming(cm, pre).withColumn("indexer", lit(i))
      }.reduce(_ unionByName _)
    }
    span("stream_batch") {
      streamed().writeStream.format("noop")
        .option("checkpointLocation", path(s"ckpt-${System.nanoTime()}"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    checkStreamParity(streamed(), cos, preprocess(read("trace-stream")))

    cos.foreach(_.release())
    clearCaches()
    out.toSeq
  }

  /** best_match precision and recall on the names of the trace accounts,
    * and the share of accounts whose aggregation winner is their entity.
    */
  private def supervisedQuality(scored: DataFrame, agg: DataFrame): Seq[(String, Double, String)] = {
    val truth = read("trace-accounts.truth")
    val best = scored.filter(col(Cols.BestMatch)).join(truth, Seq(Cols.Uid))
    val nBest = best.count()
    val nRight = best.filter(col(Cols.GtEntityId) === col("entity_id")).count()
    val nInGt = truth.filter(col("in_gt")).count()
    val accounts = read("trace-accounts").select("uid", "account").join(truth, "uid")
      .filter(col("in_gt")).select("account", "entity_id").distinct()
    val r = accounts.join(agg.select("account", Cols.GtEntityId), Seq("account"), "left")
      .agg(sum(when(col(Cols.GtEntityId) === col("entity_id"), 1).otherwise(0)), count(lit(1))).head()
    check(nBest > 0, "supervised scoring chose no best match")
    Seq(
      ("classifier_score.best_match_precision", nRight.toDouble / math.max(nBest, 1L), "ratio"),
      ("classifier_score.best_match_recall", nRight.toDouble / math.max(nInGt, 1L), "ratio"),
      ("aggregate.agg_precision", r.getLong(0).toDouble / math.max(r.getLong(1), 1L), "ratio"))
  }

  /** The streaming per-row path must give exactly the batch pairs. */
  private def checkStreamParity(stream: DataFrame, cos: Seq[CosSimIndexerModel], names: DataFrame): Unit = {
    val rows = mutable.ArrayBuffer.empty[Row]
    val collect: (DataFrame, Long) => Unit = (df, _) => rows ++= df.collect()
    stream.writeStream.foreachBatch(collect)
      .option("checkpointLocation", path(s"ckpt-${System.nanoTime()}"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val batch = cos.zipWithIndex.map { case (cm, i) =>
      cm.transform(names).withColumn("indexer", lit(i))
    }.reduce(_ unionByName _).collect()
    def tuple(r: Row) = (r.getAs[Int]("indexer"), r.getAs[Long](Cols.Uid), r.getAs[Int]("rank"),
      r.getAs[Long](Cols.GtUid), r.getAs[Double]("score"))
    val s = rows.map(tuple).sorted.toSeq
    val b = batch.map(tuple).sorted.toSeq
    check(s.nonEmpty && s == b, s"stream pairs (${s.size}) differ from batch pairs (${b.size})")
  }

  /** Sum over query terms of the posting-list length they address in the
    * packed GT block the kernel scores them against.
    */
  private def postingsOffered(cm: CosSimIndexerModel, names: DataFrame): Long = {
    val blockExpr = cm.indexer.blockingFunc match {
      case None => lit("")
      case Some(f) =>
        val k = Map("first" -> 1, "first2" -> 2, "first3" -> 3)(f)
        lower(substring(trim(col(cm.indexer.inputCol)), 1, k))
    }
    val packed = cm.gtBc.value
    cm.tfidf.transform(names).select(col("features"), blockExpr).collect().map { r =>
      packed.get(r.getString(1)).map { p =>
        val v = r.get(0).asInstanceOf[org.apache.spark.ml.linalg.Vector].toSparse
        v.indices.zip(v.values).collect {
          case (t, x) if x != 0.0 && t < p.nTerms => (p.indptr(t + 1) - p.indptr(t)).toLong
        }.sum
      }.getOrElse(0L)
    }.sum
  }
}
