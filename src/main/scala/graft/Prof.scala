package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-probe main (not part of the library surface): runs the
  * dedup/corpus family at 1x and 10x the bench corpus (sf0.1 x10 ~ sf1) and
  * prints one `PROF` rows-vs-time record per probe to stdout, validating the
  * near-linearity the plan-shape tests imply. A capped/bucketed plan should
  * scale ~linearly in corpus size here; quadratic growth means a plan
  * regression that sf0.1 alone cannot surface.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    // ORC (and legacy parquet INT96) timestamp paths consult the JVM
    // default zone, not the session TZ — pin it so results are
    // host-independent (a DST-transition hour on a non-UTC host would
    // otherwise shift timestamps on columnar round-trips).
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata parquet stamps ts as isAdjustedToUTC=false; read it as
      // TIMESTAMP (session UTC) so epoch extraction matches the DuckDB oracle
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"

    def probe(op: String, scale: Int, inRows: Long)(f: => Long): Unit = {
      BroadcastLifecycle.releaseAll()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      val outRows = f
      val sec = (System.nanoTime() - t0) / 1e9
      val line = f"""{"kind":"scale_probe","op":"$op%s","scale":$scale%d,"rows":$inRows%d,"out_rows":$outRows%d,"sec":$sec%.2f}"""
      println("PROF " + line)
    }

    import graft.data.{CorpusConfig, CorpusPipeline, Dedup}

    // SALTED copies (distinct suffix tokens per copy) keep the scaled corpus
    // at roughly the 1x near-dup density — verbatim clones would make the
    // pair output itself grow quadratically and mask any plan regression
    def saltedDocs(base: DataFrame, copies: Int): DataFrame =
      (0 until copies).map { i =>
        base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
          .withColumn("text", concat(col("text"),
            lit(s" copy salt token alpha$i beta$i gamma$i delta$i epsilon$i")))
      }.reduce(_ unionByName _)

    val docs1  = spark.read.parquet(sf + "/documents.parquet")
    val docs10 = saltedDocs(docs1, 10)
    val n1  = docs1.count()
    val n10 = docs10.count() // also warms the session

    probe("jaccard", 1, n1)(
      Dedup.ngramJaccardPairs(docs1, "text", "doc_id", k = 5, threshold = 0.5,
        maxDocsPerShingle = 1000).count())
    probe("jaccard", 10, n10)(
      Dedup.ngramJaccardPairs(docs10, "text", "doc_id", k = 5, threshold = 0.5,
        maxDocsPerShingle = 1000).count())
    probe("minhash", 1, n1)(
      Dedup.minHashLshPairs(docs1, "text", "doc_id", k = 5,
        numHashes = 32, rowsPerBand = 4, threshold = 0.5).count())
    probe("minhash", 10, n10)(
      Dedup.minHashLshPairs(docs10, "text", "doc_id", k = 5,
        numHashes = 32, rowsPerBand = 4, threshold = 0.5).count())
    probe("simhash", 1, n1)(Dedup.simHashPairs(docs1, "text", "doc_id").count())
    probe("simhash", 10, n10)(Dedup.simHashPairs(docs10, "text", "doc_id").count())
    probe("chunk_dedup", 1, n1)(Dedup.chunkDedup(docs1, "text", "doc_id").count())
    probe("chunk_dedup", 10, n10)(Dedup.chunkDedup(docs10, "text", "doc_id").count())

    // decontamination: train side scales 10x, eval side fixed — runtime
    // should track the train scan, not the pair space
    val evalDocs = docs1.filter(col("doc_id") % 17 === 0)
    probe("decontam", 1, n1)(
      Dedup.decontaminate(docs1, evalDocs, "text", "doc_id", k = 5).count())
    probe("decontam", 10, n10)(
      Dedup.decontaminate(docs10, evalDocs, "text", "doc_id", k = 5).count())

    // full corpus pipeline (q62 analog): quality -> exact -> near ->
    // decontamination, fixed eval side
    def pipelineCfg = CorpusConfig(
      minTokens = 25, maxTokens = 90,
      nearDedupThreshold = Some(0.5), shingleK = 5, maxDocsPerShingle = 1000,
      evalDocs = Some(evalDocs), decontaminationThreshold = 0.5)
    probe("corpus_pipeline", 1, n1)(CorpusPipeline.run(docs1, pipelineCfg).labels.count())
    probe("corpus_pipeline", 10, n10)(CorpusPipeline.run(docs10, pipelineCfg).labels.count())

    // embeddings: circular-shift salt — within-copy cosine structure is
    // identical to 1x (rotation-invariant), cross-copy vectors decorrelate,
    // so the pair output stays ~linear in corpus size
    val emb1 = spark.read.parquet(sf + "/embeddings.parquet")
    val emb8 = (0 until 8).map { i =>
      emb1.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else expr(s"concat(slice(embedding, ${8 * i + 1}, 64 - ${8 * i}), slice(embedding, 1, ${8 * i}))"))
    }.reduce(_ unionByName _)
    val e1 = emb1.count()
    val e8 = emb8.count()
    import graft.ann.Knn
    probe("ann_lsh", 1, e1)(
      Knn.lshCosinePairs(emb1, nBands = 8, bitsPerBand = 6, minCosine = 0.35).count())
    probe("ann_lsh", 8, e8)(
      Knn.lshCosinePairs(emb8, nBands = 8, bitsPerBand = 6, minCosine = 0.35).count())

    // bucketed IVF: out_rows = k per query, so runtime should be ~linear in
    // corpus size (assignment scan + one list_id shuffle), never quadratic
    probe("ivf_bucketed", 1, e1)(
      Knn.ivfTopKBucketed(emb1, emb1, k = 5, nLists = 64, nProbe = 8).count())
    probe("ivf_bucketed", 8, e8)(
      Knn.ivfTopKBucketed(emb8, emb8, k = 5, nLists = 64, nProbe = 8).count())

    // int8 vs float brute force at the same scale: the quantized kernel's
    // broadcast is 4x smaller and the integer dot avoids double multiplies —
    // record both so the claim is measured, not asserted
    probe("ann_brute_f32", 8, e8)(
      Knn.bruteForceTopK(emb8.filter(col("vec_id") % 8 === 0), emb8, k = 5).count())
    probe("ann_brute_int8", 8, e8)(
      Knn.bruteForceTopKInt8(emb8.filter(col("vec_id") % 8 === 0), emb8, k = 5).count())

    // transitive dup clusters: pair generation + the CC loop; rounds grow
    // log(chain), per-round cost tracks the dup-graph (not corpus) size
    probe("dup_clusters", 1, n1)(
      graft.data.Dedup.duplicateClusters(docs1, "text", "doc_id",
        k = 5, threshold = 0.5, maxDocsPerShingle = 1000).count())
    probe("dup_clusters", 10, n10)(
      graft.data.Dedup.duplicateClusters(docs10, "text", "doc_id",
        k = 5, threshold = 0.5, maxDocsPerShingle = 1000).count())

    // BM25 with a FIXED query set over a growing corpus: runtime should
    // track the posting-build scan, out_rows stay k per query
    val bmQs = docs1.filter(col("doc_id") < 20)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(col("text")), " "), 1, 4), " ").as("query_text"))
    probe("bm25", 1, n1)(graft.search.Bm25.topK(docs1, bmQs, k = 10).count())
    probe("bm25", 10, n10)(graft.search.Bm25.topK(docs10, bmQs, k = 10).count())

    // window-shaped operators over the events stream. Scaling recipe:
    // 10 copies with remapped event/user ids — the as-of keys (event_type)
    // stay FIXED, so per-key window volume grows 10x (the honest stress for
    // the union+window plan); sessionize users are disjoint per copy, so
    // per-user volume stays constant and cost should track the shuffle
    val ev1 = graft.sources.Tables(spark, sf, "events")
    val ev10 = (0 until 10).map { i =>
      ev1.withColumn("event_id", col("event_id") + lit(i * 100000000L))
        .withColumn("user_id", col("user_id") + lit(i * 10000000L))
    }.reduce(_ unionByName _)
    val v1 = ev1.count()
    val v10 = ev10.count()

    def asofCount(df: org.apache.spark.sql.DataFrame): Long = {
      val ev = df.select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      val big = ev.groupBy("event_type", "ts_us")
        .agg(max(col("value")).as("big_value"))
        .filter(col("big_value") >= 200.0)
        .withColumn("big_ts_us", col("ts_us"))
      graft.operators.AsofJoin.backward(ev, big, Seq("event_type"),
        "ts_us", "ts_us", Seq("big_ts_us", "big_value")).count()
    }
    probe("asof", 1, v1)(asofCount(ev1))
    probe("asof", 10, v10)(asofCount(ev10))

    def sessionCount(df: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      val ev = df.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val gap = col("ts_us") - lag(col("ts_us"), 1).over(w)
      val newSession = when(gap.isNull || gap > 1800L * 1000000L, 1).otherwise(0)
      ev.withColumn("session_idx",
          sum(newSession).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events")).count()
    }
    probe("sessionize", 1, v1)(sessionCount(ev1))
    probe("sessionize", 10, v10)(sessionCount(ev10))

    // quota sampling: strata (source) fixed, per-stratum volume grows 10x —
    // the per-group top-n window's sort is the part under test
    probe("quota_sample", 1, n1)(
      graft.data.Sampling.quotaSample(docs1.select("doc_id", "source"),
        "doc_id", "source", n = 50).count())
    probe("quota_sample", 10, n10)(
      graft.data.Sampling.quotaSample(docs10.select("doc_id", "source"),
        "doc_id", "source", n = 50).count())

    // disk-index incremental append: the claim under test is "a corpus
    // delta costs one scan of the DELTA" — appending a 1x delta onto a 10x
    // index should cost ~the 1x build, nowhere near the 10x rebuild
    def rmTree(p: String): Unit =
      graft.operators.FsUtil.deleteRecursively(new java.io.File(p))
    val delta = docs1.withColumn("doc_id", col("doc_id") + 900000000L)
    val bmPath = s"${System.getProperty("java.io.tmpdir")}/graft_prof_bm25_append"
    rmTree(bmPath)
    probe("bm25_index_build", 10, n10) {
      graft.search.Bm25.writeIndex(docs10, bmPath, nBuckets = 16); 0L
    }
    probe("bm25_index_append", 1, n1) {
      graft.search.Bm25.appendToIndex(delta, bmPath); 0L
    }
    val emb1e = emb1
    val embDelta = emb1e.withColumn("vec_id", col("vec_id") + 900000000L)
    val ivfPath = s"${System.getProperty("java.io.tmpdir")}/graft_prof_ivf_append"
    rmTree(ivfPath)
    probe("ivf_index_build", 8, e8) {
      graft.ann.Knn.ivfWriteIndex(emb8, ivfPath, nLists = 64); 0L
    }
    probe("ivf_index_append", 1, e1) {
      graft.ann.Knn.ivfAppendToIndex(embDelta, ivfPath); 0L
    }
    // compaction of the appended indexes: one repartition+rewrite of the
    // index volume — should track the build scan, never exceed it by much
    probe("bm25_index_compact", 10, n10) {
      graft.search.Bm25.compactIndex(spark, bmPath); 0L
    }
    probe("ivf_index_compact", 8, e8) {
      graft.ann.Knn.ivfCompactIndex(spark, ivfPath); 0L
    }

    // corpus pipeline WITH the stratified mixing stage (q89 analog): the
    // mix itself is a map-only CASE-chain filter over the survivor labels,
    // so the delta over corpus_pipeline should stay roughly constant
    def mixCfg = pipelineCfg.copy(
      mixStrataCol = Some("lang"),
      mixRates = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1),
      mixDefaultRate = 0.05, mixSalt = "s42|")
    probe("corpus_mix", 1, n1)(CorpusPipeline.run(docs1, mixCfg).labels.count())
    probe("corpus_mix", 10, n10)(CorpusPipeline.run(docs10, mixCfg).labels.count())

    // deterministic shard sink (q91 analog): content-hash global rank mod N
    // — a distributed sort + zipWithIndex + partitioned write; should track
    // the sort's n log n, never quadratic
    val shardBase = s"${System.getProperty("java.io.tmpdir")}/graft_prof_shards"
    rmTree(shardBase)
    probe("shard_sink", 1, n1) {
      graft.data.Packing.writeShards(docs1.select("doc_id", "text"),
        "text", nShards = 16, path = s"$shardBase/x1"); 0L
    }
    probe("shard_sink", 10, n10) {
      graft.data.Packing.writeShards(docs10.select("doc_id", "text"),
        "text", nShards = 16, path = s"$shardBase/x10"); 0L
    }

    // rolling event-time window (q92 analog): per-user RANGE frame over the
    // preceding hour. Copies carry disjoint user ids (the ev10 recipe), so
    // per-user volume is constant and cost should track the one shuffle+sort
    def rollingCount(df: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      val ev = df.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      ev.withColumn("n_prev_hour", count(lit(1)).over(w).cast("long"))
        .withColumn("sum_prev_hour",
          sum(col("value").cast("decimal(38,6)")).over(w).cast("double"))
        .count()
    }
    probe("rolling_window", 1, v1)(rollingCount(ev1))
    probe("rolling_window", 10, v10)(rollingCount(ev10))

    // per-group top-k: the partial-aggregating Aggregator vs the window
    // form at the same 10x volume — the map-side-combine claim, measured.
    // Copies REUSE user ids (same groups, 10x per-group volume): the
    // honest stress, where the window must sort 10x rows per group but the
    // aggregator still shuffles k per (partition, group)
    val evHot = (0 until 10).map { i =>
      ev1.withColumn("event_id", col("event_id") + lit(i * 100000000L))
    }.reduce(_ unionByName _)
    val vh = evHot.count()
    def topkAgg(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy("user_id")
        .agg(graft.operators.TopKAgg.topK(5)(col("value"), col("event_id")).as("top"))
        .select(col("user_id"), explode(col("top")))
        .count()
    def topkWindow(df: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5).count()
    }
    probe("topk_aggregator", 10, vh)(topkAgg(evHot))
    probe("topk_window", 10, vh)(topkWindow(evHot))

    // round-8 widening operators at 1x/10x
    probe("percentile_filter", 1, n1)(
      graft.data.Sampling.percentileBandFilter(
        docs1.select("doc_id", "lang", "n_chars"), "n_chars", "lang", 0.1, 0.9).count())
    probe("percentile_filter", 10, n10)(
      graft.data.Sampling.percentileBandFilter(
        docs10.select("doc_id", "lang", "n_chars"), "n_chars", "lang", 0.1, 0.9).count())

    probe("keep_best_cluster", 1, n1)(
      Dedup.keepBestPerCluster(docs1, "text", "doc_id", "n_chars",
        k = 5, threshold = 0.5, maxDocsPerShingle = 1000).count())
    probe("keep_best_cluster", 10, n10)(
      Dedup.keepBestPerCluster(docs10, "text", "doc_id", "n_chars",
        k = 5, threshold = 0.5, maxDocsPerShingle = 1000).count())

    def saltedCount(df: org.apache.spark.sql.DataFrame): Long = {
      val dim = df.groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("user_events"))
      graft.operators.SkewJoin.saltedJoin(
        df.select("event_id", "user_id", "value"), dim, "user_id",
        nSalts = 8, hotThreshold = 500L).count()
    }
    probe("salted_join", 1, v1)(saltedCount(ev1))
    probe("salted_join", 10, v10)(saltedCount(ev10))

    // incremental dedup: append a 1x delta onto a 10x ledger — the claim is
    // "a delta costs the delta scan + one ledger join", never a re-dedup of
    // the historical corpus
    val ledgerPath = s"${System.getProperty("java.io.tmpdir")}/graft_prof_ledger"
    rmTree(ledgerPath)
    probe("incr_dedup_base", 10, n10)(
      Dedup.exactIncremental(docs10, ledgerPath).count())
    probe("incr_dedup_delta", 1, n1)(
      Dedup.exactIncremental(
        docs1.withColumn("doc_id", col("doc_id") + 800000000L), ledgerPath).count())

    // bloom semi join: fact AND dim scale together (disjoint key ranges per
    // copy), selectivity constant — cost should track the fact scan + the
    // shrunken shuffle, never the pre-filter corpus
    val ord1 = spark.read.parquet(sf + "/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val li1 = spark.read.parquet(sf + "/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val li10 = (0 until 10).map { i =>
      li1.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
    }.reduce(_ unionByName _)
    val ord10 = (0 until 10).map { i =>
      ord1.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
    }.reduce(_ unionByName _)
    def bloomCount(fact: DataFrame, dim: DataFrame): Long =
      graft.operators.BloomJoin.bloomSemiJoin(fact,
        dim.filter(col("o_totalprice") > 450000.0)
          .select(col("o_orderkey").as("l_orderkey")),
        "l_orderkey", expectedItems = 200000L).count()
    val l1 = li1.count(); val l10 = li10.count()
    probe("bloom_join", 1, l1)(bloomCount(li1, ord1))
    probe("bloom_join", 10, l10)(bloomCount(li10, ord10))

    // pagerank: 10 disjoint copies of the co-purchase graph (keys offset per
    // copy) — nodes and edges scale 10x, per-iteration shuffles should too
    def prCount(li: DataFrame): Long = {
      // node keys derive from (orderkey, linenumber) so the offset order
      // keys keep the 10 graph copies disjoint
      val pairs = li.select(col("l_orderkey").as("o"),
          (col("l_orderkey") * 8 + col("l_linenumber")).as("src"))
        .join(li.select(col("l_orderkey").as("o"),
          (col("l_orderkey") * 8 + col("l_linenumber")).as("dst")), "o")
        .filter(col("src") =!= col("dst"))
      graft.operators.PageRank.fixedPointRanks(pairs, "src", "dst",
        iterations = 3).count()
    }
    probe("pagerank", 1, l1)(prCount(li1))
    probe("pagerank", 10, l10)(prCount(li10))

    // interval join: disjoint event TYPES per copy keeps per-type interval
    // density constant, so output scales ~10x, never ~100x
    val evt10 = (0 until 10).map { i =>
      ev1.withColumn("event_type", concat(col("event_type"), lit(s"_$i")))
        .withColumn("event_id", col("event_id") + lit(i * 100000000L))
    }.reduce(_ unionByName _)
    def intervalCount(df: DataFrame): Long = {
      val ev = df.select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      val iv = ev.groupBy("event_type", "ts_us")
        .agg(max(col("value")).as("big_value"))
        .filter(col("big_value") >= 200.0)
        .select(col("event_type"), col("ts_us").as("s"),
          (col("ts_us") + 1800L * 1000000L).as("e"))
      graft.operators.IntervalJoin.binned(
        ev.select("event_id", "event_type", "ts_us"), iv,
        Seq("event_type"), "ts_us", "s", "e",
        binWidth = 1800L * 1000000L).count()
    }
    probe("interval_join", 1, v1)(intervalCount(ev1))
    probe("interval_join", 10, v10 /* evt10 has the same count */)(
      intervalCount(evt10))

    // one-pass profile: 4 columns incl. two exact distincts
    val o1 = ord1.count(); val o10 = ord10.count()
    probe("profile", 1, o1)(
      graft.data.Profile.profile(spark.read.parquet(sf + "/orders.parquet"),
        Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")).count())
    probe("profile", 10, o10)(
      graft.data.Profile.profile(
        (0 until 10).map { i =>
          spark.read.parquet(sf + "/orders.parquet")
            .withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
        }.reduce(_ unionByName _),
        Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")).count())

    // all-pairs sparse cosine: the df cap is the quadratic-fan-out guard —
    // at 10x corpus the capped posting join must stay near-linear
    probe("sparse_cosine", 1, n1)(
      graft.search.SparseSim.shingleCosinePairs(docs1, "doc_id", "text",
        k = 3, maxDf = 100, minCos = 0.4).count())
    probe("sparse_cosine", 10, n10)(
      graft.search.SparseSim.shingleCosinePairs(docs10, "doc_id", "text",
        k = 3, maxDf = 100, minCos = 0.4).count())

    // triangles: 10 disjoint co-purchase graph copies — wedges/edges scale
    // 10x, the degree orientation keeps per-vertex fan-out bounded
    def triCount(li: DataFrame): Long = {
      val a = li.select(col("l_orderkey").as("o"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("src"))
      val b = li.select(col("l_orderkey").as("o"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("dst"))
      val edges = a.join(b, "o").filter(col("src") =!= col("dst"))
        .select("src", "dst")
      graft.operators.Triangles.count(edges, "src", "dst")
        .collect().head.getLong(0)
    }
    probe("triangles", 1, l1)(triCount(li1))
    probe("triangles", 10, l10)(triCount(li10))

    // OHLC bars key on event_type (FIXED keys, 10x per-bucket volume — the
    // honest stress for the min_by/max_by hash agg, same recipe as asof)
    def ohlcCount(df: DataFrame): Long =
      df.select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .withColumn("bucket", expr("ts_us div 900000000"))
        .groupBy("event_type", "bucket")
        .agg(min_by(col("value"), struct(col("ts_us"), col("event_id"))).as("open"),
          max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("close"),
          max(col("value")).as("high"), min(col("value")).as("low"))
        .count()
    probe("ohlc_bars", 1, v1)(ohlcCount(ev1))
    probe("ohlc_bars", 10, v10)(ohlcCount(evHot))

    // gap fill: disjoint users per copy — grid synthesis + as-of join
    def gapfillCount(df: DataFrame): Long = {
      val ev = df.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      val obs = ev.groupBy("user_id", "ts_us")
        .agg(max_by(col("value"), col("event_id")).as("value"))
        .withColumn("obs_ts", col("ts_us"))
      val grid = ev.groupBy("user_id")
        .agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
        .select(col("user_id"),
          explode(sequence(expr("t0 div 86400000000"),
                           expr("t1 div 86400000000"))).as("d"))
        .select(col("user_id"), (col("d") * 86400000000L).as("grid_ts"))
      graft.operators.AsofJoin.backward(grid, obs, Seq("user_id"),
        "grid_ts", "ts_us", Seq("value", "obs_ts")).count()
    }
    probe("gapfill", 1, v1)(gapfillCount(ev1))
    probe("gapfill", 10, v10)(gapfillCount(ev10))

    // SCD2 + sequence builder: disjoint users, two windows on one exchange
    def scd2Count(df: DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      df.select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type").as("state"))
        .withColumn("__prev", lag(col("state"), 1).over(w))
        .filter(col("__prev").isNull || col("__prev") =!= col("state"))
        .withColumn("valid_to", lead(col("ts_us"), 1).over(w))
        .count()
    }
    probe("scd2", 1, v1)(scd2Count(ev1))
    probe("scd2", 10, v10)(scd2Count(ev10))

    // trailing 7-day actives: constant x7 replication then one distinct agg
    def wauCount(df: DataFrame): Long = {
      val active = df.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val span = active.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      active.select(col("user_id"), col("day"),
          explode(sequence(lit(0), lit(6))).as("off"))
        .select(col("user_id"), date_add(col("day"), col("off")).as("day"))
        .crossJoin(broadcast(span))
        .filter(col("day") >= col("d0") && col("day") <= col("d1"))
        .groupBy("day").agg(count_distinct(col("user_id"))).count()
    }
    probe("trailing_actives", 1, v1)(wauCount(ev1))
    probe("trailing_actives", 10, v10)(wauCount(ev10))

    // tf-idf keywords + chunker + weighted sample + psi over the doc corpus
    def tfidfCount(docs: DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      val posts = docs
        .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val dfreq = posts.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      posts.join(dfreq, "term").crossJoin(broadcast(stats))
        .withColumn("tfidf", col("tf").cast("double") *
          (org.apache.spark.sql.functions.log(
            (col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5).count()
    }
    probe("tfidf_keywords", 1, n1)(tfidfCount(docs1))
    probe("tfidf_keywords", 10, n10)(tfidfCount(docs10))
    def chunkCount(docs: DataFrame): Long =
      docs.select(col("doc_id"), split(trim(col("text")), " ").as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") >= 1)
        .select(col("doc_id"),
          explode(sequence(lit(0), expr("(n - 1) div 40"))).as("k"))
        .count()
    probe("chunk_overlap", 1, n1)(chunkCount(docs1))
    probe("chunk_overlap", 10, n10)(chunkCount(docs10))
    probe("weighted_sample", 1, n1)(
      graft.data.Sampling.weightedSample(docs1.select("doc_id", "n_chars"),
        "doc_id", "n_chars", n = 100, salt = "w|").count())
    probe("weighted_sample", 10, n10)(
      graft.data.Sampling.weightedSample(docs10.select("doc_id", "n_chars"),
        "doc_id", "n_chars", n = 100, salt = "w|").count())
    probe("psi_drift", 1, v1)(
      graft.data.Drift.psiReport(
        ev1.select(col("value"), col("ts")),
        "value", to_date(col("ts")) <= lit("2024-01-15").cast("date")).count())
    probe("psi_drift", 10, v10)(
      graft.data.Drift.psiReport(
        ev10.select(col("value"), col("ts")),
        "value", to_date(col("ts")) <= lit("2024-01-15").cast("date")).count())

    // round-9 tier: incremental CC merge, CMS store, range-shard assignment.
    // incremental_cc's cost should track the PAIR space + dup-graph vertex
    // set, not the corpus; cms_store the input scan (cells are d map-side
    // projections + a kilobyte-sized agg); range_shard one percentile agg +
    // a map-side fold
    def incrCcCount(docs: DataFrame): Long = {
      val isDelta = (c: org.apache.spark.sql.Column) => c % 5 === 0
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", k = 5,
        threshold = 0.5, maxDocsPerShingle = 1000)
        .select("id_a", "id_b").localCheckpoint()
      val prior = Dedup.clustersFromPairs(docs.filter(!isDelta(col("doc_id"))),
        "doc_id", pairs.filter(!isDelta(col("id_a")) && !isDelta(col("id_b"))))
      Dedup.mergeClusters(docs, "doc_id", prior,
        pairs.filter(isDelta(col("id_a")) || isDelta(col("id_b")))).count()
    }
    probe("incremental_cc", 1, n1)(incrCcCount(docs1))
    probe("incremental_cc", 10, n10)(incrCcCount(docs10))

    def cmsCount(ev: DataFrame, tag: String): Long = {
      import graft.data.CmsStore
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_prof_cms_$tag"
      graft.operators.FsUtil.deleteRecursively(new java.io.File(path))
      CmsStore.appendDaily(ev, "ts", "user_id", path, overwrite = true)
      CmsStore.estimate(ev.select(col("user_id").as("key")).distinct(),
        CmsStore.mergedCounters(spark, path)).count()
    }
    probe("cms_store", 1, v1)(cmsCount(ev1, "1"))
    probe("cms_store", 10, v10)(cmsCount(ev10, "10"))

    def shardCount(ord: DataFrame): Long = {
      import graft.data.RangeShard
      val a = RangeShard.assign(ord, "o_totalprice",
        RangeShard.boundaries(ord, "o_totalprice", 8))
      RangeShard.manifest(a, "o_totalprice").count()
    }
    probe("range_shard", 1, o1)(shardCount(ord1))
    probe("range_shard", 10, o10)(shardCount(ord10))

    spark.stop()
  }
}
