package graft.idx

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Cols
import graft.operators.{GlobalRank, TopN}

/** Sorted Neighbourhood Indexing.
  *
  * Semantics of the reference's SNI indexer
  * (/root/reference/emm/indexing/spark_sni.py:210-265): build the
  * alphabetically sorted list of all distinct names (GT ∪ names-to-match),
  * assign each name its dense global rank, and pair every name with the GT
  * names at rank offsets -w..w; score = 1 - |offset|/(w+1).
  *
  * Scale notes: the global rank uses distributed sort + RDD zipWithIndex (no
  * single-partition window); the band join EXPLODES the 2w+1 offsets on the
  * names side and runs ONE equi-join on the target rank — the reference
  * unrolls 2w+1 separate joins (spark_sni.py:241-265), which shuffles the GT
  * rank relation 2w+1 times; the exploded form moves the same total row
  * volume through a single shuffle each side and never materializes a
  * range-join blowup.
  *
  * GT names are capped at `maxGtPerName` rows per identical name with a
  * deterministic ordering (reference uses F.rand() — we order by uid so the
  * result is reproducible; spark_indexing_utils.py:158-196). The cap drops
  * rows, never a distinct name, so it runs after the ranking, on the
  * materialized GT ranks.
  *
  * `mappingFunc` mirrors the reference's SNI `mapping_func` hook
  * (spark_sni.py:100-121): when set, names are sorted by the mapped value
  * (e.g. reversed strings for suffix-oriented neighbourhoods) instead of the
  * raw preprocessed name. Output pairs are unchanged in shape.
  */
final class SniIndexer(
    val window: Int = 3,
    val maxGtPerName: Int = 10,
    val uidCol: String = Cols.Uid,
    val gtUidCol: String = Cols.GtUid,
    val inputCol: String = Cols.Preprocessed,
    val mappingFunc: Option[String => String] = None) extends NameIndexer with Serializable {

  def fit(gt: DataFrame): SniIndexerModel =
    new SniIndexerModel(this, gt.select(col(uidCol).cast("long").as(gtUidCol), col(inputCol)))
}

final class SniIndexerModel(val indexer: SniIndexer, val gt: DataFrame) extends NameIndexerModel {

  override def widen: SniIndexerModel =
    new SniIndexerModel(
      new SniIndexer(indexer.window + 1, indexer.maxGtPerName, indexer.uidCol,
        indexer.gtUidCol, indexer.inputCol, indexer.mappingFunc),
      gt)

  /** Sort key column: the mapped name when a mappingFunc is set, else the
    * preprocessed name itself (spark_sni.py:109-114).
    */
  private def sniKey(in: Column): Column = indexer.mappingFunc match {
    case Some(f) => udf(f).apply(in)
    case None    => in
  }

  /** names(uid, preprocessed) -> (uid, gt_uid, score, rank).
    * rank = |offset| (0 is an exact name hit).
    *
    * GT and names rows go through ONE tagged relation: ranked by a join with
    * the global rank of their distinct sort keys and materialized once
    * (localCheckpoint), so the band join and the GT cap read the ranks
    * without replaying the global sort (the reference caches here too,
    * spark_sni.py:241).
    */
  def transform(names: DataFrame): DataFrame = {
    val in  = indexer.inputCol
    val w   = indexer.window
    val tagged = gt.select(col(indexer.gtUidCol).as("__id"), col(in), lit(true).as("__gt"))
      .union(names.select(col(indexer.uidCol).cast("long").as("__id"), col(in), lit(false).as("__gt")))
      .withColumn("__sni", sniKey(col(in)))
    val ranks = GlobalRank.withGlobalRank(tagged.select("__sni").distinct(), "r", Seq("__sni"))
    val ranked = tagged.join(ranks, "__sni").select("__id", in, "__gt", "r").localCheckpoint()

    val gtRanked = TopN.takeTopNPerGroup(
        ranked.filter(col("__gt"))
          .select(col("__id").as(indexer.gtUidCol), col(in), col("r").as("gt_r")),
        n = indexer.maxGtPerName, groupCols = Seq(in), orderBy = Seq(col(indexer.gtUidCol)),
        keepRankCol = false)
    ranked.filter(!col("__gt"))
      .select(col("__id").as(indexer.uidCol), col("r"),
        explode(lit((-w to w).toArray)).as("off"))
      .join(gtRanked, col("r") + col("off") === col("gt_r"))
      .select(
        col(indexer.uidCol), col(indexer.gtUidCol),
        (lit(1.0) - abs(col("off")).cast("double") / (w + 1.0)).as("score"),
        abs(col("off")).cast("int").as("rank"))
  }
}
