package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.idx.CosSimIndexerModel

/** Streaming entry point of the cos-sim matcher.
  *
  * The reference's `streaming=True` flag switches its cos-sim matcher from
  * mapPartitions to a per-row UDF so the transform stays expressible on a
  * streaming DataFrame (spark_cos_sim_matcher.py:295-297,634-643). Here no
  * switch is needed: [[CosSimIndexerModel.transform]] is one map-only
  * `Dataset.mapPartitions` against the stream-static broadcast GT index, so
  * the batch plan runs unchanged on a stream and the answers agree by
  * construction.
  */
object StreamingMatch {

  /** Top-k match of a (streaming or batch) names frame. */
  def transformStreaming(model: CosSimIndexerModel, names: DataFrame): DataFrame =
    model.transform(names)
}
