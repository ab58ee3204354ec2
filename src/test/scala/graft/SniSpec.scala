package graft

import graft.idx.SniIndexer

/** The sorted-neighbourhood indexer. */
class SniSpec extends SparkSpec {

  import spark.implicits._

  /** (uid, gt_uid, score, rank) straight from the definition: rank every
    * distinct sort key of GT ∪ names, cap each GT name at its `cap` smallest
    * uids, pair every name with the GT rows whose key rank is within `w`.
    */
  private def bruteForce(gt: Seq[(Long, String)], names: Seq[(Long, String)], w: Int,
                         cap: Int, key: String => String): Seq[(Long, Long, Double, Int)] = {
    val rank = (gt ++ names).map(r => key(r._2)).distinct.sorted.zipWithIndex.toMap
    val capped = gt.groupBy(_._2).values.flatMap(_.sortBy(_._1).take(cap)).toSeq
    (for {
      (uid, nm) <- names
      (gtUid, g) <- capped
      off = rank(key(g)) - rank(key(nm))
      if math.abs(off) <= w
    } yield (uid, gtUid, 1.0 - math.abs(off) / (w + 1.0), math.abs(off))).sorted
  }

  test("SNI pairs equal a brute-force evaluation of the definition") {
    // repeated GT names (some above the cap), names that equal GT names,
    // names between them, and a suffix-sharing set for the reversed key
    val words = Seq("acme", "acne", "bolt", "bolts", "corp", "delta", "echo", "echo corp")
    val gt = (1L to 40L).map(i => (i * 7 % 41, words((i * 3 % words.size).toInt)))
    val names = Seq((100L, "acme"), (101L, "bolt x"), (102L, "corp"), (103L, "zulu"),
      (104L, "delta corp"), (105L, "aaa"), (106L, "echo"))
    val gtDf = gt.toDF(Cols.Uid, Cols.Preprocessed).repartition(3)
    val namesDf = names.toDF(Cols.Uid, Cols.Preprocessed)
    for ((w, cap, key) <- Seq[(Int, Int, Option[String => String])](
           (2, 2, None), (1, 10, None), (3, 1, Some((s: String) => s.reverse)))) {
      val got = new SniIndexer(window = w, maxGtPerName = cap, mappingFunc = key)
        .fit(gtDf).transform(namesDf)
        .as[(Long, Long, Double, Int)].collect().toSeq.sorted
      val want = bruteForce(gt, names, w, cap, key.getOrElse(identity[String] _))
      assert(want.nonEmpty)
      assert(got == want, s"w=$w cap=$cap mapped=${key.isDefined}")
    }
  }
}
