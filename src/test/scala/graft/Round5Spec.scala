package graft

/** Round-5 additions: operator-internal broadcast release. */
class Round5Spec extends SparkSpec {

  import spark.implicits._

  test("BroadcastLifecycle.releaseAll drops operator-internal broadcasts (Knn)") {
    // Start from a clean registry: trackedCount purges GC-collected weak
    // refs, so a before/after count comparison is racy under full-suite GC
    // pressure (an old entry can vanish while the new one is added).
    BroadcastLifecycle.releaseAll()
    val emb = Seq((1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = graft.ann.Knn.bruteForceTopK(emb, emb, k = 2)
    assert(out.count() == 6)
    // `out` strongly references the packed broadcast through its executed
    // plan, so the new registration cannot have been purged.
    assert(BroadcastLifecycle.trackedCount >= 1,
      "bruteForceTopK must register its packed broadcast")
    BroadcastLifecycle.releaseAll()
    assert(BroadcastLifecycle.trackedCount == 0)
  }
}
