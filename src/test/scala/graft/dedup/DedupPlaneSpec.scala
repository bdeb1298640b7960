package graft.dedup

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.DataFrame

class DedupPlaneSpec extends SparkSpecBase {

  private def asSet(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("plane consumers are bit-identical to the self-contained query paths") {
    val docs = Tables.documents(spark, sfDir)
    val plane = DedupPlane.build(docs)
    try {
      assert(asSet(plane.pairs) === asSet(Dedup.minhashNearDups(docs)))
      assert(asSet(plane.components()) ===
        asSet(Dedup.nearDupComponents(Dedup.minhashNearDups(docs), docs)))
      assert(asSet(plane.accuracy) === asSet(Dedup.minhashAccuracy(docs)))
    } finally plane.unpersist()
  }

  test("a parquet write/read round trip probes bit-identically to the built plane") {
    val docs = Tables.documents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("plane-rt").toString
    val plane = DedupPlane.build(docs)
    try {
      plane.write(dir)
      val reopened = DedupPlane.read(spark, dir, docs)
      // the bench times x41 through the reopened face — its rows must be
      // exactly the gate query's rows or the timed surface lies
      assert(asSet(reopened.accuracy) === asSet(plane.accuracy))
      assert(asSet(reopened.components()) === asSet(plane.components()))
    } finally plane.unpersist()
  }

  test("build caches the shared stages; unpersist leaves the CacheManager empty") {
    spark.catalog.clearCache()
    val plane = DedupPlane.build(Tables.documents(spark, sfDir))
    // materialize the deepest consumer — every shared stage fills
    plane.pairs.count()
    assert(!spark.sharedState.cacheManager.isEmpty)
    plane.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a released plane must not leak storage in a long-running service")
  }

  test("components and the other pair-graph loops add no CacheManager entry") {
    val docs = Tables.documents(spark, sfDir)
    val before = cachedEntries
    assert(Dedup.nearDupComponents(Dedup.minhashNearDups(docs), docs).collect().nonEmpty)
    assert(cachedEntries === before,
      "nearDupComponents must not leave its pair plane cached")
    // the deep-loop form checkpoints per hop instead of caching
    Dedup.nearDupComponents(Dedup.minhashNearDups(docs), docs, iters = 4).collect()
    assert(cachedEntries === before)
    // the loops that cache on purpose release what they cached
    Dedup.kcorePeel(Dedup.minhashNearDups(docs)).collect()
    Dedup.nearDupComponentsFixpoint(Dedup.minhashNearDups(docs), docs).collect()
    assert(cachedEntries === before)
  }
}
