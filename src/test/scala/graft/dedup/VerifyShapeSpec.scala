package graft.dedup

import graft.{SparkSpecBase, Tables}
import org.apache.spark.sql.functions.{col, expr}

/** Pin for the r16 verify restructure: [[Dedup.verifiedPairsArrays]]
  * (per-pair array_intersect over per-doc shingle arrays — the
  * large-candidate shape x81/x54 run) must return EXACTLY the rows of
  * the explode-shape [[Dedup.verifiedPairs]], jaccard bit-for-bit,
  * on the same candidate set. The oracle gate proves each query's end
  * result; this pins the two shapes against each other directly so a
  * future edit to either can't silently diverge them. */
class VerifyShapeSpec extends SparkSpecBase {

  test("array-intersect verify equals explode verify exactly (LSH candidates)") {
    val docs = Tables.documents(spark, sfDir)
    val sh = Dedup.docShingles(docs).cache()
    val cand = Dedup.candidatePairs(Dedup.bandTable(Dedup.minhashSignatures(sh))).cache()
    assert(cand.count() > 0, "test data should produce LSH candidates")
    val explode = Dedup.verifiedPairs(sh, cand, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val arrays = Dedup.verifiedPairsArrays(sh, cand, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(arrays === explode)
    assert(explode.nonEmpty, "test data should contain planted near-dups")
  }

  test("array-intersect verify matches below-threshold behavior too") {
    // a lower threshold keeps more pairs — the two shapes must agree on
    // every jaccard value, not only the ones that clear 0.5
    val docs = Tables.documents(spark, sfDir)
    val sh = Dedup.docShingles(docs).cache()
    val cand = Dedup.candidatePairs(Dedup.bandTable(Dedup.minhashSignatures(sh))).cache()
    val explode = Dedup.verifiedPairs(sh, cand, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val arrays = Dedup.verifiedPairsArrays(sh, cand, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(arrays === explode)
  }

  test("array-intersect verify matches at threshold 0 (no zero-overlap pairs)") {
    // the join form only ever sees pairs that share a shingle; the array
    // form must not add the disjoint candidates at jaccard 0
    val docs = Tables.documents(spark, sfDir)
    val sh = Dedup.docShingles(docs).cache()
    val cand = Dedup.candidatePairs(Dedup.bandTable(Dedup.minhashSignatures(sh)))
    // every doc paired with its successor: most such pairs share nothing
    val ids = docs.select(col("doc_id"))
    val disjoint = ids.as("a").join(ids.as("b"), expr("b.doc_id = a.doc_id + 1"))
      .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b")
    val all = cand.union(disjoint).distinct().cache()
    val explode = Dedup.verifiedPairs(sh, all, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val arrays = Dedup.verifiedPairsArrays(sh, all, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(all.count() > explode.size, "the candidates should include disjoint pairs")
    assert(arrays === explode)
    assert(arrays.forall(_._3 > 0.0))
  }
}
