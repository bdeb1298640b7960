package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextFunctions
import graft.dedup.Dedup
import graft.util.ScanTuning

/** End-to-end curation run for the documents plane — the training-data
  * analog of [[PipelineRunner]] (k6): compute every per-document
  * curation signal, join the near-dup keeper flag, derive the final
  * keep/drop verdict, gate on corpus-level QC, write the wide curation
  * table partitioned by detected language, and read it back. This is
  * the table a data-mix owner actually consumes: one row per document
  * with every signal that justified its keep/drop.
  *
  * Plan split (one materialization point per run):
  *   - plane: the documents are tokenized ONCE into one row per doc
  *     carrying the text signals, the repetition ratio and the distinct
  *     3-gram shingle set, materialized by one eager checkpoint;
  *   - verify: MinHash signatures, LSH bands and band candidates read
  *     the exploded shingle sets, and exact Jaccard intersects the
  *     plane's own sets per candidate pair (no second shingle pass);
  *   - components: min-label propagation over the verified pairs;
  *   - write: plane ⋈ labels on doc_id, partitioned by language, which
  *     is what makes the downstream per-language budget/mix reads
  *     partition-pruned. */
object CurationRunner {

  final case class Report(nDocs: Long, nRows: Long, nKept: Long, qcPassed: Boolean)

  val AllowedLangs: Seq[String] = Seq("de", "en", "es", "fr")
  val QualityFloor = 0.5
  val TokenBand: (Int, Int) = (20, 200)
  val RepCap = 0.2
  val NearDupThreshold = 0.5

  /** One row per document: (doc_id, lang_detected, quality, n_tokens,
    * rep_ratio, shs), where `shs` is the distinct 3-gram shingle set.
    * One tokenization feeds every column; eager, because the signal
    * columns, the signature build and the verify step all read it. */
  private[graft] def plane(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextFunctions.withTextSignals(ScanTuning.ensureParallelism(docs, col("doc_id")),
        tokensCol = Some("__tok"))
      .select(col("doc_id"), col("lang_detected"), col("quality"), col("n_tokens"),
        TextFunctions.shingles(col("__tok"), 3).as("__sh"))
      .select(col("doc_id"), col("lang_detected"), col("quality"), col("n_tokens"),
        TextFunctions.repetitionRatioOfShingles(col("__sh")).as("rep_ratio"),
        array_distinct(col("__sh")).as("shs"))
      .localCheckpoint(true)
  }

  /** Verified near-dup pairs (doc_a, doc_b, jaccard) over a built
    * [[plane]]: the MinHash/LSH candidates of its exploded shingle sets,
    * checked by exact Jaccard on the sets themselves. */
  private[graft] def nearDupPairs(plane: DataFrame): DataFrame = {
    val sh = plane.select(col("doc_id"), explode(col("shs")).as("sh"))
    val cand = Dedup.candidatePairs(Dedup.bandTable(Dedup.minhashSignatures(sh)))
    Dedup.verifySets(plane.select(col("doc_id"), col("shs").as("arr")), cand, NearDupThreshold)
  }

  /** The curation table over a built [[plane]]. */
  private def curateFrom(plane: DataFrame): DataFrame = {
    val labels = Dedup.nearDupComponents(nearDupPairs(plane), plane.select("doc_id"))
      .select(col("doc_id"), col("component"), col("is_keeper"))
    plane.drop("shs").join(labels, Seq("doc_id"))
      .withColumn("keep",
        (col("lang_detected").isin(AllowedLangs: _*) &&
          col("quality") >= QualityFloor &&
          col("n_tokens").between(TokenBand._1, TokenBand._2) &&
          col("rep_ratio") <= RepCap &&
          col("is_keeper") === 1).cast("int"))
  }

  /** The wide per-document curation table (not yet written): identity
    * and quality signals, repetition ratio, near-dup component/keeper,
    * and the composite keep verdict. */
  def curate(spark: SparkSession, dir: String): DataFrame =
    curateFrom(plane(spark, dir))

  /** Write the curation table under `out/curation` (partitioned by
    * detected language), read it back, and QC-gate: row count must
    * equal the corpus, doc_ids must stay unique, and the keep verdict
    * must neither drop everything nor keep everything. */
  def run(spark: SparkSession, dir: String, out: String): Report = {
    val docPlane = plane(spark, dir)
    val table = curateFrom(docPlane)
    table.write.mode("overwrite")
      .partitionBy("lang_detected").parquet(s"$out/curation")
    val back = spark.read.schema(table.schema).parquet(s"$out/curation")
    val nDocs = docPlane.count()
    val row = back.agg(
      count(lit(1)).as("n"),
      countDistinct(col("doc_id")).as("nd"),
      sum("keep").as("kept")).first()
    val (n, nd, kept) = (row.getLong(0), row.getLong(1), row.getLong(2))
    Report(nDocs, n, kept,
      qcPassed = n == nDocs && nd == nDocs && kept > 0 && kept < n)
  }
}
