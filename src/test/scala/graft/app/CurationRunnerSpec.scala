package graft.app

import graft.SparkSpecBase
import graft.Tables
import graft.dedup.Dedup
import graft.text.TextFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class CurationRunnerSpec extends SparkSpecBase {

  test("curation run is QC-gated, one row per doc, keep implies every rule") {
    val out = Files.createTempDirectory("graft_curation_spec").toString
    val r = CurationRunner.run(spark, sfDir, out)
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(r.qcPassed, s"QC gate failed: $r")
    assert(r.nRows === nDocs)
    assert(r.nKept > 0 && r.nKept < nDocs)

    val back = spark.read.parquet(s"$out/curation")
    // lang partition column survives the round trip
    assert(back.select("lang_detected").distinct().count() >= 2)
    // every kept row satisfies the full rule set
    val violations = back.filter(col("keep") === 1).filter(
      !col("lang_detected").isin(CurationRunner.AllowedLangs: _*) ||
        col("quality") < CurationRunner.QualityFloor ||
        col("n_tokens") < CurationRunner.TokenBand._1 ||
        col("n_tokens") > CurationRunner.TokenBand._2 ||
        col("rep_ratio") > CurationRunner.RepCap ||
        col("is_keeper") =!= 1)
    assert(violations.count() === 0)
    // near-dup losers are never kept: each component keeps at most one doc
    val multiKeep = back.filter(col("keep") === 1)
      .groupBy("component").count().filter(col("count") > 1)
    assert(multiKeep.count() === 0)
  }

  /** The curation table as composed before the one-plane run: signals,
    * repetition and near-dup labels each from their own tokenization,
    * three-way joined on doc_id. */
  private def composed(dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val signals = TextFunctions.withTextSignals(docs)
      .select("doc_id", "lang_detected", "quality", "n_tokens")
    val rep = docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .select(col("doc_id"), TextFunctions.repetitionRatio(col("t")).as("rep_ratio"))
    val labels = Dedup.nearDupComponents(Dedup.minhashNearDups(docs, 0.5), docs)
      .select("doc_id", "component", "is_keeper")
    signals.join(rep, Seq("doc_id")).join(labels, Seq("doc_id"))
      .withColumn("keep",
        (col("lang_detected").isin(CurationRunner.AllowedLangs: _*) &&
          col("quality") >= CurationRunner.QualityFloor &&
          col("n_tokens").between(CurationRunner.TokenBand._1, CurationRunner.TokenBand._2) &&
          col("rep_ratio") <= CurationRunner.RepCap &&
          col("is_keeper") === 1).cast("int"))
  }

  private def byId(df: DataFrame): Seq[Row] = df.orderBy("doc_id").collect().toSeq

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Both curation tables and both pair sets over `dir` must be equal:
    * rows compared whole (doubles exactly), jaccard as an exact double. */
  private def assertSameAsComposed(dir: String): Seq[Row] = {
    val got = CurationRunner.curate(spark, dir)
    val want = composed(dir)
    assert(got.schema === want.schema)
    val rows = byId(got)
    assert(rows === byId(want))
    val docs = Tables.documents(spark, dir)
    assert(pairSet(CurationRunner.nearDupPairs(CurationRunner.plane(spark, dir))) ===
      pairSet(Dedup.minhashNearDups(docs, 0.5)))
    rows
  }

  test("curate equals the composed signals + repetition + components table (sf corpus)") {
    val rows = assertSameAsComposed(sfDir)
    assert(rows.size === Tables.documents(spark, sfDir).count())
    assert(rows.exists(r => r.getAs[Int]("is_keeper") == 0), "corpus should hold near-dups")
  }

  test("curate equals the composed table on null, empty, short, repetitive and duplicate docs") {
    val words = (1 to 40).map(i => s"w$i")
    def span(from: Int, to: Int) = words.slice(from - 1, to).mkString(" ")
    val dup = "the quick brown fox jumps over the lazy dog and then the fox runs " +
      "back over the hill to the old farm where the dog sleeps all day long"
    val texts: Seq[(Long, String)] = Seq(
      1L -> null, 2L -> "", 3L -> "   ", 4L -> "two tokens",
      5L -> "a b a b a b a b c d e f g h i j k l m n o p q r s t",
      6L -> dup, 7L -> dup,
      // a near-dup chain: 8~9 and 9~10 clear 0.5, 8 and 10 do not
      8L -> span(1, 30), 9L -> span(6, 35), 10L -> span(11, 40),
      11L -> "la casa de la playa es muy bonita y el agua del mar esta tranquila hoy")
    val dir = Files.createTempDirectory("graft_curation_edges").toString
    val spk = spark
    import spk.implicits._
    texts.map { case (id, t) => (id, t, "en", "edge", Option(t).map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val rows = assertSameAsComposed(dir).map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the corpus exercises what it claims to
    assert(rows(5).getAs[Double]("rep_ratio") > 0.0)
    assert(rows(7).getAs[Long]("component") === 6L && rows(7).getAs[Int]("is_keeper") === 0)
    assert(Seq(9L, 10L).map(rows(_).getAs[Long]("component")) === Seq(8L, 8L))
    assert(Seq(1L, 2L, 3L, 4L).forall(i => rows(i).getAs[Double]("rep_ratio") == 0.0))
  }

  test("repeated runs add no CacheManager entry") {
    val out = Files.createTempDirectory("graft_curation_leak").toString
    val before = cachedEntries
    (1 to 3).foreach(_ => assert(CurationRunner.run(spark, sfDir, out).qcPassed))
    assert(cachedEntries === before,
      "a curation run must not leave cached plans behind in a long-lived session")
  }

  test("a curation run stays within its Spark job budget") {
    // the sf0.01 corpus, generated next to sfDir
    val sf = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    val out = Files.createTempDirectory("graft_curation_budget").toString
    CurationRunner.run(spark, sf, out)
    val (r, jobs) = JobBudget.jobsDuring(spark)(CurationRunner.run(spark, sf, out))
    assert(r.qcPassed)
    // measured: 23 jobs with one checkpointed per-document plane that
    // every step reads; 36 before it (re-tokenized inputs per step, a
    // three-way join, a documents re-scan and a read-back inference job)
    assert(jobs <= 24 + 2, s"a curation run took $jobs Spark jobs")
  }
}
