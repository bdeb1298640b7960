package graft.tools

import org.apache.spark.sql.functions.col

/** One-off linearity probe for geometry-parameterized operators — times
  * an operator at a given data dir with an explicit sizing parameter,
  * so the §6.1 scaling rules ("nlist grows with √n") are MEASURED, not
  * asserted. The gate queries pin geometry for the oracle; this main is
  * how the rescaled production form gets its number.
  *
  * Usage: runMain graft.tools.ScaleProbe <op> <dir> <param> [runs]
  * Ops: semcontam (param = nlist).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val op = args(0)
    val dir = args(1)
    val param = args(2).toInt
    val runs = if (args.length > 3) args(3).toInt else 2
    val spark = graft.Sessions.local()
    def build() = op match {
      case "semcontam" =>
        graft.sim.Similarity.semanticContam(graft.Tables.embeddings(spark, dir),
          col("vec_id") % 20 === 0, graft.queries.TrainingData.SemContamThreshold,
          nlist = param, iters = 2)
      // x81's reason to exist, measured: the same exact-Jaccard join
      // on a corpus where EVERY document carries `param` words of
      // shared boilerplate (df = n shingles — the web-corpus footer
      // case). naivejoin indexes them (its hot key goes n², candidate
      // pairs ≈ all-pairs); prefixjoin ranks them last so they leave
      // every prefix. param = boilerplate word count (0 = none).
      case "naivejoin" | "prefixjoin" =>
        val boiler = (1 to param).map(i => s"boiler$i").mkString(" ")
        val docs0 = graft.Tables.documents(spark, dir)
        val docs = if (param == 0) docs0
          else docs0.select(col("doc_id"),
            org.apache.spark.sql.functions.concat(col("text"),
              org.apache.spark.sql.functions.lit(s" $boiler")).as("text"))
        val sh = graft.dedup.Dedup.docShingles(docs).cache()
        if (op == "prefixjoin") graft.dedup.Dedup.prefixJaccardPairs(sh, 0.5)
        else graft.dedup.Dedup.jaccardPairs(sh, 0.5)
      case other => sys.error(s"unknown op $other")
    }
    val times = (0 to runs).map { i =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      build().queryExecution.toRdd.count()
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[probe] $op $dir param=$param run$i: $s%.2f s" +
        (if (i == 0) " (warmup)" else ""))
      s
    }
    val best = if (runs > 0) times.drop(1).min else times.head
    println(f"""{"op":"$op","dir":"$dir","param":$param,""" +
      f""""sec":$best%.3f,"runs":$runs}""")
    spark.stop()
  }
}
