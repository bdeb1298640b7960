package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling/ordering for training-data assembly.
  *
  * `rand()`-based sampling is partition- and run-dependent — a retry
  * produces a different dataset, which poisons dedup bookkeeping and
  * makes experiments unrepeatable. Everything here derives from a
  * content hash of the row id: the same row lands on the same side of
  * every cut on every run of every cluster.
  */
object Sampling {

  /** Uniform bucket in [0, 256) from the id's md5 (first two hex digits)
    * — engine-reproducible (same formula runs in the DuckDB oracle). */
  def hashBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 2), 16, 10).cast("int")

  /** Per-stratum keep fractions (class rebalancing): strata not listed
    * keep everything. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       fractions: Map[String, Double]): DataFrame = {
    val cut = fractions.foldLeft(lit(256): Column) { case (acc, (k, f)) =>
      when(col(strataCol) === k, lit((f * 256).toInt)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < cut)
  }

  /** Deterministic global shuffle order for training: sort by the id's
    * md5 — decorrelates neighbours without any RNG state. */
  def shuffleKey(id: Column): Column = md5(id.cast("string"))

  /** Token-budget corpus mix: downsample each stratum (language/source)
    * to ~`budgetTokens` tokens — the static data-mix rebalancing step a
    * training corpus goes through ("no language exceeds its token
    * share"). The keep fraction per stratum is resolved FROM the data
    * (floor(256·budget / stratum_total) as an integer division — no
    * float quotient, so the same cut resolves everywhere) and applied
    * as a deterministic md5-bucket cut: the same document survives the
    * same budget on every run of every cluster.
    *
    * Two passes, both single-shuffle: a map-side-combined per-stratum
    * token total (tiny result, broadcast back), then a pruned
    * id/stratum scan filtered by the bucket cut — the second pass never
    * rereads `tokensCol`'s inputs. */
  def tokenBudgetMix(df: DataFrame, strataCol: String, idCol: String,
                     tokensCol: Column, budgetTokens: Long): DataFrame = {
    val totals = df.select(col(strataCol), tokensCol.as("__nt"))
      .groupBy(strataCol).agg(sum("__nt").as("__total"))
    val cuts = totals.select(col(strataCol),
      least(lit(256L), expr(s"${256L * budgetTokens} div __total")).cast("int").as("cut"))
    df.join(broadcast(cuts), Seq(strataCol))
      .filter(hashBucket(col(idCol)) < col("cut"))
  }

  /** Temperature-based domain mixing weights (α = 0.5): the standard
    * corpus-rebalancing step of multilingual/multi-source training —
    * sample domain d with probability q_d ∝ p_d^α instead of its
    * natural share p_d, compressing the head (a 40% language stops
    * drowning the mix) while boosting the tail sub-linearly. Unlike
    * [[domainQuota]] (a hard per-domain cap) this produces the
    * *resampling weights* themselves: weight_ppm = q_d / p_d in parts
    * per million — >1e6 means upsample, <1e6 downsample.
    *
    * Everything is fixed-point so the result is bit-identical in any
    * engine and under any partitioning: sqrt is IEEE-correctly-rounded
    * (the only float op, applied per GROUP, never summed as a double),
    * quantized to integer millionths BEFORE the normalizing sum, and
    * all divisions are integer `div`. One map-combined shuffle on the
    * domain column; the normalizer is a 1-row broadcast — the result
    * is domain-cardinality-sized at any corpus size. */
  def temperatureWeights(df: DataFrame, domainCol: String): DataFrame = {
    // cache: the normalizer aggregate below would otherwise recompute
    // this lineage — a SECOND full corpus scan to rebuild a
    // domain-cardinality-sized frame
    val scored = df.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("s", floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
      .cache()
    val tot = scored.agg(sum("n_docs").as("total"), sum("s").as("stot"))
    scored.crossJoin(broadcast(tot))
      .select(col("domain"), col("n_docs"),
        expr("n_docs * 1000000 div total").as("p_ppm"),
        expr("s * 1000000 div stot").as("q_ppm"),
        expr("((s * 1000000 div stot) * total) div n_docs").as("weight_ppm"))
  }

  /** Materialize [[temperatureWeights]] as an actual resampled corpus:
    * each row is emitted floor(w) times plus one more with probability
    * frac(w) — decided by a deterministic md5-derived draw in
    * [0, 10⁶), so the SAME documents replicate/survive on every run of
    * every cluster (the repeatability contract every sampler here
    * follows; rand() would re-deal the corpus per retry). Downweighted
    * domains (w < 1) keep each doc with probability w; upweighted ones
    * get whole copies plus the fractional remainder. Output one row
    * per copy with `copy_idx`, so downstream packing/sharding sees the
    * duplicated rows as distinct.
    *
    * The weight table is domain-cardinality-sized (broadcast); the
    * explode is per-row with bounded fan-out (ceil of the largest
    * weight) — no shuffle beyond what temperatureWeights itself does.
    * The 32-bit draw mod 10⁶ carries a ~0.1 % uniformity bias
    * (2³² mod 10⁶ ≠ 0) — irrelevant for mixing, and the price of an
    * expression DuckDB reproduces digit-for-digit. */
  def applyMixWeights(df: DataFrame, domainCol: String, idCol: String): DataFrame = {
    val w = temperatureWeights(df, domainCol).select(col("domain"), col("weight_ppm"))
    val draw = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000000L
    df.select(col(idCol), col(domainCol).as("domain"))
      .join(broadcast(w), Seq("domain"))
      .withColumn("n_copies",
        expr("weight_ppm div 1000000") +
          when(draw < expr("weight_ppm % 1000000"), 1L).otherwise(0L))
      .filter(col("n_copies") >= 1) // sequence(1,0) would count DOWN
      .select(col(idCol), col("domain"),
        explode(sequence(lit(1), col("n_copies").cast("int"))).as("copy_idx"))
  }

  /** Per-key quota sampling: keep at most `quota` rows per `keyCol`,
    * chosen deterministically by the id's md5 (web-corpus curation's
    * "cap documents per domain" rule — a handful of giant domains must
    * not dominate the training mix).
    *
    * Exactly equivalent to one rank-per-key window, but computed in TWO
    * phases so a mega-key never sorts in a single task: phase 1 ranks
    * within (key, salt) — the salt is the last hex nibble of the rank
    * key itself, so it is deterministic and evenly splits every key 16
    * ways — and keeps `quota` per salt slice. The global per-key top
    * `quota` is contained in the union of per-slice top `quota`s, so
    * phase 2 re-ranks at most 16·quota survivors per key and its window
    * partitions are bounded by 16·quota rows REGARDLESS of key skew.
    * At 100 TB a single domain can hold billions of rows; the biggest
    * sort any one task does here is still 16·quota elements. */
  def domainQuota(df: DataFrame, keyCol: String, idCol: String,
                  quota: Int, salts: Int = 16): DataFrame = {
    require(salts >= 1 && salts <= 16, "salt count derives from one hex nibble")
    import org.apache.spark.sql.expressions.Window
    val withRk = df.withColumn("__rk", shuffleKey(col(idCol)))
      .withColumn("__salt",
        conv(substring(col("__rk"), 32, 1), 16, 10).cast("int") % salts)
    val slice = Window.partitionBy(col(keyCol), col("__salt"))
      .orderBy(col("__rk"), col(idCol))
    val survivors = withRk
      .withColumn("__r1", row_number().over(slice))
      .filter(col("__r1") <= quota)
    val global = Window.partitionBy(col(keyCol)).orderBy(col("__rk"), col(idCol))
    survivors
      .withColumn("rnk", row_number().over(global).cast("int"))
      .filter(col("rnk") <= quota)
      .drop("__rk", "__salt", "__r1")
  }
}
