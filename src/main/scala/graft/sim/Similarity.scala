package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two tiers (builder prompt):
  *   - brute-force cosine: exact, O(n·m·d) — the correctness baseline and
  *     the right answer when one side is small (query batches);
  *   - random-hyperplane LSH buckets: candidate generation by signature
  *     equi-join (Charikar 2002), turning all-pairs into a bucket join —
  *     the 100 TB scale path.
  *
  * Dot products use fixed-point integer math: each element quantizes to
  * round(v·10⁶) as a 64-bit int, products and sums stay integer (exact,
  * order-independent — a 64-dim dot of ±10⁶-scale values is ≪ 2⁶³), and
  * cosine is derived from the integers in one double division at the
  * end. Results (and therefore top-k order) are bit-identical across
  * partitionings and engines; plain double sums would make ranking
  * nondeterministic run-to-run at scale, and decimal accumulation ties
  * the result to each engine's double→decimal rounding of the shortest
  * vs exact binary representation.
  */
object Similarity {

  /** Fixed-point quantization scale: 10⁶ ≈ keep 6 fractional digits. */
  val Quant = 1e6

  private def q(x: Column): Column = round(x.cast("double") * Quant).cast("long")

  /** Exact, order-independent fixed-point dot product of two float
    * vectors (a 64-bit integer — convert to double only for ratios).
    * Backed by the native codegen'd [[graft.functions.FixedPointDot]]
    * expression — one fused loop inside WholeStageCodegen; this is the
    * per-ROW hot path of every norm computation over the vector plane.
    * For large PAIR sets prefer the exploded element join (see
    * [[pairDots]]): pair volume wants the join/aggregate shape, not a
    * per-pair scalar call. */
  def dotFixed(a: Column, b: Column): Column =
    graft.functions.FixedPointDot.fixed_point_dot(a, b)

  /** The Column-only reference form of [[dotFixed]] (interpreted HOFs:
    * zip_with materializes an intermediate array, aggregate runs a
    * lambda per element outside codegen). Kept as the semantic
    * definition the native expression is spec-checked against
    * bit-for-bit. */
  def dotFixedColumns(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => q(x) * q(y)), lit(0L), (acc, v) => acc + v)

  /** (vec_id, pos, qv): the fixed-point elements, one row each — the
    * join-friendly layout for bulk dot products. Quantization is the
    * native codegen'd [[graft.functions.FixedPointQuantize]] (an
    * interpreted `transform` lambda would run 64 boxed calls per row
    * ahead of every element join). */
  def elements(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      posexplode(graft.functions.FixedPointQuantize.fixed_point_quantize(col("embedding")))
        .as(Seq("pos", "qv")))

  /** Bulk exact dot products for an id-pair set via the element join:
    * (ida, idb) → (ida, idb, dot). One shuffle on (id, pos), one
    * codegen'd hash aggregate — no per-pair lambdas. */
  def pairDots(pairs: DataFrame, embA: DataFrame, embB: DataFrame,
               aCol: String, bCol: String): DataFrame =
    pairs
      .join(elements(embA).select(col("vec_id").as(aCol), col("pos"), col("qv").as("qa")), Seq(aCol))
      .join(elements(embB).select(col("vec_id").as(bCol), col("pos"), col("qv").as("qb")), Seq(bCol, "pos"))
      .groupBy(aCol, bCol)
      .agg(sum(col("qa") * col("qb")).as("dot"))

  /** (vec_id, nsq) only — for joining norms onto pair sets. */
  def norms(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      dotFixed(col("embedding"), col("embedding")).cast("double").as("nsq"))

  private def cosExpr: Column =
    col("dot").cast("double") / sqrt(col("na") * col("nb"))

  /** All pairs (va < vb) with cosine ≥ threshold — brute force. */
  def cosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    val ids = emb.select(col("vec_id"))
    val cand = ids.select(col("vec_id").as("va"))
      .crossJoin(ids.select(col("vec_id").as("vb")))
      .filter(col("va") < col("vb"))
    val n = norms(emb)
    pairDots(cand, emb, emb, "va", "vb")
      .join(n.select(col("vec_id").as("va"), col("nsq").as("na")), Seq("va"))
      .join(n.select(col("vec_id").as("vb"), col("nsq").as("nb")), Seq("vb"))
      .select(col("va"), col("vb"), cosExpr.as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Cluster-blocked semantic-contamination screen: flag every
    * non-benchmark vector with a benchmark neighbour at cosine ≥
    * `threshold`, where candidates form only within an IVF cluster
    * (the [[semDedup]] blocking applied asymmetrically) — the pair
    * stage is Σ n_train_c·n_bench_c, never |train|·|bench|. Verdict is
    * total: (vec_id, n_bench_near, max_cand_cos, is_contaminated) for
    * every train vector. `nlist` follows the IVF sizing rule (√n) to
    * keep blocks bounded as the corpus grows; recall is traded for the
    * blocking (a cross-cluster neighbour is missed) — the same
    * screen-vs-exact contract as every bucketed detector here. */
  def semanticContam(emb: DataFrame, isBench: Column, threshold: Double,
                     nlist: Int = 16, iters: Int = 2): DataFrame = {
    val (_, asg) = ivfIndex(emb, nlist, iters)
    semanticContamOnIndex(emb, asg, isBench, threshold)
  }

  /** [[semanticContam]]'s verdict off a standing (vec_id, cluster)
    * assignment table — the service shape, exactly [[semDedupOnIndex]]'s
    * relationship to [[semDedup]]: the IVF index is trained once and
    * every screen pass probes it (the bench reuses the SAME persisted
    * assignment table for x61 and x74). Probe ≡ gate is spec-pinned
    * across a parquet round trip. */
  def semanticContamOnIndex(emb: DataFrame, assignments: DataFrame,
                            isBench: Column, threshold: Double): DataFrame = {
    val a = assignments.select(col("vec_id"), col("cluster"))
    val bench = a.filter(isBench).select(col("vec_id").as("bid"), col("cluster"))
    val train = a.filter(!isBench).select(col("vec_id").as("tid"), col("cluster"))
    val cand = train.join(bench, Seq("cluster")).select("tid", "bid")
    val agg = pairCosines(cand, emb, "tid", "bid")
      .groupBy("tid").agg(
        sum(when(col("cos") >= threshold, 1L).otherwise(0L)).as("nn"),
        max("cos").as("mx"))
    emb.filter(!isBench).select("vec_id")
      .join(agg.withColumnRenamed("tid", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("nn"), lit(0L)).as("n_bench_near"),
        coalesce(col("mx"), lit(0.0)).as("max_cand_cos"),
        (coalesce(col("nn"), lit(0L)) > 0).cast("int").as("is_contaminated"))
  }

  /** Exact fixed-point cosine for an arbitrary id-pair set: (aCol,
    * bCol) → (aCol, bCol, cos). The bulk element-join shape
    * ([[pairDots]] + norms) — no per-pair lambdas; pair generation is
    * the caller's (blocked, banded, cluster-keyed — whatever bounds the
    * candidate set at scale). */
  def pairCosines(pairs: DataFrame, emb: DataFrame,
                  aCol: String, bCol: String): DataFrame = {
    val n = norms(emb)
    pairDots(pairs, emb, emb, aCol, bCol)
      .join(n.select(col("vec_id").as(aCol), col("nsq").as("na")), Seq(aCol))
      .join(n.select(col("vec_id").as(bCol), col("nsq").as("nb")), Seq(bCol))
      .select(col(aCol), col(bCol), cosExpr.as("cos"))
  }

  /** Exact top-k neighbours for a set of query vectors (brute force). */
  def topK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cand = queries.select(col("vec_id").as("qid"))
      .crossJoin(emb.select(col("vec_id").as("vb")))
      .filter(col("qid") =!= col("vb"))
    val scored = pairDots(cand, queries, emb, "qid", "vb")
      .join(norms(queries).select(col("vec_id").as("qid"), col("nsq").as("na")), Seq("qid"))
      .join(norms(emb).select(col("vec_id").as("vb"), col("nsq").as("nb")), Seq("vb"))
      .select(col("qid"), col("vb"), cosExpr.as("cos"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cos"), col("vb"))))
      .filter(col("rank") <= k)
  }

  /** Near-dup pairs restricted to a blocking key (e.g. a cluster/label
    * column): the 100 TB-friendly shape of all-pairs search — the
    * equi-join on the block turns O(n²) into Σ per-block², and each
    * block's pairs co-locate on one shuffle partition. Dots go through
    * the element join on (label, pos): whole-stage-codegen'd long
    * multiply-adds instead of per-pair array lambdas. */
  def blockedCosinePairs(emb: DataFrame, blockCol: String, threshold: Double): DataFrame = {
    val lab = emb.select(col("vec_id"), col(blockCol).as("label"))
    val el = elements(emb).join(lab, Seq("vec_id"))
    val a = el.select(col("label"), col("vec_id").as("va"), col("pos"), col("qv").as("qa"))
    val b = el.select(col("label"), col("vec_id").as("vb"), col("pos"), col("qv").as("qb"))
    val dots = a.join(b, Seq("label", "pos")).filter(col("va") < col("vb"))
      .groupBy("label", "va", "vb").agg(sum(col("qa") * col("qb")).as("dot"))
    val n = norms(emb)
    dots
      .join(n.select(col("vec_id").as("va"), col("nsq").as("na")), Seq("va"))
      .join(n.select(col("vec_id").as("vb"), col("nsq").as("nb")), Seq("vb"))
      .select(col("label"), col("va"), col("vb"), cosExpr.as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ---------------- IVF (inverted file index) ----------------

  /** Pivot long-form centroids (cluster, pos, cq) to one wide row per
    * pos: (pos, c0..c{nlist-1}). nlist·dim cells — bounded, broadcast-
    * friendly. A cluster that lost every member mid-k-means shows as
    * NULL columns (skipped downstream, matching the long form where it
    * simply had no rows). */
  private def centroidsWide(centroids: DataFrame, nlist: Int): DataFrame = {
    val cols = (0 until nlist).map(k =>
      sum(when(col("cluster") === k, col("cq"))).as(s"c$k"))
    centroids.groupBy("pos").agg(cols.head, cols.tail: _*)
  }

  /** (vec_id, d0..d{nlist-1}): exact integer dots of every vector
    * against every centroid. ONE narrow broadcast join (the wide
    * centroid row rides along each element — no nlist× row explosion)
    * + ONE map-side-combined aggregate. The join key `pos` has only
    * `dim` distinct values — as a shuffle join it would funnel the
    * element table through ≤dim skewed partitions; the centroid table
    * is bounded (nlist ≈ √n), so it broadcasts and the elements never
    * move. */
  private def clusterDots(el: DataFrame, centroids: DataFrame, nlist: Int): DataFrame = {
    val aggs = (0 until nlist).map(k => sum(col("qv") * col(s"c$k")).as(s"d$k"))
    el.join(broadcast(centroidsWide(centroids, nlist)), Seq("pos"))
      .groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Assign every vector to its max-inner-product centroid. Ties break
    * to the lowest cluster id — fully deterministic: array_position
    * returns the FIRST index holding the max, and nulls (empty
    * clusters) are never the max. Argmax is a pure projection over the
    * pivoted dots — no window, no sort, no second shuffle (the r4 form
    * paid join-explosion × nlist, a (vec_id, cluster) aggregate AND a
    * ranking window per k-means round). */
  private def assign(el: DataFrame, centroids: DataFrame, nlist: Int): DataFrame = {
    val ds = array((0 until nlist).map(k => col(s"d$k")): _*)
    clusterDots(el, centroids, nlist)
      .select(col("vec_id"),
        (array_position(ds, array_max(ds)) - 1).cast("int").as("cluster"))
  }

  /** Build an IVF index: deterministic seeding (the nlist lowest vec_ids
    * are the initial centroids), then `iters` rounds of relational
    * k-means — assignment is an element join + argmax, the update is a
    * per-(cluster, pos) mean. All distances are exact fixed-point
    * integer dots, so the index is identical on every run/partitioning.
    *
    * An index build is a TERMINAL operation: the returned (centroids,
    * assignments) frames are cached and materialized before this
    * returns, and the internal element cache is released — after the
    * call the only registered caches are the two returned frames, which
    * the CALLER owns (release with [[ivfUnpersist]] once consumers have
    * materialized; spec-checked against the session CacheManager). */
  def ivfIndex(emb: DataFrame, nlist: Int = 16, iters: Int = 2): (DataFrame, DataFrame) = {
    require(iters >= 1, "ivfIndex needs at least one k-means iteration")
    val sp = emb.sparkSession
    import sp.implicits._
    val el = elements(emb).cache()
    // seed mapping is derived DRIVER-SIDE: the nlist lowest ids are a
    // TakeOrdered job (never a full sort) and nlist rows of index
    // metadata — the same bounded-collect discipline as the centroid
    // loop below. The earlier global row_number() ranked them in an
    // un-partitioned window, firing Spark's "No Partition Defined"
    // warning a dozen times per index build (a literal partition spec
    // doesn't help — Catalyst folds it away and the spec is empty
    // again by execution).
    val seedIds = emb.select(col("vec_id").cast("long")).orderBy("vec_id")
      .limit(nlist).as[Long].collect().sorted.zipWithIndex
      .map { case (id, c) => (id, c) }.toSeq.toDF("vec_id", "cluster")
    def update(a: DataFrame): DataFrame =
      el.join(a, Seq("vec_id"))
        .groupBy("cluster", "pos")
        .agg(round(avg(col("qv"))).cast("long").as("cq"))
    // Each round ends in a driver-side collect of the NEW centroid table
    // — nlist·dim rows (16 KB at the defaults), bounded index METADATA,
    // never corpus-sized (the MLlib KMeans shape). Without it, round i's
    // centroid broadcast re-executes rounds 1..i-1 nested inside its
    // build (lineage grows multiplicatively with iters); with it, every
    // round is exactly one job over the cached elements.
    def collectCent(c: DataFrame): Seq[(Int, Int, Long)] =
      c.select(col("cluster").cast("int"), col("pos").cast("int"), col("cq"))
        .as[(Int, Int, Long)].collect().toSeq
    def centDf(rows: Seq[(Int, Int, Long)]): DataFrame =
      rows.toDF("cluster", "pos", "cq")
    var cent = collectCent(el.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("cluster"), col("pos"), col("qv").as("cq")))
    for (_ <- 1 to iters) {
      cent = collectCent(update(assign(el, centDf(cent), nlist)))
    }
    val centroids = centDf(cent).cache()
    val assignments = assign(el, centroids, nlist).cache()
    // materialize the returned frames, then drop the element cache —
    // no leaked intermediate storage (caller owns the rest; ivfUnpersist)
    assignments.count()
    centroids.count()
    el.unpersist()
    (centroids, assignments)
  }

  /** Release the caches a [[ivfIndex]] build registered. Call after all
    * consumers of the index have materialized. */
  def ivfUnpersist(centroids: DataFrame, assignments: DataFrame): Unit = {
    centroids.unpersist()
    assignments.unpersist()
  }

  /** IVF-ANN top-k: probe the `nprobe` best centroids per query, score
    * exact cosine only against vectors in the probed clusters. With
    * nprobe = nlist this degenerates to exact brute force (spec-checked);
    * at scale, cost drops by ~nprobe/nlist with the usual recall trade.
    * The cluster equi-join is the shuffle — no all-pairs anywhere.
    *
    * Convenience form: builds a transient index whose two cached frames
    * back the returned plan and stay registered for reuse. A
    * long-running service should call [[ivfIndex]] itself and
    * [[ivfUnpersist]] when done with the index. */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val (centroids, assignments) = ivfIndex(emb, nlist, iters)
    // top-nprobe clusters per query off the pivoted dots: explode the
    // nlist columns back to rows (query-set-sized — tiny) and rank;
    // null dots are empty clusters and never probed
    val probes = clusterDots(elements(queries), centroids, nlist)
      .select(col("vec_id"),
        posexplode(array((0 until nlist).map(k => col(s"d$k")): _*)).as(Seq("cluster", "dot")))
      .filter(col("dot").isNotNull)
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("dot"), col("cluster"))))
      .filter(col("rn") <= nprobe).select(col("vec_id").as("qid"), col("cluster"))
    val cand = probes.join(assignments.select(col("vec_id").as("vb"), col("cluster")), Seq("cluster"))
      .filter(col("qid") =!= col("vb")).select("qid", "vb").distinct()
    val scored = pairDots(cand, queries, emb, "qid", "vb")
      .join(norms(queries).select(col("vec_id").as("qid"), col("nsq").as("na")), Seq("qid"))
      .join(norms(emb).select(col("vec_id").as("vb"), col("nsq").as("nb")), Seq("vb"))
      .select(col("qid"), col("vb"), cosExpr.as("cos"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cos"), col("vb"))))
      .filter(col("rank") <= k)
  }

  /** Per-cluster corpus profile off an IVF index build — member count,
    * summed member norm² and centroid norm², all exact integers (the
    * corpus-segmentation read of the index: how big and how "hot" each
    * cluster is). The aggregation is one map-side-combinable pass over
    * the assignments; the result is nlist-row BOUNDED index metadata,
    * so it comes back as a local frame (the collectCent precedent,
    * never a corpus-sized collect) and every cache the build registered
    * is released before returning — a profile call leaves no storage
    * behind. */
  def ivfClusterProfile(emb: DataFrame, nlist: Int = 16, iters: Int = 2): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val (centroids, assignments) = ivfIndex(emb, nlist, iters)
    val nrm = elements(emb).groupBy("vec_id")
      .agg(sum(col("qv") * col("qv")).as("nsq"))
    val prof = assignments.join(nrm, Seq("vec_id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"), sum("nsq").as("sum_nsq"))
    val centN = centroids.groupBy("cluster")
      .agg(sum(col("cq") * col("cq")).as("cent_nsq"))
    val rows = prof.join(centN, Seq("cluster"))
      .select(col("cluster").cast("int"), col("n_vecs"),
        col("sum_nsq"), col("cent_nsq"))
      .as[(Int, Long, Long, Long)].collect().toSeq
    ivfUnpersist(centroids, assignments)
    rows.toDF("cluster", "n_vecs", "sum_nsq", "cent_nsq")
  }

  /** Per-cluster k-means inertia — the index-QUALITY read on top of
    * [[ivfClusterProfile]]'s size profile: Σ|v−c|² per cluster via the
    * exact expansion Σ|v|² − 2Σ(v·c) + n·|c|², all fixed-point integer
    * sums (DECIMAL(38,0) — corpus-scale Σ|v|² overflows a long),
    * converted to double only at the end (inertia, and mean dist² =
    * one exactly-rounded division). A topic-collapsed mega-cluster
    * shows as high n_vecs AND high mean_dist2 — the x47 diagnostic
    * says "big", this one says "big and incoherent", which is what
    * actually predicts a bad x61/x74 pair stage. Shuffle shape: one
    * element join against the BROADCAST centroid table folded into the
    * same map-combined per-vector aggregate as the norms, then an
    * nlist-row fold; the result collects (bounded index metadata) so
    * the k-means caches release before returning. */
  def ivfInertia(emb: DataFrame, nlist: Int = 16, iters: Int = 2): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val (centroids, assignments) = ivfIndex(emb, nlist, iters)
    val perVec = elements(emb)
      .join(assignments, Seq("vec_id"))
      .join(broadcast(centroids), Seq("cluster", "pos"))
      .groupBy("vec_id", "cluster")
      .agg(sum(col("qv") * col("cq")).as("vdot"),
        sum(col("qv") * col("qv")).as("nsq"))
    val prof = perVec.groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("nsq").cast("decimal(38,0)")).as("sum_nsq"),
        sum(col("vdot").cast("decimal(38,0)")).as("sum_dot"))
    val centN = centroids.groupBy("cluster")
      .agg(sum(col("cq") * col("cq")).as("cent_nsq"))
    val rows = prof.join(centN, Seq("cluster"))
      .withColumn("inertia",
        (col("sum_nsq") - lit(2) * col("sum_dot")
          + col("n_vecs").cast("decimal(38,0)") * col("cent_nsq").cast("decimal(38,0)"))
          .cast("double"))
      .select(col("cluster").cast("int"), col("n_vecs"), col("inertia"),
        (col("inertia") / col("n_vecs").cast("double")).as("mean_dist2"))
      .as[(Int, Long, Double, Double)].collect().toSeq
    ivfUnpersist(centroids, assignments)
    rows.toDF("cluster", "n_vecs", "inertia", "mean_dist2")
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the corpus
    * with the IVF k-means, then drop every vector that has a
    * LOWER-vec_id within-cluster neighbour at cosine ≥ `threshold` —
    * near-duplicate *meaning*, not near-duplicate text (paraphrases,
    * translations, templated rewrites that MinHash cannot see).
    *
    * Per-vector verdict: (vec_id, cluster, keep 1/0), keep = no closer
    * predecessor in the cluster. Deterministic: assignments are the
    * exact-integer k-means of [[ivfIndex]], cosines the fixed-point
    * pair dots of [[blockedCosinePairs]].
    *
    * Scale: the all-pairs stage is cluster-blocked — Σ per-cluster²
    * instead of n², the SemDeDup paper's own trick, and each cluster's
    * pairs co-locate on one shuffle partition. nlist grows with √n so
    * blocks stay bounded; the drop set is pair-bounded and joins back
    * id-only. Like [[ivfTopK]], the transient index caches back the
    * returned plan — long-running services build [[ivfIndex]] once and
    * own the lifecycle. */
  def semDedup(emb: DataFrame, threshold: Double,
               nlist: Int = 16, iters: Int = 2): DataFrame = {
    val (_, assignments) = ivfIndex(emb, nlist, iters)
    semDedupOnIndex(emb, assignments, threshold)
  }

  /** [[semDedup]]'s verdict off an arbitrary standing (vec_id, cluster)
    * assignment table — the service shape: a long-running curation
    * pipeline builds the IVF index once ([[ivfIndex]], persisted) and
    * every dedup pass probes it, rather than re-training k-means per
    * call. Probe ≡ gate is spec-pinned across a parquet round trip. */
  def semDedupOnIndex(emb: DataFrame, assignments: DataFrame,
                      threshold: Double): DataFrame = {
    val asg = assignments.select(col("vec_id"), col("cluster"))
    val lab = emb.join(asg, Seq("vec_id"))
    val dropped = blockedCosinePairs(lab, "cluster", threshold)
      .select(col("vb").as("vec_id")).distinct()
    asg.select(col("vec_id"), col("cluster").cast("int").as("cluster"))
      .join(dropped.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("hit").isNull, 1).otherwise(0).as("keep"))
  }

  // ---------------- Scalar quantization (SQ8) ----------------

  /** Per-dimension corpus range (pos, mn, mx) over the fixed-point
    * elements — `dim` rows of bounded index metadata (the SQ codebook),
    * broadcast-friendly at any corpus size. */
  def sq8Range(emb: DataFrame): DataFrame =
    elements(emb).groupBy("pos").agg(min("qv").as("mn"), max("qv").as("mx"))

  /** 8-bit codes against a codebook: element → round((qv−mn)·255/(mx−mn))
    * in INTEGER arithmetic only — `(x·510 + r) div 2r` is round-half-up
    * without touching a double, so codes are bit-identical on any engine
    * (a float divide at a .5 boundary is libm-dependent). A constant
    * dimension (mx = mn) codes to 0. Codes quantize BOTH corpus and
    * queries with the CORPUS range (the standard asymmetric layout: the
    * codebook is built once, query-time vectors reuse it). */
  def sq8Codes(emb: DataFrame, rng: DataFrame): DataFrame =
    elements(emb).join(broadcast(rng), Seq("pos"))
      .select(col("vec_id"), col("pos"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(expr("((qv - mn) * 510 + (mx - mn)) div (2 * (mx - mn))"))
          .as("code"))

  /** Two-stage SQ8 retrieval: shortlist candidates per query by the
    * 8-bit-code dot product, then exact fixed-point re-rank to top-k.
    *
    * The scale argument is bytes, not arithmetic: the first-stage scan
    * reads 1-byte codes where the exact scan reads 4-byte floats (8-byte
    * fixed-point longs here) — a 4-8× smaller sequential scan, the
    * FAISS-SQ8 memory layout expressed relationally — and the exact
    * stage touches only `shortlist` candidates per query instead of the
    * corpus. Both stages are deterministic (integer scores, ties broken
    * on id), so the whole approximate pipeline stays hash-checkable.
    * With shortlist ≥ corpus size it degenerates to exact brute force
    * (spec-checked). */
  def sq8TopK(emb: DataFrame, queries: DataFrame, k: Int, shortlist: Int): DataFrame = {
    val rng = sq8Range(emb)
    val cb = sq8Codes(emb, rng)
    val ca = sq8Codes(queries, rng)
    // code dots via the same element-join shape as pairDots: ids cross,
    // then two codegen'd joins + one map-side-combined aggregate
    val cand = queries.select(col("vec_id").as("qid"))
      .crossJoin(emb.select(col("vec_id").as("vb")))
      .filter(col("qid") =!= col("vb"))
    val qdots = cand
      .join(ca.select(col("vec_id").as("qid"), col("pos"), col("code").as("cq")), Seq("qid"))
      .join(cb.select(col("vec_id").as("vb"), col("pos"), col("code").as("cv")), Seq("vb", "pos"))
      .groupBy("qid", "vb").agg(sum(col("cq") * col("cv")).as("qdot"))
    val short = qdots.withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("qdot"), col("vb"))))
      .filter(col("rn") <= shortlist).select("qid", "vb")
    val n = norms(emb)
    val scored = pairDots(short, queries, emb, "qid", "vb")
      .join(norms(queries).select(col("vec_id").as("qid"), col("nsq").as("na")), Seq("qid"))
      .join(n.select(col("vec_id").as("vb"), col("nsq").as("nb")), Seq("vb"))
      .select(col("qid"), col("vb"), cosExpr.as("cos"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cos"), col("vb"))))
      .filter(col("rank") <= k)
  }

  // ---------------- Product quantization (PQ) ----------------

  /** PQ geometry: 64-dim vectors split into 4 subspaces of [[PqSubDim]]
    * dims, [[PqKs]] centroids per subspace — 4 one-byte codes per
    * vector (16× smaller than the float row), the FAISS-PQ layout.
    * Shared with the generated oracle SQL. */
  val PqSubDim = 16
  val PqKs = 8

  /** (vec_id, sub, pos, qv): fixed-point elements tagged with their
    * subspace (sub = pos / subDim, 0-based). */
  private def subElements(emb: DataFrame, subDim: Int): DataFrame =
    elements(emb).withColumn("sub", (col("pos") / subDim).cast("int"))

  // (sub, pos, c0..c{ks-1}): per-subspace centroids pivoted wide, so the
  // element join rides ks columns instead of exploding ks× rows — the
  // clusterDots shape with the subspace added to the key
  private def pqCentroidsWide(cent: DataFrame, ks: Int): DataFrame = {
    val cols = (0 until ks).map(c =>
      sum(when(col("cluster") === c, col("cq"))).as(s"c$c"))
    cent.groupBy("sub", "pos").agg(cols.head, cols.tail: _*)
  }

  /** Per-(vector, subspace) code: argmax-dot centroid, ties to the
    * lowest cluster (the [[ivfIndex]] assign idiom per subspace). */
  private def pqAssign(el: DataFrame, cent: DataFrame, ks: Int): DataFrame = {
    val dotCols = (0 until ks).map(c => sum(col("qv") * col(s"c$c")).as(s"d$c"))
    val ds = array((0 until ks).map(c => col(s"d$c")): _*)
    el.join(broadcast(pqCentroidsWide(cent, ks)), Seq("sub", "pos"))
      .groupBy("vec_id", "sub").agg(dotCols.head, dotCols.tail: _*)
      .select(col("vec_id"), col("sub"),
        (array_position(ds, array_max(ds)) - 1).cast("int").as("cluster"))
  }

  /** Build a PQ codebook + code table (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search"): an independent
    * max-inner-product k-means per subspace — run as ONE relational
    * loop with (sub, cluster) as the compound key, so all subspaces
    * train in the same jobs — then one code per (vector, subspace).
    *
    * Same discipline as [[ivfIndex]]: deterministic seeds (the ks
    * lowest vec_ids' subvectors, a driver-side TakeOrdered), exact
    * fixed-point integer dots, per-round bounded centroid collect
    * (numSub·ks·subDim cells ≈ 4 KB — index METADATA) to cut lineage,
    * and the returned (centroids, codes) caches are materialized before
    * the internal element cache is dropped; the CALLER owns them. */
  def pqIndex(emb: DataFrame, subDim: Int = PqSubDim, ks: Int = PqKs,
              iters: Int = 2): (DataFrame, DataFrame) = {
    val sp = emb.sparkSession
    import sp.implicits._
    val el = subElements(emb, subDim).cache()
    val seedIds = emb.select(col("vec_id").cast("long")).orderBy("vec_id")
      .limit(ks).as[Long].collect().sorted.zipWithIndex
      .map { case (id, c) => (id, c) }.toSeq.toDF("vec_id", "cluster")
    def update(a: DataFrame): DataFrame =
      el.join(a, Seq("vec_id", "sub"))
        .groupBy("sub", "cluster", "pos")
        .agg(round(avg(col("qv"))).cast("long").as("cq"))
    def collectCent(c: DataFrame): Seq[(Int, Int, Int, Long)] =
      c.select(col("sub").cast("int"), col("cluster").cast("int"),
        col("pos").cast("int"), col("cq"))
        .as[(Int, Int, Int, Long)].collect().toSeq
    def centDf(rows: Seq[(Int, Int, Int, Long)]): DataFrame =
      rows.toDF("sub", "cluster", "pos", "cq")
    var cent = collectCent(el.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("sub"), col("cluster"), col("pos"), col("qv").as("cq")))
    for (_ <- 1 to iters) {
      cent = collectCent(update(pqAssign(el, centDf(cent), ks)))
    }
    val centroids = centDf(cent).cache()
    val codes = pqAssign(el, centroids, ks).cache()
    codes.count()
    centroids.count()
    el.unpersist()
    (centroids, codes)
  }

  /** Two-stage PQ retrieval: shortlist by asymmetric-distance (ADC)
    * scores, exact fixed-point re-rank to top-k (the [[sq8TopK]] tail).
    *
    * ADC relationally: the query side folds to a LUT of
    * (qid, sub, cluster) → exact dot — queries·numSub·ks rows of
    * bounded metadata, broadcast — and the corpus side is ONE narrow
    * pass over the code table (numSub 1-byte codes per vector, no
    * float payloads) joined against that LUT and map-side-combined to
    * (qid, vb, score). The corpus never touches query vectors and the
    * shuffle carries only id pairs + integer partial sums — the PQ
    * scan-cost story (codes are 16× smaller than rows) expressed as a
    * broadcast-join plan. Scores and ties are all-integer, so the
    * approximate stage is hash-checkable like SQ8's. */
  def pqTopK(emb: DataFrame, queries: DataFrame, k: Int, shortlist: Int,
             subDim: Int = PqSubDim, ks: Int = PqKs, iters: Int = 2): DataFrame = {
    val (centroids, codes) = pqIndex(emb, subDim, ks, iters)
    val lut = subElements(queries, subDim)
      .join(broadcast(centroids), Seq("sub", "pos"))
      .groupBy(col("vec_id").as("qid"), col("sub"), col("cluster"))
      .agg(sum(col("qv") * col("cq")).as("d"))
    val adc = codes.select(col("vec_id").as("vb"), col("sub"), col("cluster"))
      .join(broadcast(lut), Seq("sub", "cluster"))
      .filter(col("qid") =!= col("vb"))
      .groupBy("qid", "vb").agg(sum("d").as("score"))
    val short = adc.withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("score"), col("vb"))))
      .filter(col("rn") <= shortlist).select("qid", "vb")
    val scored = pairDots(short, queries, emb, "qid", "vb")
      .join(norms(queries).select(col("vec_id").as("qid"), col("nsq").as("na")), Seq("qid"))
      .join(norms(emb).select(col("vec_id").as("vb"), col("nsq").as("nb")), Seq("vb"))
      .select(col("qid"), col("vb"), cosExpr.as("cos"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cos"), col("vb"))))
      .filter(col("rank") <= k)
  }

  // ---------------- LSH (random hyperplanes) ----------------

  /** Fixed signature geometry: 32 hyperplanes split into 4 bands of
    * 8 bits (Charikar signatures bucketed MinHash-style). Candidates
    * must agree on at least one full band, so per-band bucket count is
    * 2^(numPlanes/numBands) — widen the bands as the corpus grows (see
    * [[adaptivePlanes]]) to keep bucket size, and therefore the bucket
    * self-join, bounded. The earlier fixed 16-bit/2-chunk geometry
    * capped buckets at 256 per chunk: candidate volume grew ~n²/256.
    *
    * NumPlanes is the floor the adaptive resolution clamps to (and the
    * pinned width for oracle-fixed runs); since round 15 the FULL-CORPUS
    * entry points ([[annTopK]], [[annTopKBounded]]) default to
    * [[AdaptiveGeometry]] instead — a fixed width is only safe when the
    * caller has already sized it against n. */
  val NumPlanes = 32
  val NumBands = 4

  /** Sentinel for the `numPlanes` parameter of [[annTopK]] /
    * [[annTopKBounded]]: resolve the signature width from the corpus
    * size at build time ([[adaptivePlanes]] of one count job). The
    * DEFAULT since round 15 — any fixed geometry has candidate volume
    * ∝ n²/buckets once the corpus outgrows its bucket count (the r14
    * sf1 measurement: fixed 32-plane x13 read 73.9× per 10× on the
    * perturbed replica, adaptive 13.2×). */
  val AdaptiveGeometry: Int = -1

  /** Signature width that scales with corpus size: per-band bucket
    * count 2^w ≈ n / targetBucket, so expected bucket size stays
    * ~targetBucket as n grows (w capped at 15 so numBands·w fits a
    * long; beyond that raise numBands too). Returns total planes =
    * numBands · max(8, w).
    *
    * w = ceil(log2(n / targetBucket)) computed FLOAT-FREE — the
    * smallest w with targetBucket·2^w ≥ n — so the generated oracle
    * SQL reproduces the resolution exactly (a float log2 at a power-of
    * -two boundary can round differently across libms). */
  def adaptivePlanes(n: Long, numBands: Int = NumBands, targetBucket: Int = 16): Int = {
    var w = 1
    while ((targetBucket.toLong << w) < n && w < 15) w += 1
    numBands * math.max(8, w)
  }

  /** Deterministic pseudo-random ±1 hyperplane weights (seed 42).
    * Driver-side literals — the oracle-SQL generator embeds them. A
    * wider family shares its prefix with a narrower one (same stream). */
  private[graft] def planeWeights(dim: Int, numPlanes: Int = NumPlanes): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(numPlanes, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** numPlanes-bit signature (a long): bit p = sign(w_p · v), computed
    * as exact integer dots of the quantized elements against a broadcast
    * ±1 weight table — one codegen'd join+aggregate, bit-reproducible on
    * any engine given the same weight literals (the oracle embeds them).
    * The weight table is numPlanes × dim literals — bounded, never
    * corpus-sized, so the broadcast is safe at any scale. */
  def signatures(emb: DataFrame, dim: Int, numPlanes: Int = NumPlanes): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val w = planeWeights(dim, numPlanes)
    val wDf = (for { p <- 0 until numPlanes; d <- 0 until dim }
      yield (p, d, w(p)(d).toLong)).toDF("p", "pos", "wt")
    // the weight join fans ×numPlanes×dim per vector — widen a
    // narrower-than-cluster corpus first (identity at production scan
    // widths; see ScanTuning). Applied HERE, not inside elements():
    // loop-shaped consumers (PQ subspace k-means) call elements on tiny
    // frames repeatedly, where an added exchange per call is a net loss.
    val pd = elements(graft.util.ScanTuning.ensureParallelism(emb, col("vec_id")))
      .join(broadcast(wDf), Seq("pos"))
      .groupBy("vec_id", "p").agg(sum(col("qv") * col("wt")).as("dot"))
    pd.groupBy("vec_id")
      .agg(sum(when(col("dot") > 0, expr("shiftleft(CAST(1 AS BIGINT), p)"))
        .otherwise(0L)).as("sig"))
  }

  /** Johnson-Lindenstrauss-style random projection to `outDim`
    * dimensions with deterministic ±1 weights (the dense Achlioptas
    * variant): long-form output (vec_id, proj_dim, v) where v is the
    * EXACT fixed-point integer dot of the quantized vector against the
    * weight row — no floats anywhere, so the reduced representation is
    * bit-identical on every engine and partitioning. The weight table
    * is outDim × dim literals (bounded broadcast); the reduce is one
    * codegen'd join + map-side-combined aggregate. */
  def randomProjection(emb: DataFrame, dim: Int, outDim: Int): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val w = planeWeights(dim, outDim)
    val wDf = (for { p <- 0 until outDim; d <- 0 until dim }
      yield (p, d, w(p)(d).toLong)).toDF("p", "pos", "wt")
    elements(emb).join(broadcast(wDf), Seq("pos"))
      .groupBy(col("vec_id"), col("p").as("proj_dim"))
      .agg(sum(col("qv") * col("wt")).as("v"))
  }

  /** (vec_id, band_idx, band): the LSH bucket table — numBands bands of
    * numPlanes/numBands bits each. */
  def sigBands(sig: DataFrame, numPlanes: Int = NumPlanes, numBands: Int = NumBands): DataFrame = {
    val w = numPlanes / numBands
    val mask = (1L << w) - 1
    sig.select(col("vec_id"),
      posexplode(array((0 until numBands).map(b =>
        shiftrightunsigned(col("sig"), b * w).bitwiseAND(mask)): _*))
        .as(Seq("band_idx", "band")))
  }

  /** Embedding-space near-duplicate pairs: LSH band candidates (va < vb,
    * each pair once), exact fixed-point cosine on candidates only, keep
    * pairs at or above `threshold` — the dedup-by-embedding companion to
    * [[annTopK]] (threshold semantics instead of top-k) and to
    * [[blockedCosinePairs]] when no blocking key exists. Ids-only through
    * the bucket join; one shuffle per stage, no all-pairs anywhere. */
  def annNearDupPairs(emb: DataFrame, dim: Int, threshold: Double,
                      numPlanes: Int = NumPlanes, numBands: Int = NumBands): DataFrame = {
    val banded = sigBands(signatures(emb, dim, numPlanes), numPlanes, numBands)
    val a = banded.select(col("vec_id").as("va"), col("band_idx"), col("band"))
    val b = banded.select(col("vec_id").as("vb"), col("band_idx"), col("band"))
    val cand = a.join(b, Seq("band_idx", "band")).filter(col("va") < col("vb"))
      .select("va", "vb").distinct()
    val n = norms(emb)
    pairDots(cand, emb, emb, "va", "vb")
      .join(n.select(col("vec_id").as("va"), col("nsq").as("na")), Seq("va"))
      .join(n.select(col("vec_id").as("vb"), col("nsq").as("nb")), Seq("vb"))
      .select(col("va"), col("vb"), cosExpr.as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** ANN: candidates share at least one signature band, then exact
    * cosine + top-k within candidates only. Candidate generation carries
    * only ids (never the vectors) through the bucket join and distinct;
    * dots and norms join in afterwards. Geometry is parameterized —
    * pass `adaptivePlanes(n)` to keep bucket sizes bounded at scale. */
  /** [[annTopK]] with geometry resolved from the corpus size: one count
    * job (an index build knows n anyway), then `adaptivePlanes(n)` picks
    * the signature width that keeps expected bucket size ≈ targetBucket.
    * Use this form when n is not known a priori; the fixed-geometry form
    * stays for oracle-pinned/pre-sized runs. */
  def annTopKAdaptive(emb: DataFrame, dim: Int, k: Int, targetBucket: Int = 16): DataFrame = {
    val planes = adaptivePlanes(emb.count(), NumBands, targetBucket)
    annTopK(emb, dim, k, planes, NumBands)
  }

  /** Resolve a geometry argument: the [[AdaptiveGeometry]] sentinel
    * becomes `adaptivePlanes(count(corpus))` — one count job, the same
    * float-free resolution the generated oracles replay from their own
    * count(*) — any explicit width passes through untouched. */
  private def resolvePlanes(emb: DataFrame, numPlanes: Int, numBands: Int): Int =
    if (numPlanes == AdaptiveGeometry) adaptivePlanes(emb.count(), numBands)
    else numPlanes

  /** [[annTopK]] restricted to a sampled query set — the recall-audit /
    * serving shape: the band table over the FULL corpus is the
    * persisted index, while the probe side semi-joins down to the
    * sampled query ids BEFORE the bucket join, so candidate volume
    * scales with |queries| × bucket size, never corpus². The sampled
    * query set of a recall audit is small by construction, hence the
    * broadcast; the corpus-side index is never broadcast. */
  def annTopKForQueries(emb: DataFrame, queries: DataFrame, dim: Int, k: Int,
                        numPlanes: Int = NumPlanes, numBands: Int = NumBands): DataFrame =
    annTopKOnIndex(sigBands(signatures(emb, dim, numPlanes), numPlanes, numBands),
      emb, queries, k)

  /** [[annTopKForQueries]] over an ALREADY-MATERIALIZED band table —
    * the serving shape proper: a service builds the index once
    * ([[sigBands]] of [[signatures]], persisted), and every probe is
    * just the semi-join + bucket join + exact re-rank below, never a
    * corpus signature rebuild. [[annTopKForQueries]] delegates here
    * with a freshly-built band table, so the two forms are the same
    * plan over the same input by construction. */
  def annTopKOnIndex(banded: DataFrame, emb: DataFrame, queries: DataFrame,
                     k: Int): DataFrame = {
    val a = banded.select(col("vec_id").as("qid"), col("band_idx"), col("band"))
      .join(broadcast(queries.select(col("vec_id").as("qid"))), Seq("qid"), "left_semi")
    val b = banded.select(col("vec_id").as("vb"), col("band_idx"), col("band"))
    val cand = a.join(b, Seq("band_idx", "band")).filter(col("qid") =!= col("vb"))
      .select("qid", "vb").distinct()
    val n = norms(emb)
    val scored = pairDots(cand, emb, emb, "qid", "vb")
      .join(n.select(col("vec_id").as("qid"), col("nsq").as("na")), Seq("qid"))
      .join(n.select(col("vec_id").as("vb"), col("nsq").as("nb")), Seq("vb"))
      .select(col("qid"), col("vb"), cosExpr.as("cos"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cos"), col("vb"))))
      .filter(col("rank") <= k)
  }

  /** Full-corpus ANN top-k, clone-collapsed. Exact-duplicate QUANTIZED
    * vectors are indistinguishable everywhere downstream (same
    * signature ⇒ same bands, same dots, same norms ⇒ same cosines), so
    * the band self-join — the stage that goes quadratic when a clone
    * group of size g contributes g² candidate pairs per band — runs
    * over ONE representative per distinct array. Clone-group neighbors
    * are reconstructed arithmetically afterwards through the very same
    * double expressions the scored pipeline evaluates (dot = na = nb =
    * nsq for an identical pair), so the output is bit-identical to the
    * uncollapsed plan on any input while candidate volume stays linear
    * in clone count: a web-scale corpus is clone-heavy BEFORE dedup
    * (sf1 replica: the uncollapsed form measured 389 s / 209× per 10×;
    * this form re-measures linear).
    *
    * Truncation losslessness: all members of a neighbor group share one
    * cosine vs any probe, and ties rank by ascending vb — so only a
    * group's k lowest ids can ever reach a top-k list (anything deeper
    * loses to k same-cos lower ids from its own group), and only the
    * k+1 lowest clone-mates can reach a member's own list (k+1 covers
    * the member itself appearing in the prefix). Both caps are exact,
    * never heuristics.
    *
    * Geometry defaults to [[AdaptiveGeometry]] (round 15): the
    * signature width resolves from the corpus count so bucket
    * occupancy — and with it the band self-join — stays bounded as n
    * grows; a fixed width is ∝ n²/buckets past its design size (the
    * r14 perturbed-replica measurement: 73.9× vs 13.2× per 10×). Pass
    * an explicit width only for oracle-pinned/pre-sized runs. */
  def annTopK(emb: DataFrame, dim: Int, k: Int,
              numPlanes: Int = AdaptiveGeometry, numBands: Int = NumBands): DataFrame = {
    // geometry resolves BEFORE the collapse, from the FULL corpus count
    // (an index build knows n anyway; the oracle replays the same
    // resolution from its own count(*) over the same table) — the
    // collapsed rep count would under-size buckets exactly on the
    // clone-heavy corpora the collapse exists for
    val planes = resolvePlanes(emb, numPlanes, numBands)
    // group id = min vec_id per distinct quantized array; empty/null
    // embeddings have no signature rows in the uncollapsed plan (never
    // candidates), so they are excluded here too
    val mem = emb
      .select(col("vec_id"), col("embedding"),
        graft.functions.FixedPointQuantize.fixed_point_quantize(col("embedding")).as("qarr"))
      .filter(size(col("qarr")) > 0)
      .withColumn("gid", min(col("vec_id")).over(Window.partitionBy("qarr")))
      .drop("qarr")
    // mem feeds reps, lowIds, internal and the fan-out union UNCACHED
    // by measurement: ReuseExchange already dedupes the qarr window's
    // shuffle, and a .cache() here measured a wash at sf0.1 (x13
    // 2.09→1.96, x35 1.72→1.94) and a slight LOSS at the 10× replica
    // (x13 2.46→2.66) — the x218-zones lesson again: don't cache what
    // exchange reuse already shares
    val reps = mem.filter(col("vec_id") === col("gid")).select("vec_id", "embedding")
    // the k+1 lowest member ids per group — all any top-k list can use
    val lowIds = mem.select(col("vec_id"), col("gid"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("gid").orderBy("vec_id")))
      .filter(col("rn") <= k + 1)

    // rep-level LSH pipeline — the uncollapsed plan, over representatives
    val banded = sigBands(signatures(reps, dim, planes), planes, numBands)
    val a = banded.select(col("vec_id").as("qg"), col("band_idx"), col("band"))
    val b = banded.select(col("vec_id").as("vg"), col("band_idx"), col("band"))
    val cand = a.join(b, Seq("band_idx", "band")).filter(col("qg") =!= col("vg"))
      .select("qg", "vg").distinct()
    val n = norms(reps)
    val scoredReps = pairDots(cand, reps, reps, "qg", "vg")
      .join(n.select(col("vec_id").as("qg"), col("nsq").as("na")), Seq("qg"))
      .join(n.select(col("vec_id").as("vg"), col("nsq").as("nb")), Seq("vg"))
      .select(col("qg"), col("vg"), cosExpr.as("cos"))

    // per source GROUP: expand each neighbor group to its k lowest
    // member ids, keep the k best (cos desc, vb asc) — every member of
    // the source group shares this exact external top-k
    val ext = scoredReps
      .join(lowIds.filter(col("rn") <= k)
        .select(col("gid").as("vg"), col("vec_id").as("vb")), Seq("vg"))
      .withColumn("xr", row_number().over(
        Window.partitionBy("qg").orderBy(desc("cos"), col("vb"))))
      .filter(col("xr") <= k)
      .select(col("qg").as("gid"), col("vb"), col("cos"))

    // clone-mates: cosine reconstructed through the same expression the
    // scored pipeline evaluates for an identical pair — dot (an exact
    // long < 2⁵³, so its double cast equals nsq) over sqrt(nsq·nsq) —
    // bit-identical, so ties against external candidates rank the same
    val internal = mem.select(col("vec_id"), col("gid"))
      .join(lowIds.select(col("gid"), col("vec_id").as("vb")), Seq("gid"))
      .filter(col("vec_id") =!= col("vb"))
      .join(n.select(col("vec_id").as("gid"), col("nsq")), Seq("gid"))
      .select(col("vec_id").as("qid"), col("vb"),
        (col("nsq") / sqrt(col("nsq") * col("nsq"))).as("cos"))

    // fan back out: each member inherits its group's external top-k,
    // merges its (disjoint) clone-mates, and re-ranks — ≤ 2k+1 rows in
    internal
      .unionByName(mem.select(col("vec_id").as("qid"), col("gid"))
        .join(ext, Seq("gid")).select("qid", "vb", "cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cos"), col("vb"))))
      .filter(col("rank") <= k)
  }

  /** [[annTopK]] with a HARD per-bucket candidate bound — the hot-bucket
    * guard (standard LSH practice, the FAISS "skip over-full lists"
    * move): candidate volume per bucket is size², so ONE pathological
    * bucket — a dense region of near-identical-but-distinct vectors
    * that no exact-dedup collapse removes — can dominate the whole
    * self-join. Buckets larger than `maxBucket` are skipped wholesale
    * (a bucket that big carries no ranking signal: it votes "everything
    * is near everything"), which bounds candidates at
    * n·numBands·maxBucket — LINEAR in n under ANY data distribution,
    * by construction rather than by expectation.
    *
    * The documented recall trade: members of a skipped bucket lose the
    * neighbors they only shared that bucket with (the planted-cluster
    * gate makes the loss hash-visible). Production composition order:
    * exact dedup (x42 / annTopK's collapse) removes clone mass →
    * adaptive geometry ([[adaptivePlanes]]) right-sizes EXPECTED bucket
    * load as n grows → this cap fences the skew the expectation missed.
    * One extra map-combined bucket histogram (buckets-sized) + a
    * semi-join — no new corpus-sized state. */
  def annTopKBounded(emb: DataFrame, dim: Int, k: Int, maxBucket: Int,
                     numPlanes: Int = AdaptiveGeometry, numBands: Int = NumBands): DataFrame = {
    val planes = resolvePlanes(emb, numPlanes, numBands)
    val banded = sigBands(signatures(emb, dim, planes), planes, numBands)
    val cold = banded.join(
      banded.groupBy("band_idx", "band").agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= maxBucket).select("band_idx", "band"),
      Seq("band_idx", "band"), "left_semi")
    val a = cold.select(col("vec_id").as("qid"), col("band_idx"), col("band"))
    val b = cold.select(col("vec_id").as("vb"), col("band_idx"), col("band"))
    val cand = a.join(b, Seq("band_idx", "band")).filter(col("qid") =!= col("vb"))
      .select("qid", "vb").distinct()
    val n = norms(emb)
    pairDots(cand, emb, emb, "qid", "vb")
      .join(n.select(col("vec_id").as("qid"), col("nsq").as("na")), Seq("qid"))
      .join(n.select(col("vec_id").as("vb"), col("nsq").as("nb")), Seq("vb"))
      .select(col("qid"), col("vb"), cosExpr.as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cos"), col("vb"))))
      .filter(col("rank") <= k)
  }

  // ---------------- contrastive-training data mining ----------------

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most cosine-similar corpus vectors whose LABEL
    * differs from the query's — the near-miss negatives that make a
    * contrastive batch informative (random negatives are trivially far
    * at high dimension; the hard ones sit just across the boundary).
    *
    * Shape: query-set-bounded brute force (candidates = queries ×
    * corpus, the x11 discipline) with the cross-label filter applied at
    * candidate generation — same-label pairs never reach the dot-product
    * join. At corpus-sized query sets the candidate stage swaps for the
    * banded ANN index ([[annTopKOnIndex]]) unchanged downstream, since
    * scoring/ranking only see (qid, vb) pairs. Scores are exact
    * fixed-point dots; rank ties break on id — deterministic under any
    * partitioning. */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cand = queries.select(col("vec_id").as("qid"), col("label").as("qlab"))
      .crossJoin(emb.select(col("vec_id").as("vb"), col("label").as("neg_label")))
      .filter(col("qlab") =!= col("neg_label"))
      .select("qid", "vb", "neg_label")
    val n = norms(emb)
    val scored = pairDots(cand.select("qid", "vb"), queries, emb, "qid", "vb")
      .join(norms(queries).select(col("vec_id").as("qid"), col("nsq").as("na")), Seq("qid"))
      .join(n.select(col("vec_id").as("vb"), col("nsq").as("nb")), Seq("vb"))
      .select(col("qid"), col("vb"), cosExpr.as("cos"))
    scored
      .join(emb.select(col("vec_id").as("vb"), col("label").as("neg_label")), Seq("vb"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cos"), col("vb"))))
      .filter(col("rank") <= k)
      .select("qid", "vb", "neg_label", "cos", "rank")
  }

  /** Prototype-classifier label audit (the confident-learning-style
    * label-error screen): each label's prototype is the exact
    * round(avg) centroid of its members' fixed-point elements (the
    * [[ivfIndex]] update convention), every vector scores cosine
    * against every prototype, and a vector whose best prototype is not
    * its own label is flagged as a suspected label error — the cheap
    * first screen run before any human or model relabeling pass.
    *
    * Scale shape: the prototype table is label-cardinality metadata
    * (L·dim rows — broadcast), the scoring join is the clusterDots
    * element join (n·L pairs of integer multiply-adds, L small), and
    * the verdict is per-vector — one output row per input row. Argmax
    * ties break to the lowest label. */
  def labelErrorScreen(emb: DataFrame): DataFrame = {
    val lab = emb.select(col("vec_id"), col("label"))
    val el = elements(emb).join(lab, Seq("vec_id"))
    val proto = el.groupBy(col("label").as("plab"), col("pos"))
      .agg(round(avg(col("qv"))).cast("long").as("cq"))
    val pn = proto.groupBy("plab")
      .agg(sum(col("cq") * col("cq")).cast("double").as("pnsq"))
    val dots = elements(emb).join(broadcast(proto), Seq("pos"))
      .groupBy("vec_id", "plab").agg(sum(col("qv") * col("cq")).as("dot"))
    val scored = dots
      .join(broadcast(pn), Seq("plab"))
      .join(norms(emb), Seq("vec_id"))
      .select(col("vec_id"), col("plab"),
        (col("dot").cast("double") / sqrt(col("nsq") * col("pnsq"))).as("pcos"))
    val best = scored.withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("pcos"), col("plab"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("plab").as("pred_label"), col("pcos").as("best_cos"))
    best
      .join(lab, Seq("vec_id"))
      .join(scored.select(col("vec_id"), col("plab").as("label"), col("pcos").as("own_cos")),
        Seq("vec_id", "label"))
      .select(col("vec_id"), col("label"), col("pred_label"),
        col("own_cos"), col("best_cos"),
        (col("pred_label") =!= col("label")).as("suspect"))
  }

  /** Per-dimension variance / dead-dim audit (X239): exact integer
    * micro-units over the x210 quantization — variance =
    * (n·Σq² − (Σq)²) div n² (non-negative numerator, so floor ≡
    * truncate on both engines); the mean keeps x210's sign·(abs div n)
    * form because Spark `div` truncates where DuckDB `//` floors and
    * embedding sums go negative. One explode + one dim-keyed
    * map-combined aggregate, dims-sized output. Sums ride
    * DECIMAL(38,0): at 10¹⁰ vectors Σq² reaches ~10²², past BIGINT. */
  def dimVariance(emb: DataFrame, deadBelowMicro2: Long = 1000000L): DataFrame = {
    val el = emb
      .select(posexplode(col("embedding")))
      .select((col("pos") + 1).as("dim"),
        expr("cast(round(cast(col as double) * 1000000) as bigint)").as("q"))
    el.groupBy("dim").agg(
        count(lit(1)).as("n"),
        sum(col("q").cast("decimal(38,0)")).as("sq"),
        // widen BEFORE the square: q*q in LONG wraps past |q| ~ 3e9
        // (|v| > ~3037) — the oracle squares in HUGEINT, so a long
        // wrap here would be both wrong and a hash mismatch
        sum(col("q").cast("decimal(38,0)") * col("q")).as("sq2"))
      .select(col("dim"), col("n"),
        expr("CASE WHEN sq >= 0 THEN sq div n ELSE -((-sq) div n) END")
          .as("mean_micro"),
        expr("(n * sq2 - sq * sq) div (CAST(n AS DECIMAL(38,0)) * n)")
          .as("var_micro2"))
      .withColumn("dead", (col("var_micro2") < deadBelowMicro2).cast("int"))
  }
}
