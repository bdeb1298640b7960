package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.text.TextFunctions._

/** Document deduplication suite for the training-data pipeline extensions.
  *
  * Scale design (the point of each variant at 100 TB):
  *   - exact: one shuffle on a 128-bit fingerprint — embarrassingly parallel.
  *   - MinHash+LSH: candidate generation is a *band-bucket equi-join*
  *     (shuffle on band hash), never an all-pairs comparison; verification
  *     touches only candidate pairs. This is the standard shingle→minhash→
  *     band→bucket-join pipeline (Broder 1997; Leskovec et al., "Mining of
  *     Massive Datasets" ch.3).
  *   - SimHash: 64-bit signature per doc, then a pigeonhole chunk-bucket
  *     join (Manku et al., WWW'07) — pairs within hamming distance k must
  *     share one of k+1 bit-chunks, so candidate generation is again an
  *     equi-join.
  *
  * Hash families are md5-derived so the DuckDB oracle reproduces
  * signatures bit-for-bit: minhash uses a Carter-Wegman 2-universal
  * family over two 40-bit slices of one md5 per shingle (see
  * [[minhashSignatures]]); simhash uses md5 hex-digit parity. Swap in
  * xxhash64 for raw throughput if oracle parity is not needed.
  */
object Dedup {

  // ---------------- exact ----------------

  /** Exact dedup groups: fingerprint → keeper id + copy count. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Deduplicated view: keep the lowest id per fingerprint. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.join(exactGroups(docs, idCol, textCol).select(col("keeper_id").as(idCol)), Seq(idCol), "left_semi")

  // ---------------- shingles / jaccard ----------------

  /** Distinct (doc_id, shingle) pairs — the inverted-index input.
    * Tokenization materializes in its own projection first: `shingles`
    * references the token array from inside a lambda, and inlining the
    * regex split there would re-run it once per shingle per row (a
    * ~100× blowup). A named column is a cheap bound reference, and
    * CollapseProject keeps non-cheap expressions un-inlined.
    *
    * `distinct = false` skips the dedup shuffle and returns one row per
    * OCCURRENCE — a purely narrow pipeline (scan → project → explode).
    * Correct whenever the consumer is duplicate-insensitive: minhash
    * `min` in particular yields identical signatures over occurrences
    * and distinct shingles, so the x3 signature path runs with ZERO
    * shuffles before its doc_id aggregation. Jaccard set sizes and the
    * inverted-index join need the distinct form. */
  def docShingles(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                  n: Int = 3, distinct: Boolean = true): DataFrame = {
    // CPU-dense per input byte — widen a narrower-than-cluster input
    // first (identity at production scan widths; see ScanTuning)
    val wide = graft.util.ScanTuning.ensureParallelism(docs, col(idCol))
    val occ = wide.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
      .select(col("doc_id"), explode(shingles(col("t"), n)).as("sh"))
    if (distinct) occ.distinct() else occ
  }

  /** Drop "stop-shingles" — shingles appearing in more than `maxDocFreq`
    * documents. In the inverted-index self-join a shingle shared by k
    * docs contributes k² candidate rows, so df-capping bounds the join's
    * worst key. Candidate *generation* only loses pairs whose every
    * shared shingle is a stop-shingle — near-dups share many rare
    * shingles, so recall loss is negligible at sane caps. */
  def dropStopShingles(shingleTab: DataFrame, maxDocFreq: Int): DataFrame = {
    val df = shingleTab.groupBy("sh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq).select("sh")
    shingleTab.join(df, Seq("sh"), "left_semi")
  }

  /** Exact all-pairs jaccard via inverted-index join (no LSH): pairs that
    * share at least one shingle, with |∩|/|∪| ≥ threshold. At scale,
    * pre-filter the join side with [[dropStopShingles]] (keep `sizes` and
    * the intersection on the full table if exactness matters). */
  def jaccardPairs(shingleTab: DataFrame, threshold: Double): DataFrame = {
    val sizes = shingleTab.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = shingleTab.as("a"); val b = shingleTab.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric containment (Broder): C(A→B) = |A∩B| / |A| — the
    * quote/subset detector symmetric Jaccard cannot express. A short
    * document fully quoted inside a long one has C(short→long) = 1.0
    * while its Jaccard is near zero (the union is dominated by the long
    * side), so a Jaccard cut never surfaces it. Same inverted-index
    * join as [[jaccardPairs]] (df-cap the input with
    * [[dropStopShingles]] at scale — identical candidate bound); both
    * directions are emitted and the pair survives when EITHER direction
    * clears the threshold. Each score is one IEEE division —
    * bit-deterministic under any partitioning. */
  def containmentPairs(shingleTab: DataFrame, threshold: Double): DataFrame = {
    val sizes = shingleTab.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = shingleTab.as("a"); val b = shingleTab.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") / col("na")).as("c_ab"),
        (col("i").cast("double") / col("nb")).as("c_ba"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
  }

  /** Prefix-filtered exact Jaccard self-join (AllPairs / PPJoin family:
    * Bayardo et al., WWW'07 "Scaling Up All Pairs Similarity Search";
    * Xiao et al., WWW'08 PPJoin). The LOSSLESS counterpart to
    * [[dropStopShingles]]: instead of dropping hot shingles (bounded
    * candidates, small recall loss), each document indexes only its
    * PREFIX — the first |x| − ⌈t·|x|⌉ + 1 shingles under one global
    * canonical order (ascending document frequency, ties by shingle) —
    * and the inverted-index self-join runs over prefixes only.
    *
    * Why it is exact: J(x,y) ≥ t forces an overlap of at least
    * max(⌈t·|x|⌉, ⌈t·|y|⌉), and under a shared total order two sets
    * with that much overlap must collide inside both prefixes
    * (pigeonhole on the suffix sizes) — so candidate generation loses
    * nothing and [[verifiedPairs]] makes the final call on full
    * shingle sets. Why it scales: a shingle shared by k documents
    * contributes candidate rows only for documents RARE enough to rank
    * it inside their prefix — hot boilerplate shingles sort LAST in
    * the canonical order and fall out of every prefix, so the worst
    * join key shrinks from k² without dropping a single true pair.
    * The length filter (t·|x| ≤ |y| ≤ |x|/t) prunes cross-size pairs
    * inside the join condition. Shuffles: df count + per-doc
    * row_number (doc-partitioned window, bounded by doc length) +
    * prefix self-join + the verify joins — same order as x2, smaller
    * worst key. */
  def prefixJaccardPairs(shingleTab: DataFrame, threshold: Double): DataFrame =
    verifiedPairsArrays(shingleTab, prefixCandidates(shingleTab, threshold), threshold)

  /** Candidate pairs of [[prefixJaccardPairs]] before verification —
    * exposed for the reduction audit (spec measures candidates vs the
    * full inverted index's). */
  private[graft] def prefixCandidates(shingleTab: DataFrame, threshold: Double): DataFrame = {
    val sizes = shingleTab.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfTab = shingleTab.groupBy("sh").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))
    // the prefix table feeds BOTH sides of the self-join; materialize it
    // once (eager, lineage-cut) — lazily cached, the broadcast-build and
    // probe subtrees raced to compute the df-join + window concurrently
    // (JobProbe: two ~14 s-CPU evaluations of the same subtree)
    val prefix = shingleTab
      .join(dfTab, Seq("sh"))
      .join(sizes, Seq("doc_id"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select("doc_id", "sh", "n", "r")
      .localCheckpoint(true)
    // PPJoin POSITIONAL filter (Xiao et al. WWW'08 §3.2), on top of the
    // AllPairs prefix + length filters: a pair meeting J ≥ t needs
    // overlap α = ⌈t·(|x|+|y|)/(1+t)⌉, and a shared prefix shingle at
    // ranks (ra, rb) bounds the achievable overlap by
    // 1 + min(|x|−ra, |y|−rb) (everything else must come from the two
    // suffixes). Keeping a pair when ANY shared prefix row passes is a
    // superset of the strict first-common-token test, so candidate
    // generation stays LOSSLESS (the true pair's first common token
    // always passes — the theorem above) while the candidate set that
    // reaches exact verification shrinks 2.5× on the gate corpus
    // (DuckDB: 309 803 → 124 979 pairs at sf0.1) — and verification,
    // not candidate generation, is this operator's measured premium.
    // The 1e-9 slack keeps the double-arithmetic ceiling from ever
    // EXCEEDING the exact integer α (over-pruning would lose pairs;
    // under-pruning only verifies a few extra candidates).
    val alpha = ceil(lit(threshold) * (col("a.n") + col("b.n"))
      / lit(1.0 + threshold) - lit(1e-9))
    prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n").cast("double") >= lit(threshold) * col("a.n") &&
          col("a.n").cast("double") >= lit(threshold) * col("b.n") &&
          lit(1) + least(col("a.n") - col("a.r"), col("b.n") - col("b.r")) >= alpha)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  // ---------------- MinHash + LSH ----------------

  val NumHashes = 32
  val NumBands = 16 // × 2 rows: P(candidate | j=0.5) ≈ 0.99

  /** Prime > 2⁴⁰ closing the Carter-Wegman family: mh_i = (h1 + i·h2)
    * mod MinhashP, with h1/h2 40-bit slices of ONE md5 per shingle. */
  val MinhashP = 1099511627791L

  /** The two 40-bit base hashes, as named columns on the shingle table.
    * One md5 per occurrence — materialized first in its own projection
    * (multi-referenced non-cheap expressions stay un-inlined), then
    * fixed hex slices parse to integers. 40 bits keeps i·h2 ≤ 2⁴⁵ —
    * no overflow anywhere near 2⁶³ — while birthday collisions stay
    * negligible for per-document minima. */
  private def baseHashes(shingleTab: DataFrame): DataFrame =
    shingleTab.select(col("doc_id"), md5(col("sh")).as("h"))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 10), 16, 10).cast("long").as("h1"),
        conv(substring(col("h"), 11, 10), 16, 10).cast("long").as("h2"))

  /** 32 minhash signatures per doc via a 2-universal derived family
    * (Carter-Wegman): ONE md5 per occurrence row yields two 40-bit
    * integers, and hash i is `(h1 + i·h2) mod P` — 32 integer
    * multiply-adds instead of 32 md5 invocations (32× less hashing;
    * measured 3× on the whole pipeline, and the min-agg compares 8-byte
    * longs instead of 32-char strings). One codegen'd projection, then
    * one shuffle on doc_id with map-side combine reducing to ≤1 row per
    * doc per partition. Nothing corpus-sized — no dictionary, no
    * broadcast — so the plan is identical at 100 TB. The oracle SQL
    * reproduces the same md5-slice arithmetic bit-for-bit. */
  def minhashSignatures(shingleTab: DataFrame): DataFrame = {
    val hashCols = (0 until NumHashes).map(i =>
      ((col("h1") + lit(i.toLong) * col("h2")) % MinhashP).as(s"h$i"))
    val aggs = (0 until NumHashes).map(i => min(col(s"h$i")).as(s"mh$i"))
    baseHashes(shingleTab).select(col("doc_id") +: hashCols: _*)
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Unpivot a wide signature row to (doc_id, h_idx, mh) — the long form
    * the oracle computes directly; the wide form stays the efficient
    * single-pass representation in the engine. */
  def minhashLong(signatures: DataFrame): DataFrame =
    signatures.select(col("doc_id"),
      posexplode(array((0 until NumHashes).map(i => col(s"mh$i")): _*)).as(Seq("h_idx", "mh")))

  /** (doc_id, band_idx, band_hash) — the LSH bucket table. */
  def bandTable(signatures: DataFrame): DataFrame = {
    val rows = NumHashes / NumBands
    val bandCols = (0 until NumBands).map { b =>
      md5(concat_ws("|", (0 until rows).map(r => col(s"mh${rows * b + r}")): _*))
    }
    signatures.select(col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
  }

  /** Candidate pairs: docs sharing any band bucket (equi-join shuffle). */
  def candidatePairs(bands: DataFrame): DataFrame = {
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b, col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** End-to-end MinHash LSH near-dup pairs, jaccard-verified. The
    * shingle table feeds four subtrees (signatures, sizes, both verify
    * sides) — cache it rather than recompute the tokenize+explode. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // EAGER materialization (not lazy cache) for both shared planes: the
    // shingle table feeds four subtrees and the band table both sides of
    // the candidate self-join, and those subtrees launch as CONCURRENT
    // broadcast-exchange jobs — against a lazy cache they race to build
    // the same plan (JobProbe: the signature aggregation's 27 MB partial
    // stage ran with tasks blocked ~2× their CPU on the cache lock).
    val sh = docShingles(docs).localCheckpoint(true)
    val bands = bandTable(minhashSignatures(sh)).localCheckpoint(true)
    verifiedPairs(sh, candidatePairs(bands), threshold)
  }

  /** Delta dedup: near-dup pairs between a NEW batch and the EXISTING
    * corpus only — the production "dedup today's crawl against the
    * index" shape. The candidate join is new-bands ⋈ corpus-bands, an
    * ASYMMETRIC equi-join, so the corpus is never re-paired with
    * itself: candidate volume scales with |new| × collision rate, not
    * |corpus|² — the difference between a batch-sized and an
    * index-sized daily dedup job. In production the corpus side's
    * bands are the PERSISTED index (x3 signatures maintained
    * incrementally); here both sides derive from their frames so the
    * whole path sits under the oracle — signatures are per-doc
    * intrinsic, so the split computation is bit-identical to slicing a
    * whole-corpus pipeline (spec). Caller contract: id spaces are
    * disjoint. Output: (doc_a ∈ new, doc_b ∈ corpus, jaccard). */
  def minhashNearDupsDelta(newDocs: DataFrame, corpus: DataFrame,
                           threshold: Double = 0.5): DataFrame = {
    // eager shared planes — the minhashNearDups rationale
    val shNew = docShingles(newDocs).localCheckpoint(true)
    val shOld = docShingles(corpus).localCheckpoint(true)
    val a = bandTable(minhashSignatures(shNew)).as("a")
    val b = bandTable(minhashSignatures(shOld)).as("b")
    val cand = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifiedPairsArrays(shNew.union(shOld), cand, threshold)
  }

  /** Exact-Jaccard verification of a candidate pair set: intersection
    * via the candidate-bounded shingle join (never all-pairs), kept at
    * ≥ threshold. Shared by [[minhashNearDups]] and [[DedupPlane]]. */
  private[dedup] def verifiedPairs(sh: DataFrame, cand: DataFrame,
                                   threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val x = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val y = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val inter = cand.join(x, Seq("doc_a")).join(y, Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[verifiedPairs]] restructured for LARGE candidate sets: per-pair
    * verification over per-doc shingle-set ARRAYS instead of a
    * candidate × shingle-plane explode. The explode shape joins every
    * candidate against the full (doc_id, sh) plane twice (one row per
    * candidate per doc_a-shingle — a |cand|·|doc| blow-up), re-counts
    * per pair, then joins per-doc sizes twice more: 4 joins + 2
    * aggregates after candidate generation, every row probing two
    * corpus-sized hashed relations (measured on x81: widening that probe
    * stage to 32 tasks burned 17× the single-task CPU — concurrent
    * random probes into two ~100 MB shared relations thrash the cache).
    * This form aggregates the plane ONCE per doc, attaches both arrays
    * by pair key, and computes |A∩B| locally per row with
    * array_intersect — 2 joins, 0 post-join aggregates, per-row work
    * touching only the pair's own ~|doc| elements, so it parallelizes
    * cleanly. `sh` must be distinct per (doc_id, sh) (docShingles
    * contract; delta callers have disjoint id spaces), making
    * size(array_intersect) exactly the set-intersection count and
    * jaccard = i/(na+nb−i) the bit-identical IEEE division.
    *
    * A/B-measured split (r16): x81 5.23→2.75 s and x54 1.90→1.71 s
    * here, while the small-candidate minhash rows (x4 1.40→1.49,
    * x34 1.94→2.10) pay more for the collect_list aggregate than the
    * verify saves — they stay on [[verifiedPairs]].
    *
    * The candidate table is bytes-TINY (two longs/row) while verify is
    * CPU-dense per row, so AQE's byte-sized coalescing would collapse
    * the post-distinct exchange to ONE task (measured on x81: two
    * 2.3 s single-task stages — the range-sort sampler re-runs the
    * monolith). One deterministic hash repartition pins the verify
    * stage at cluster width; the shuffled bytes are pair metadata
    * (guide §2.3 "shuffle keys, not payloads"), negligible at any
    * scale. Keyed (doc_b, doc_a) — semantically any pair key works,
    * but the (doc_a, doc_b) order is the distinct's own partitioning
    * and the planner would elide the repartition as redundant. */
  private[dedup] def verifiedPairsArrays(sh: DataFrame, cand: DataFrame,
                                         threshold: Double): DataFrame = {
    val arrs = sh.groupBy("doc_id").agg(collect_list(col("sh")).as("arr"))
    val candWide = cand.repartition(
      cand.sparkSession.sparkContext.defaultParallelism, col("doc_b"), col("doc_a"))
    candWide
      .join(arrs.select(col("doc_id").as("doc_a"), col("arr").as("arr_a")), Seq("doc_a"))
      .join(arrs.select(col("doc_id").as("doc_b"), col("arr").as("arr_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long").as("i"),
        size(col("arr_a")).cast("long").as("na"),
        size(col("arr_b")).cast("long").as("nb"))
      // the join form only yields pairs that share a shingle
      .filter(col("i") > 0)
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Sketch-accuracy report: the MinHash Jaccard ESTIMATE (fraction of
    * agreeing signature slots) next to the exact shingle Jaccard, for
    * every LSH candidate pair. The monitoring op a production dedup
    * stack runs continuously: at 100 TB nobody can verify the sketch
    * globally, but est-vs-exact on the band-surfaced candidates is
    * cheap — slot agreement is ONE codegen'd 32-way comparison on the
    * wide signature rows (no unpivot, no extra shuffle beyond the
    * candidate join), and the exact side reuses the candidate-bounded
    * intersection join. `err` near ±1/32 quantization is healthy;
    * drift beyond it means the hash family or shingle pipeline broke. */
  def minhashAccuracy(docs: DataFrame): DataFrame = {
    // eager shared planes — the minhashNearDups rationale (sh feeds the
    // size/intersection subtrees, sigs both est-join sides, cand both
    // the estimate and exact-verify branches, all broadcast-concurrent)
    val sh = docShingles(docs).localCheckpoint(true)
    val sigs = minhashSignatures(sh).localCheckpoint(true)
    val cand = candidatePairs(bandTable(sigs)).localCheckpoint(true)
    accuracyFrom(sh, sigs, cand)
  }

  /** The est-vs-exact report off already-materialized stages — shared
    * by [[minhashAccuracy]] and [[DedupPlane]]. */
  private[dedup] def accuracyFrom(sh: DataFrame, sigs: DataFrame,
                                  cand: DataFrame): DataFrame = {
    val renameA = sigs.columns.map(c => if (c == "doc_id") col(c).as("doc_a") else col(c).as(c + "_a"))
    val renameB = sigs.columns.map(c => if (c == "doc_id") col(c).as("doc_b") else col(c).as(c + "_b"))
    val agree = (0 until NumHashes)
      .map(i => when(col(s"mh${i}_a") === col(s"mh${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cand.join(sigs.select(renameA.toSeq: _*), Seq("doc_a"))
      .join(sigs.select(renameB.toSeq: _*), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (agree.cast("double") / lit(NumHashes)).as("est_jaccard"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val x = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val y = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val inter = cand.join(x, Seq("doc_a")).join(y, Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    est.join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        (coalesce(col("i"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("i"), lit(0L)))).as("jaccard"))
      .withColumn("err", col("est_jaccard") - col("jaccard"))
  }

  /** The scale-ordered dedup pipeline: EXACT dedup first, THEN MinHash
    * near-dups over the keepers only. Web-scale corpora are 30-50%
    * exact duplicates (mirrors, reposts, replicas), and every byte of
    * duplication inflates every downstream stage linearly — shingle
    * explode, signature aggregation, band join, verification. Collapsing
    * identical payloads on a 16-byte fingerprint first cuts the
    * near-dup stage by the duplication factor (measured 10×/55 s → ~5 s
    * on a 10×-replicated corpus) and the near-dup output stays
    * per-content-group instead of quadratic in copy count. Pairs are
    * between keeper ids (lowest doc_id per fingerprint). */
  def nearDupsAfterExact(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    minhashNearDups(exactDedup(docs), threshold)

  // ---------------- SimHash ----------------

  /** 64-bit SimHash over distinct whitespace tokens (xxhash64 bit votes). */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = graft.util.ScanTuning.ensureParallelism(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(tokens(col(textCol)))).as("tok"))
    val votes = (0 until 64).map(j =>
      sum(when(shiftright(xxhash64(col("tok")), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j"))
    val agg = tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val sig = (0 until 64).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_.bitwiseOR(_))
    agg.select(col("doc_id"), sig.as("simhash"))
  }

  /** 32-bit SimHash with an md5-parity hash family: bit j of a token's
    * hash is the parity of hex digit j of md5(token). Slower than the
    * xxhash64 variant but bit-reproducible on any engine with md5 —
    * used by the oracle-checked query surface. */
  def simhashMd5(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = graft.util.ScanTuning.ensureParallelism(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(tokens(col(textCol)))).as("tok"))
    // md5 materializes once per occurrence in its own projection, then
    // the 32 hex digits parse as FOUR 32-bit integers (conv) and vote j
    // reads the low bit of nibble j by shift-and-mask — integer ops
    // instead of 32 substring+isin string tests (the hex digit is odd
    // exactly when its nibble's low bit is set, so values are identical
    // to the substring-parity oracle). Map-side combine then shuffles
    // ≤1 vote row per doc per partition — nothing corpus-sized.
    val hashed = tok.select(col("doc_id"), md5(col("tok")).as("h"))
      .select(col("doc_id") +: (0 until 4).map(c =>
        conv(substring(col("h"), 8 * c + 1, 8), 16, 10).cast("long").as(s"c$c")): _*)
    val voteCols = (0 until 32).map { j =>
      val nib = shiftrightunsigned(col(s"c${j / 8}"), 4 * (7 - j % 8)).bitwiseAND(1L)
      when(nib === 1L, 1).otherwise(-1).as(s"v$j")
    }
    val votes = (0 until 32).map(j => sum(col(s"v$j")).as(s"b$j"))
    val agg = hashed.select(col("doc_id") +: voteCols: _*)
      .groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val sig = (0 until 32).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_.bitwiseOR(_))
    agg.select(col("doc_id"), sig.as("simhash"))
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03 "local
    * algorithms for document fingerprinting"): hash every positional
    * n-gram, take the window-min over each sliding window of `w`
    * shingles, keep the distinct minima per document. One narrow window
    * pass per doc — no cross-doc shuffle beyond the doc_id partition. */
  def winnowFingerprints(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                         n: Int = 3, w: Int = 4): DataFrame = {
    val sh = graft.util.ScanTuning.ensureParallelism(docs, col(idCol))
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
      .select(col("doc_id"), posexplode(shingles(col("t"), n)).as(Seq("pos", "sh")))
    val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    // md5 materializes in its own projection BEFORE the window: WindowExec
    // is not codegen'd and re-evaluates its aggregate's child expression
    // once per overlapping frame, so an in-frame md5 hashes each shingle
    // w times interpreted (a 4× wall-clock regression at w=4); a named
    // column is hashed once and the frame min reads a bound reference.
    sh.select(col("doc_id"), col("pos"), md5(col("sh")).as("h"))
      .select(col("doc_id"), min(col("h")).over(win).as("fp")).distinct()
  }

  /** Cross-document repeated-substring spans — the exact-substring cut
    * list of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), re-expressed relationally: a positional
    * n-gram is *duplicated* when the same shingle occurs in more than
    * one document; the duplicated positions of each document merge into
    * maximal token spans (interval union), which are the byte ranges an
    * exact-substring dedup pass would cut. Winnowing ([[winnowFingerprints]])
    * answers "which docs overlap"; this answers "which tokens to remove".
    *
    * Span coordinates are 1-based token indices, inclusive: a shingle at
    * position p covers tokens [p, p+n-1]; flagged positions whose gap is
    * ≤ n produce touching-or-overlapping intervals and merge.
    *
    * Scale: the df aggregate is map-side-combined on the shingle (hot
    * shingles concentrate counts inside one cell, never rows in one
    * task); the flag semi-join emits at most one row per position
    * (`dup` is distinct on sh), so nothing exceeds |positions|; the
    * island merge is two window passes over ONE doc_id exchange —
    * per-document partitions, bounded by document length at any corpus
    * size. No all-pairs stage anywhere (unlike suffix-array
    * formulations, which need a corpus-wide sort). */
  def dupSpans(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = graft.util.ScanTuning.ensureParallelism(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("t"))
      // 1-based position to match token coordinates
      .select(col("doc_id"), posexplode(shingles(col("t"), n)).as(Seq("pos0", "sh")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("sh"))
    // cross-document df only: a shingle repeated inside a single doc is
    // repetition (x25), not duplication — distinct (doc_id, sh) first
    val dup = sh.select("doc_id", "sh").distinct()
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1).select("sh")
    val flagged = sh.join(dup, Seq("sh"), "left_semi").select("doc_id", "pos")
    // interval union of the fixed-length [pos, pos+n-1] intervals: a new
    // island starts when the gap to the previous flagged position
    // exceeds n (both windows share the single doc_id exchange)
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    flagged
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byPos) <= n, 0).otherwise(1))
      .withColumn("island", sum("brk").over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("pos").cast("int").as("span_start"),
        (max("pos") + (n - 1)).cast("int").as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select("doc_id", "span_start", "span_end", "n_shingles")
  }

  /** Apply [[dupSpans]]' cut list (X241): rebuild each document with
    * every token inside a duplicated span REMOVED — the write half of
    * the Lee et al. exact-substring dedup (x60 answers "which tokens to
    * remove"; this removes them and re-emits the corpus). Output per
    * doc: cleaned text, original token count, tokens removed.
    *
    * Scale shape: the span table joins back to the token table as an
    * equi-join on doc_id with a residual range predicate (spans per doc
    * are few and DISJOINT by x60's interval union, so the anti-join
    * emits each kept token once — no dedup pass needed); the rebuild is
    * the x40 order-independent aggregate (array_sort over collected
    * (pos, token) structs), never a window. Everything rides two doc_id
    * exchanges plus dupSpans' own shingle exchange. */
  def spanExcise(docs: DataFrame, n: Int = 3): DataFrame = {
    val spans = dupSpans(docs, n)
    val tok = graft.util.ScanTuning.ensureParallelism(docs, col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("p"), col("tok"))
      .filter(length(col("tok")) > 0)
      // kept anti-join + per-doc totals both read the token table
      // (uncached form measured 4.5× worse); eager, not lazy — the two
      // consumers launch concurrently (the minhashNearDups lesson)
      .localCheckpoint(true)
    val kept = tok.join(spans,
      tok("doc_id") === spans("doc_id") &&
        col("p").between(col("span_start"), col("span_end")), "left_anti")
    val rebuilt = kept.groupBy("doc_id").agg(
      array_join(transform(array_sort(collect_list(struct(col("p"), col("tok")))),
        s => s.getField("tok")), " ").as("clean_text"),
      count(lit(1)).as("n_kept"))
    val totals = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    docs.select("doc_id").join(totals, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"))
  }

  /** Near-dup clustering: one-`iters`-hop min-label propagation over the
    * symmetric pair graph, then keeper = the minimum doc of each
    * component. Near-dup groups at sane thresholds are cliques, where a
    * single hop reaches the group minimum; short chains converge within
    * `iters` hops (each hop is one shuffle — at 100 TB this is the
    * standard large-graph CC loop, run to fixpoint). Deterministic for
    * any graph given fixed `iters`. */
  def nearDupComponents(pairs: DataFrame, docs: DataFrame, iters: Int = 2): DataFrame = {
    // the symmetrizing union reads `pairs` twice — cache it, or the
    // whole upstream near-dup pipeline evaluates once per branch
    val p = pairs.cache()
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    var labels = docs.select(col("doc_id"), col("doc_id").as("component"))
    for (_ <- 1 to iters) {
      val neigh = edges
        .join(labels.select(col("doc_id").as("dst"), col("component")), Seq("dst"))
        .groupBy(col("src").as("doc_id")).agg(min("component").as("nc"))
      // each hop references the previous labels TWICE (neighbour build +
      // left join), so the lineage doubles per hop — 2^iters plan
      // copies, the classic iterative-algorithm failure mode once the
      // loop runs deep (fixpoint at scale). Cache per hop on deep loops;
      // at the shallow default (2 hops = 4 copies) recomputation is
      // cheaper than materialization.
      labels = labels.join(neigh, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("nc"), col("component"))).as("component"))
      if (iters > 2) labels = labels.cache()
    }
    labels.withColumn("is_keeper", (col("doc_id") === col("component")).cast("int"))
  }

  /** Min-label propagation run to FIXPOINT: iterate until no label
    * changes, with lineage truncated per hop — the production CC shape
    * when component diameter is unknown. [[nearDupComponents]]'s fixed
    * hop count under-merges any component whose diameter exceeds it (a
    * chain of near-dup pages merges one hop per iteration; see
    * DedupSpec), which silently splits clusters — and split clusters
    * mean duplicate keepers. Costs one count job per hop (the
    * convergence probe) and an eager localCheckpoint per hop (each
    * iteration becomes a fresh plan root: no 2^iters lineage growth,
    * no re-execution of the whole pair pipeline per hop). `maxIters`
    * bounds the worst case by graph diameter; min-label needs
    * O(diameter) hops — for web-scale graphs with long chains, the
    * large-star/small-star reformulation (O(log n) rounds) is the next
    * step, same relational skeleton. */
  def nearDupComponentsFixpoint(pairs: DataFrame, docs: DataFrame,
                                maxIters: Int = 20): DataFrame = {
    val p = pairs.cache()
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    var labels = docs.select(col("doc_id"), col("doc_id").as("component"))
      .localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val neigh = edges
        .join(labels.select(col("doc_id").as("dst"), col("component")), Seq("dst"))
        .groupBy(col("src").as("doc_id")).agg(min("component").as("nc"))
      val next = labels.join(neigh, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("nc"), col("component"))).as("component"),
          (col("nc") < col("component")).cast("int").as("__chg"))
        .localCheckpoint(true)
      changed = next.agg(coalesce(sum("__chg"), lit(0L))).first().getLong(0)
      labels = next.drop("__chg")
      it += 1
    }
    edges.unpersist()
    p.unpersist()
    labels.withColumn("is_keeper", (col("doc_id") === col("component")).cast("int"))
  }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the O(log n)-round reformulation
    * [[nearDupComponentsFixpoint]]'s scaladoc names as the next step:
    * min-label propagation pays one round PER HOP of component
    * diameter (a chain of near-dup pages converges in O(diameter)
    * rounds), while star contraction halves path lengths every
    * large-star pass, so a 10 000-hop chain closes in ~15 rounds
    * instead of 10 000.
    *
    * Each round is the SAME relational skeleton as the fixpoint loop —
    * node-keyed min aggregates + equi-joins, eager localCheckpoint per
    * hop (fresh plan roots, no 2^rounds lineage), convergence = the
    * canonical edge set unchanged (two anti-join counts over the
    * contracted, node-bounded edge sets). At convergence the edges
    * form stars rooted at each component's minimum node — the same
    * labeling contract as the min-label forms, so consumers are
    * interchangeable (spec pins LSS ≡ fixpoint on clique, chain, and
    * the gate corpus, and that the chain closes in ≤ ⌈log₂ D⌉+c
    * rounds).
    *
    * Returns (labels, rounds): labels carry (doc_id, component,
    * is_keeper) like every other CC form. */
  def ccLargeStarSmallStar(pairs: DataFrame, docs: DataFrame,
                           maxRounds: Int = 20): (DataFrame, Int) = {
    // canonical form: a > b, dedup'd, no self-loops
    def canon(e: DataFrame): DataFrame = e.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .distinct()
    // large-star: every node u connects its STRICTLY LARGER neighbors
    // to m(u) = min(Γ(u) ∪ {u}) — halves path lengths
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.filter(col("v") > col("u")).join(m, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
    }
    // small-star (on canonical edges): every node u re-points its
    // smaller-or-equal neighbors (and itself) at their minimum
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("a").agg(min("b").as("m"))
      e.join(m, Seq("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(m.select(col("a"), col("m").as("b")))
    }
    var e = canon(pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
      .localCheckpoint(true)
    var rounds = 0
    var done = e.isEmpty
    while (!done && rounds < maxRounds) {
      val next = canon(smallStar(canon(largeStar(e)))).localCheckpoint(true)
      rounds += 1
      done = next.join(e, Seq("a", "b"), "left_anti").isEmpty &&
             e.join(next, Seq("a", "b"), "left_anti").isEmpty
      e = next
    }
    // per-doc min aggregate, NOT a raw join on e: at convergence each
    // node carries exactly one root edge (min is the identity), but if
    // maxRounds exhausted first, e can still hold several (node, root)
    // candidates — a plain left join would fan out into duplicate,
    // inconsistent label rows. min(root) keeps the output well-formed
    // (one row per doc) in every case; callers detecting
    // rounds == maxRounds should treat the labels as a best-effort
    // contraction, not a proven fixpoint.
    val roots = e.groupBy(col("a")).agg(min(col("b")).as("root"))
      .select(col("a").as("doc_id"), col("root"))
    val labels = docs.select(col("doc_id"))
      .join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("component"))
      .withColumn("is_keeper", (col("doc_id") === col("component")).cast("int"))
    (labels, rounds)
  }

  /** Keeper selection by quality, not by accident: for each near-dup
    * component pick the row maximizing `scoreCol` (ties → smallest
    * doc_id) — "keep the longest/cleanest version of the page", the
    * curation rule real pipelines apply, vs. the arbitrary min-id
    * keeper of [[nearDupComponents]].
    *
    * The argmax is a map-side-combinable `max(struct(score, -id))`
    * aggregate — one shuffle on the component key, no per-component
    * sort, no window (a rank window would buffer whole components; at
    * 100 TB a boilerplate cluster can hold millions of members). */
  def componentKeepers(labels: DataFrame, scored: DataFrame,
                       scoreCol: String): DataFrame = {
    val withScore = labels.select(col("doc_id"), col("component"))
      .join(scored.select(col("doc_id"), col(scoreCol).as("__score")), Seq("doc_id"))
    val keepers = withScore.groupBy("component")
      .agg(max(struct(col("__score"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("component"), (-col("m.nid")).as("keeper_id"))
    withScore.join(keepers, Seq("component"))
      .select(col("doc_id"), col("component"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).cast("int").as("is_keeper"))
  }

  /** Near-dup pairs within `maxHamming` via the pigeonhole chunk join:
    * split the `sigBits`-bit signature into maxHamming+1 chunks; any pair
    * within the distance must agree on at least one chunk. */
  def simhashNearDups(signatures: DataFrame, maxHamming: Int = 3, sigBits: Int = 64): DataFrame = {
    val nChunks = maxHamming + 1
    val chunkBits = sigBits / nChunks
    val chunks = (0 until nChunks).map(ci =>
      shiftrightunsigned(col("simhash"), ci * chunkBits)
        .bitwiseAND((1L << chunkBits) - 1).as(s"c$ci"))
    val tab = signatures.select((col("doc_id") +: col("simhash") +: chunks): _*)
    val exploded = tab.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nChunks).map(ci => col(s"c$ci")): _*)).as(Seq("chunk_idx", "chunk")))
    val a = exploded.as("a"); val b = exploded.as("b")
    a.join(b, col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk") === col("b.chunk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---------------- corpus versioning ----------------

  /** Snapshot diff between two corpus versions — the dataset-versioning
    * verdict every incremental pipeline needs before deciding what to
    * re-process: per id, `added` / `removed` / `changed` / `unchanged`,
    * decided by content fingerprint so a re-crawl that returns
    * byte-identical text is correctly a no-op.
    *
    * One full-outer equi-join on the id over two (id, 16-byte md5)
    * projections — content never shuffles, only fingerprints; verdict
    * is one row per id in either version. At 100 TB both sides SMJ on
    * the id (or exchange-free with both snapshots bucketed on it —
    * the BucketingSpec layout). */
  /** Bounded k-core peeling over a pair plane — the density complement
    * of [[nearDupComponents]]' connectivity and the triangle audit's
    * local view: nodes surviving `rounds` rounds of "drop degree < k,
    * recompute degrees on the induced subgraph" are the graph's dense
    * core (template farms, mirror rings), while chains and pendants
    * peel away — exactly the split a keeper policy needs (one keeper
    * per core vs per-link review on the periphery). Each round is two
    * semi-join-shaped equi-joins + one map-combined degree aggregate —
    * the x17/x84 bounded relational-loop shape, `rounds` pinned so the
    * oracle unrolls identically (a fixpoint loop's round count would
    * be data-dependent and unhashable). Output: every pair-plane node
    * with `in_core` and its degree within the final core (0 outside).
    */
  def kcorePeel(pairs: DataFrame, k: Int = 2, rounds: Int = 3): DataFrame = {
    // the edge plane is read twice per round + once for the final
    // degrees — cache it, or every reference re-runs the whole
    // upstream pair pipeline (the nearDupComponents lesson); each
    // round's survivor set is referenced twice by the NEXT round, so
    // an eager localCheckpoint per round keeps the plan linear instead
    // of 2^rounds copies of the peel (the fixpoint-CC discipline —
    // this loop re-ran the sf0.1 minhash build ~15× before the cut)
    val p = pairs.cache()
    val und = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    val nodes = und.select(col("src").as("doc_id")).distinct()
    var alive = nodes
    for (_ <- 1 to rounds) {
      val e = und
        .join(alive.select(col("doc_id").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      alive = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("doc_id"))
        .localCheckpoint(true)
    }
    val coreDeg = und
      .join(alive.select(col("doc_id").as("src")), Seq("src"), "left_semi")
      .join(alive.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("core_deg"))
      .withColumnRenamed("src", "doc_id")
    // membership and degree join separately: a survivor whose last
    // neighbours peeled in the same round is in the core set with
    // degree 0 (the next round would drop it — `rounds` is the
    // contract, not a fixpoint claim)
    val out = nodes
      .join(alive.withColumn("__alive", lit(1)), Seq("doc_id"), "left")
      .join(coreDeg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("__alive").isNotNull.cast("int").as("in_core"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
      .orderBy("doc_id")
      // sever the result from the cached planes so they can release
      .localCheckpoint(true)
    // release the loop's caches (the fixpoint-CC discipline) — without
    // this, repeated gate/session invocations accumulate cached edge
    // planes and checkpoint RDDs
    und.unpersist()
    p.unpersist()
    out
  }

  def snapshotDiff(v1: DataFrame, v2: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val a = v1.select(col(idCol), fingerprint(col(textCol)).as("fp_old"))
    val b = v2.select(col(idCol), fingerprint(col(textCol)).as("fp_new"))
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") === col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }
}
