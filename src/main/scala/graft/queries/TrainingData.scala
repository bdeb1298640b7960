package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.mm.Multimodal
import graft.text.TextFunctions

/** Training-data pipeline query surface (builder prompt extensions):
  * deduplication (exact / n-gram Jaccard / MinHash+LSH / SimHash /
  * winnowing), similarity search (brute-force + blocked + LSH-ANN over
  * the embeddings table), text analysis (language-ID, quality scoring,
  * token stats), and multimodal binary-column plumbing.
  *
  * Every hash family is md5-based so DuckDB reproduces signatures
  * bit-for-bit; every double is either a pure per-row expression
  * (bit-deterministic) or an exact-decimal sum converted to double last
  * (order-independent — see [[graft.util.Det]]). The oracle SQL for the
  * signature pipelines is *generated from the same constants* as the
  * Spark side (hash count, band width, marker words) so the two cannot
  * drift.
  */
object TrainingData {

  // ---- shared DuckDB CTE fragments (tokens → positional/distinct shingles) ----

  private def tokCteFor(src: String) =
    s"""tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM $src)"""
  private val tokCte = tokCteFor("documents")
  private def posShingleCteFor(src: String) = // positional 3-gram shingles, 1-based i
    s"""${tokCteFor(src)},
       xg AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM tok WHERE len(t) >= 3),
       shp AS (SELECT doc_id, i, array_to_string(t[i:i+2], ' ') AS sh FROM xg)"""
  private val posShingleCte = posShingleCteFor("documents")
  private def shingleCteFor(src: String) = // distinct (doc_id, shingle)
    s"""${posShingleCteFor(src)},
       sh AS (SELECT DISTINCT doc_id, sh FROM shp)"""
  private val shingleCte = shingleCteFor("documents")
  // integer from `digits` hex digits of `e` starting at 1-based `start`
  // (nibble arithmetic — DuckDB 1.0 has no hex-string → int cast)
  private def hexVal(e: String, start: Int, digits: Int): String =
    (0 until digits).map { k =>
      s"(strpos('0123456789abcdef', substring($e, ${start + k}, 1)) - 1) * ${1L << (4 * (digits - 1 - k))}"
    }.mkString("(", " + ", ")")
  private def hex40(e: String, start: Int): String = hexVal(e, start, 10)

  private def minhashCteFor(src: String) = // long-form 32-hash minhash
    // signatures: Carter-Wegman derived family over two 40-bit md5
    // slices — the same ONE-md5-per-shingle arithmetic as
    // Dedup.minhashSignatures
    s"""${shingleCteFor(src)},
       bh AS (SELECT doc_id, md5(sh) AS h FROM sh),
       hh AS (SELECT doc_id, ${hex40("h", 1)} AS h1, ${hex40("h", 11)} AS h2 FROM bh),
       mh AS (SELECT doc_id, i AS h_idx, min((h1 + i * h2) % ${Dedup.MinhashP}) AS mh
              FROM hh CROSS JOIN generate_series(0, ${Dedup.NumHashes - 1}) AS g(i)
              GROUP BY doc_id, i)"""
  private val minhashCte = minhashCteFor("documents")
  private val jaccardVerifyCte = // cand(doc_a, doc_b) → verified(doc_a, doc_b, jaccard)
    """sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
                 FROM cand c JOIN sh p ON p.doc_id = c.doc_a
                             JOIN sh q ON q.doc_id = c.doc_b AND q.sh = p.sh
                 GROUP BY 1, 2),
       verified AS (SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
                    FROM inter JOIN sizes x ON x.doc_id = doc_a JOIN sizes y ON y.doc_id = doc_b
                    WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5)"""
  private val jaccardTail =
    s"""$jaccardVerifyCte
       SELECT doc_a, doc_b, jaccard FROM verified ORDER BY doc_a, doc_b"""

  /** One unrolled PageRank iteration for the x84 oracle: the identical
    * all-floor-division update the engine loop applies
    * (150000 + 850000·Σ⌊pr/deg⌋ // 1e6, LEFT JOIN keeping isolated
    * docs at the teleport floor). */
  private def pagerankIterCte(i: Int): String =
    s"""pr$i AS (SELECT d.doc_id,
            CAST(150000 + 850000 * COALESCE(f.inflow, 0) // 1000000 AS BIGINT) AS pr
          FROM documents d LEFT JOIN (
            SELECT u.dst, SUM(p.pr // g.deg) AS inflow
            FROM und u JOIN pr${i - 1} p ON u.src = p.doc_id
                       JOIN deg g ON u.src = g.src
            GROUP BY u.dst) f ON d.doc_id = f.dst)"""
  private val minhashCandCte = // LSH bands → cand(doc_a, doc_b)
    s"""bands AS (SELECT doc_id, h_idx // ${Dedup.NumHashes / Dedup.NumBands} AS band_idx,
                         md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY h_idx)) AS band_hash
                  FROM mh GROUP BY doc_id, h_idx // ${Dedup.NumHashes / Dedup.NumBands}),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b
                  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id)"""

  // min-label propagation unrolled to `iters` hops over the verified
  // near-dup pair graph — mirrors Dedup.nearDupComponents exactly.
  // The CTE chain is shared by the plain-cluster and keeper-by-quality
  // oracles; the final labels live in l$iters.
  private def clusterCtes(iters: Int): String = {
    val hops = (1 to iters).map { i =>
      s"""n$i AS (SELECT e.src AS doc_id, min(l.component) AS nc
                  FROM edges e JOIN l${i - 1} l ON l.doc_id = e.dst GROUP BY 1),
          l$i AS (SELECT l.doc_id, least(l.component, COALESCE(n$i.nc, l.component)) AS component
                  FROM l${i - 1} l LEFT JOIN n$i USING (doc_id))"""
    }.mkString(", ")
    s"""$minhashCte,
       $minhashCandCte,
       $jaccardVerifyCte,
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
                 UNION ALL SELECT doc_b, doc_a FROM verified),
       l0 AS (SELECT doc_id, doc_id AS component FROM documents),
       $hops"""
  }

  private def clusterOracleSql(iters: Int = 2): String =
    s"""WITH ${clusterCtes(iters)}
       SELECT doc_id, component, CAST(doc_id = component AS INT) AS is_keeper
       FROM l$iters ORDER BY doc_id"""

  // keeper-by-quality over the same components: argmax of
  // (length(text), -doc_id) per component — mirrors Dedup.componentKeepers
  private def clusterKeeperOracleSql(iters: Int = 2): String =
    s"""WITH ${clusterCtes(iters)},
       scored AS (SELECT l.doc_id, l.component, length(d.text) AS len
                  FROM l$iters l JOIN documents d USING (doc_id)),
       k AS (SELECT component, doc_id AS keeper_id
             FROM (SELECT *, row_number() OVER (PARTITION BY component
                                                ORDER BY len DESC, doc_id) AS rn
                   FROM scored)
             WHERE rn = 1)
       SELECT s.doc_id, s.component, k.keeper_id,
              CAST(s.doc_id = k.keeper_id AS INT) AS is_keeper
       FROM scored s JOIN k USING (component) ORDER BY s.doc_id"""

  // golden-record survivorship over the same components: master by
  // (length DESC, doc_id), lang/source by mode (count DESC, value DESC —
  // the stated lexicographically-last tiebreak), sizes aggregated
  private def goldenRecordOracleSql(iters: Int = 2): String =
    s"""WITH ${clusterCtes(iters)},
       m AS (SELECT l.doc_id, l.component, d.text, d.lang, d.source, d.n_chars
             FROM l$iters l JOIN documents d USING (doc_id)),
       masters AS (SELECT component,
                          CAST(COUNT(*) AS BIGINT) AS n_members,
                          CAST(SUM(n_chars) AS BIGINT) AS total_chars
                   FROM m GROUP BY component),
       mk AS (SELECT component, doc_id AS master_id
              FROM (SELECT *, row_number() OVER (PARTITION BY component
                                                 ORDER BY length(text) DESC, doc_id) AS rn
                    FROM m) WHERE rn = 1),
       lm AS (SELECT component, lang
              FROM (SELECT component, lang,
                           row_number() OVER (PARTITION BY component
                                              ORDER BY COUNT(*) DESC, lang DESC) AS rn
                    FROM m GROUP BY component, lang) WHERE rn = 1),
       sm AS (SELECT component, source
              FROM (SELECT component, source,
                           row_number() OVER (PARTITION BY component
                                              ORDER BY COUNT(*) DESC, source DESC) AS rn
                    FROM m GROUP BY component, source) WHERE rn = 1)
       SELECT component, master_id, n_members, total_chars, lang, source
       FROM masters JOIN mk USING (component) JOIN lm USING (component)
       JOIN sm USING (component) ORDER BY component"""

  /** x168/x202 shared blocking-feature plane, pre-renamed into the _a
    * and _b self-join sides. One definition so the recall audit (x202)
    * can never drift from the scorer (x168) it audits.
    *
    * The per-block rank: a plain (lang, blk)-partitioned window puts
    * each whole block in ONE task, and web corpora concentrate in a
    * few (lang, short-length) blocks — a skew straggler at 100 TB.
    * ScalableRank.groupedRowNumber sub-splits every block into
    * monotone order-key ranges (max window partition ~|hot block|/256)
    * and produces IDENTICAL rank values; the composite key
    * n_chars·(max_doc+1)+doc_id encodes the (n_chars, doc_id) order as
    * one unique integer (doc_id ≤ max_doc by construction). The rank
    * input is a SLIM projection (the grouped rank evaluates its input
    * in the stats pass AND the ranked pass — simhash's per-doc md5
    * must not sit in that lineage); the signature joins in AFTER the
    * rank. Deliberately NOT cached: AQE's exchange reuse already
    * dedups the shuffled stages, and an explicit .cache() measured
    * SLOWER (3.2 vs 2.0 s at sf0.1). */
  private def linkageSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val mxd = docs.agg(max("doc_id").as("__mxd"))
    val slim = docs.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"))
      .withColumn("blk", expr("n_chars div 200"))
    val ranked = graft.util.ScalableRank.groupedRowNumber(
        slim.crossJoin(broadcast(mxd))
          .withColumn("__ok", col("n_chars") * (col("__mxd") + 1) + col("doc_id")),
        Seq("lang", "blk"), "__ok", "rn")
      .drop("__ok", "__mxd")
      .join(Dedup.simhashMd5(docs), Seq("doc_id"))
    (ranked.columns.foldLeft(ranked)((df, c) => df.withColumnRenamed(c, c + "_a")),
     ranked.columns.foldLeft(ranked)((df, c) => df.withColumnRenamed(c, c + "_b")))
  }

  /** The Fellegi-Sunter comparator sum (integer milli-log-odds) over a
    * renamed pair — the ONE definition of the x168 match weights,
    * shared with x202's ground truth. */
  private def linkageScore(sfx1: String, sfx2: String): org.apache.spark.sql.Column =
    when(col("source" + sfx1) === col("source" + sfx2), 2197L).otherwise(-693L) +
      when(abs(col("n_chars" + sfx1) - col("n_chars" + sfx2)) <= 20, 1386L)
        .otherwise(-511L) +
      when(bit_count(col("simhash" + sfx1)
        .bitwiseXOR(col("simhash" + sfx2))) <= 8, 2996L).otherwise(-916L)

  // the same two definitions for the oracles: the ranked feature CTE
  // (window form — single-node DuckDB needs no sub-splitting) and the
  // comparator sum, interpolated into BOTH x168's and x202's SQL
  private val linkageFeatCte: String =
    """feat AS (SELECT d.doc_id, d.lang, d.source, d.n_chars, s.simhash,
                       d.n_chars // 200 AS blk,
                       row_number() OVER (PARTITION BY d.lang, d.n_chars // 200
                                          ORDER BY d.n_chars, d.doc_id) AS rn
                FROM documents d JOIN sims s USING (doc_id))"""
  private val linkageScoreSql: String =
    """CASE WHEN a.source = b.source THEN 2197 ELSE -693 END +
       CASE WHEN abs(a.n_chars - b.n_chars) <= 20 THEN 1386 ELSE -511 END +
       CASE WHEN bit_count(xor(a.simhash, b.simhash)) <= 8 THEN 2996 ELSE -916 END"""

  // md5-parity simhash, generated from the same bit count as Dedup.simhashMd5
  private val simhashSelect: String = {
    val votes = (0 until 32).map(j =>
      s"SUM(CASE WHEN substring(md5(tok), ${j + 1}, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val bits = (0 until 32).map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""dtok AS (SELECT DISTINCT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok FROM documents),
       votes AS (SELECT doc_id, $votes FROM dtok GROUP BY doc_id),
       sims AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM votes)"""
  }

  // zipped (vec_id, pos, q) fixed-point embedding elements + exact norms
  // (q = round(v·10⁶) — mirrors Similarity.Quant)
  private val embCte =
    """e AS (SELECT vec_id,
              CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q,
              unnest(generate_series(1, len(embedding))) AS pos
            FROM embeddings),
       norms AS (SELECT vec_id, CAST(SUM(q * q) AS DOUBLE) AS nsq FROM e GROUP BY vec_id)"""

  // the full LSH-ANN pipeline in SQL: the ±1 plane weights, plane count
  // and band geometry are the same driver-side constants the Spark plan
  // folds in, so signatures, buckets, candidate set and exact re-rank
  // all reproduce bit-for-bit
  /** The LSH-ANN CTE chain (plane weights → signatures → band buckets →
    * candidate pairs → exact re-rank scores, ending at `scored`) with an
    * optional probe-side filter — shared by the x13 full-surface oracle
    * and the x55 recall audit so the two cannot drift. Plane weights and
    * band geometry are the same driver-side constants the Spark plan
    * folds in, so the approximate pipeline reproduces bit-for-bit. */
  private def annScoredCtes(candFilter: String = ""): String = {
    val numPlanes = Similarity.NumPlanes
    val numBands = Similarity.NumBands
    val bandW = numPlanes / numBands
    val mask = (1L << bandW) - 1
    val w = Similarity.planeWeights(64, numPlanes)
    val rows = (0 until numPlanes).map { p =>
      s"($p, ${(0 until 64).map(d => w(p)(d).toLong).mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""planes AS (SELECT p, unnest(wts) AS wt, unnest(generate_series(1, 64)) AS pos
                  FROM (VALUES $rows) AS t(p, wts)),
       pd AS (SELECT e.vec_id, p, SUM(e.q * wt) AS dot
              FROM e JOIN planes USING (pos) GROUP BY 1, 2),
       sigs AS (SELECT vec_id,
                       CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig
                FROM pd GROUP BY 1),
       chunks AS (SELECT vec_id, ci, (sig >> (ci * $bandW)) & $mask AS chunk
                  FROM sigs CROSS JOIN generate_series(0, ${numBands - 1}) AS g(ci)),
       cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS vb
                FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk
                                            AND a.vec_id <> b.vec_id $candFilter),
       dots AS (SELECT c.qid, c.vb, SUM(x.q * y.q) AS dot
                FROM cand c JOIN e x ON x.vec_id = c.qid
                            JOIN e y ON y.vec_id = c.vb AND y.pos = x.pos
                GROUP BY 1, 2),
       scored AS (SELECT qid, vb, CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) AS cos
                  FROM dots JOIN norms nx ON nx.vec_id = qid JOIN norms ny ON ny.vec_id = vb)"""
  }

  /** x55: recall@k of the LSH-ANN index against exact brute force on a
    * sampled query set — both lists resolved inside the one statement
    * from the same constants. */
  private def annRecallOracleSql(k: Int = RecallK): String =
    s"""WITH $embCte,
       ${annScoredCtes(candFilter = "WHERE a.vec_id < 10")},
       ann AS (SELECT qid, vb FROM
                 (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vb) AS rank
                  FROM scored) WHERE rank <= $k),
       exd AS (SELECT x.vec_id AS qid, y.vec_id AS vb, SUM(x.q * y.q) AS dot
               FROM e x JOIN e y ON y.pos = x.pos AND y.vec_id <> x.vec_id
               WHERE x.vec_id < 10 GROUP BY 1, 2),
       exsc AS (SELECT qid, vb, CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) AS cos
                FROM exd JOIN norms nx ON nx.vec_id = qid JOIN norms ny ON ny.vec_id = vb),
       exact AS (SELECT qid, vb FROM
                   (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vb) AS rank
                    FROM exsc) WHERE rank <= $k),
       hits AS (SELECT qid, count(*) AS n_hit
                FROM ann JOIN exact USING (qid, vb) GROUP BY 1)
       SELECT q.qid, COALESCE(n_hit, 0) AS n_hit,
              COALESCE(n_hit, 0) * ${1000000 / k} AS recall_ppm
       FROM (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 10) q
       LEFT JOIN hits USING (qid) ORDER BY qid"""

  /** x13b: hot-bucket candidate cap and planted-cluster size — shared
    * by the Spark plan and the generated oracle. Copies > cap so the
    * planted family's buckets provably exceed the cap at every SF. */
  val AnnBucketCap = 64
  val AnnHotCopies = 80

  /** Doc-frequency cap for the x36 capped-Jaccard query — shared by the
    * Spark plan and the generated oracle so the two cannot drift. */
  val JaccardDfCap = 25

  /** x56: minimum containment (either direction) for a pair to surface.
    * Shared by the Spark plan and the generated oracle. */
  val ContainmentThreshold = 0.5

  /** x58: collocation count floor and result depth — shared by the
    * Spark plan and the generated oracle. */
  val MinColloCount = 5L
  val CollocTopK = 50

  /** x65: BPE pair-statistics noise floor and result depth — shared by
    * the Spark plan and the generated oracle. */
  val MinBpePairCount = 5L
  val BpeTopK = 40

  /** x71: fixed deterministic sample size — shared by the Spark plan
    * and the generated oracle. */
  val FixedSampleK = 100

  /** x66: the DSIR target domain — the curated slice the importance
    * weights pull the raw corpus toward. Shared by the Spark predicate
    * and the generated oracle. */
  val DsirTargetLang = "en"

  /** x67: BPE training rounds — shared by the Spark loop and the
    * generated (unrolled) oracle. */
  val BpeMergeRounds = 4

  /** x61: SemDeDup within-cluster cosine cut — shared by the Spark plan
    * and the generated oracle (the x12/x33 threshold precedent; the
    * synthetic corpus' within-cluster cosines peak near 0, so 0.3 keeps
    * a meaningful drop set without borderline ties). */
  val SemDedupThreshold = 0.3
  /** x129: systematic PPS sample target size. */
  val PpsSampleN = 64L
  /** x137: priority-sample (weighted, without replacement) size. */
  val SampleTopK = 64
  /** x147: Matryoshka truncation prefix (leading dims kept). */
  val MatryoshkaPrefix = 16

  /** x74: semantic-contamination cosine cut — a train vector this close
    * to any benchmark vector is flagged. Shared by the Spark plan and
    * the generated oracle. Same value as [[SemDedupThreshold]] for the
    * same corpus reason (within-cluster cosines peak near 0; 0.3 flags
    * a meaningful minority without borderline ties — 0.4 leaves 7 hits
    * at sf0.01, 0.5 none). */
  val SemContamThreshold = 0.3

  /** The [[graft.text.Bpe.merges]] loop unrolled in DuckDB SQL: per
    * round, a pair aggregate over the current vocab state, a 1-row
    * argmax CTE, and a RECURSIVE replace-to-fixpoint CTE that applies
    * the merge to the space-joined symbol string (repeated literal
    * replace converges to exactly the greedy left-to-right fold the
    * Spark side computes — a single replace pass can miss consecutive
    * occurrences because the pattern consumes its boundary space, so
    * the recursion runs until the string stops changing; each merge
    * strictly shortens the string, so the shortest state per word is
    * the fixpoint). */
  private def bpeMergesOracleSql(rounds: Int): String = {
    val unions = (1 to rounds).map(r =>
      s"SELECT CAST($r AS INT) AS round, a AS p1, b AS p2, c AS pair_count FROM t$r")
      .mkString("\n          UNION ALL ")
    s"""WITH RECURSIVE ${bpeChainCtes(rounds)}
        $unions
        ORDER BY round"""
  }

  /** x68: the trained vocabulary applied — per-doc word/BPE-token
    * counts off the SAME unrolled chain (s$rounds), so the fertility
    * audit hash-checks the whole training loop a second way. */
  private def bpeFertilityOracleSql(rounds: Int): String =
    s"""WITH RECURSIVE ${bpeChainCtes(rounds)},
        occ AS (SELECT doc_id, unnest(t) AS word FROM tok),
        enc AS (SELECT word, len(string_split(s, ' ')) AS n_tok FROM s$rounds)
        SELECT doc_id, count(*) AS n_words, CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
        FROM occ JOIN enc USING (word)
        GROUP BY doc_id ORDER BY doc_id"""

  // one merge round: pair stats over the current state, 1-row argmax,
  // recursive replace-to-fixpoint application (see bpeMergesOracleSql).
  // Every non-recursive stage is MATERIALIZED: the recursive r$r
  // references t$r's scalar subqueries per row per iteration, and an
  // inlined t$r would re-run the whole nested chain each time —
  // exponential in rounds (measured: s3 13 s, s4 minutes at a
  // 31-type vocabulary; materialized, the full 4-round chain is 0.4 s)
  private def bpeRoundCtes(r: Int): String = {
    val prev = s"s${r - 1}"
    val rep = s"trim(replace(' ' || s || ' ', " +
      s"' ' || (SELECT a FROM t$r) || ' ' || (SELECT b FROM t$r) || ' ', " +
      s"' ' || (SELECT a FROM t$r) || (SELECT b FROM t$r) || ' '))"
    s"""p$r AS MATERIALIZED (SELECT sym[i] AS a, sym[i + 1] AS b, CAST(SUM(wc) AS BIGINT) AS c
               FROM (SELECT wc, string_split(s, ' ') AS sym FROM $prev),
                    unnest(range(1, len(sym))) AS u(i)
               GROUP BY 1, 2),
       t$r AS MATERIALIZED (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
       r$r AS (SELECT word, wc, s FROM $prev
               UNION ALL
               SELECT word, wc, $rep FROM r$r WHERE s <> $rep),
       s$r AS MATERIALIZED (SELECT word, wc, s FROM
                 (SELECT word, wc, s, row_number() OVER
                    (PARTITION BY word ORDER BY length(s)) AS rn FROM r$r)
               WHERE rn = 1)"""
  }

  // the shared corpus->vocab->k-merge-rounds CTE chain (ends at s$rounds)
  private def bpeChainCtes(rounds: Int): String =
    s"""$tokCte,
        w AS (SELECT unnest(t) AS word FROM tok),
        words AS (SELECT word, count(*) AS wc FROM w
                  WHERE length(word) >= 1 GROUP BY word),
        s0 AS MATERIALIZED (SELECT word, wc,
                 array_to_string([word[i:i] FOR i IN range(1, length(word) + 1)], ' ') AS s
               FROM words),
        ${(1 to rounds).map(bpeRoundCtes).mkString(",\n        ")}"""

  /** x55: recall-audit depth k. The single source for BOTH the Spark
    * plan's literals and the generated oracle (annRecallOracleSql) —
    * hard-coding k at the query site and defaulting it in the oracle
    * separately lets the two silently desynchronize. recall_ppm is the
    * integer n_hit·(10⁶/k), so k must divide 10⁶ exactly. */
  val RecallK = 5
  require(1000000 % RecallK == 0,
    s"RecallK=$RecallK must divide 1e6 for integer recall_ppm")

  /** x55 semantics off an arbitrary band-table index: recall@[[RecallK]]
    * of the LSH-ANN candidate list against exact brute force on the
    * sampled query set. The gate query builds the band table inline
    * (self-contained, so the oracle covers the whole pipeline); the
    * bench probes a PERSISTED band table through this same function —
    * the service shape is the identical plan over a parquet scan
    * instead of a per-run signature rebuild. The exact brute-force side
    * is recomputed either way: queries×corpus is the audit's intrinsic
    * cost, bounded by the sampled query set. */
  // ---- pair-plane tails: the post-detector stages of the dedup
  // audits, shared by the gate queries (self-contained — the oracle
  // covers detector + tail end-to-end) and the bench probes (the
  // service shape: a curation stack materializes each detector's pair
  // table ONCE and every audit joins it — the r7 adjudication's own
  // reading of the production form) so the two cannot drift.

  private def splitCol(key: Column): Column = {
    val b = graft.util.Sampling.hashBucket(key)
    when(b < 205, "train").when(b < 230, "val").otherwise("test")
  }

  private def splitMatrix(pairs: DataFrame, assign: DataFrame): DataFrame =
    pairs
      .join(assign.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(assign.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("split_a", "split_b")

  /** x42 tail: leakage matrix of a near-dup pair set across a
    * doc-id-keyed train/val/test assignment. */
  def splitLeakage(pairs: DataFrame, docs: DataFrame): DataFrame =
    splitMatrix(pairs,
      docs.select(col("doc_id"), splitCol(col("doc_id")).as("split")))

  /** x43 tail: the x42 matrix with the assignment keyed on the near-dup
    * COMPONENT — every member of a dup cluster lands in one split.
    * The components come from the large-star/small-star contraction
    * (diameter-independent, O(log n) rounds): an UNDER-merged cluster
    * here leaks train rows into val/test, so this consumer wants the
    * convergence-guaranteed CC, not a fixed hop count — LSS roots at
    * component minima like the min-label forms, so the swap is
    * drop-in (hash-gated ≡ the unrolled min-label oracle). */
  def componentSplit(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val p = pairs.select("doc_a", "doc_b").cache()
    val labels = Dedup.ccLargeStarSmallStar(p, docs)._1
    splitMatrix(p,
      labels.select(col("doc_id"), splitCol(col("component")).as("split")))
  }

  /** x180 tail: per-component cohesion over a pair plane — members,
    * verified pairs, clique density in exact ppm, and min/max verified
    * jaccard for every multi-member near-dup component (see the gate
    * comment; rides the standing plane in the bench, probe ≡ gate via
    * PairPlaneProbeSpec). */
  def clusterCohesion(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val labels = Dedup.nearDupComponents(pairs, docs)
    val members = labels.groupBy("component").agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
    val pc = pairs
      .join(labels.select(col("doc_id").as("doc_a"), col("component")), Seq("doc_a"))
      .groupBy("component")
      .agg(count(lit(1)).as("n_pairs"),
        min("jaccard").as("min_jaccard"), max("jaccard").as("max_jaccard"))
    members.join(pc, Seq("component"))
      .select(col("component"), col("n_members"), col("n_pairs"),
        expr("n_pairs * 2000000 div (n_members * (n_members - 1))")
          .as("density_ppm"),
        col("min_jaccard"), col("max_jaccard"))
      .orderBy("component")
  }

  /** x73 tail: Bloom pre-screen accuracy audit over a shingle plane —
    * bloom-passing vs exact benchmark hits per train doc, false
    * positives = the difference. Factored over (sh5, bits) so the
    * bench can ride the STANDING shingle plane + benchmark bit-set (a
    * decontamination service keeps both: the bit-set is broadcast
    * metadata built once per benchmark release, the shingle plane is
    * the same one the MinHash detector derives from) while the gate
    * form rebuilds both under the hash — probe ≡ gate pinned by
    * PairPlaneProbeSpec. */
  def bloomScreenOnPlane(docs: DataFrame, sh5: DataFrame,
                         bits: DataFrame): DataFrame = {
    val bench = sh5.filter(col("doc_id") % 20 === 0).select("sh").distinct()
    val train = sh5.filter(col("doc_id") % 20 =!= 0)
    val bloomHits = graft.util.Bloom.passing(train, bits, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("nb"))
    val exactHits = train.join(bench, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("ne"))
    docs.filter(col("doc_id") % 20 =!= 0).select("doc_id")
      .join(bloomHits, Seq("doc_id"), "left")
      .join(exactHits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_bloom_hits"),
        coalesce(col("ne"), lit(0L)).as("n_exact_hits"),
        (coalesce(col("nb"), lit(0L)) - coalesce(col("ne"), lit(0L)))
          .as("n_false_positives"))
      .orderBy("doc_id")
  }

  /** x164's DETECTOR: the weighted similarity-edge table — shingle-set
    * symmetric-difference weights (|AΔB| = na+nb−2i, exact integers),
    * edges kept at jaccard ≥ 0.3 via the cross-multiplied integer
    * inequality. The inverted-index self-join is the x2 cost shape
    * (duplication-heavy corpora pay the true-pair quadratic — the x84
    * regime note applies verbatim), so the bench materializes this
    * once and times [[ssspOnEdges]] over the standing table. */
  def ssspEdges(docs: DataFrame): DataFrame = {
    val sh = Dedup.docShingles(docs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(col("i") * 10 >= (col("na") + col("nb") - col("i")) * 3)
      .select(col("doc_a"), col("doc_b"),
        (col("na") + col("nb") - col("i") * 2).as("w"))
  }

  /** x164 tail: 3 unrolled min-plus (Bellman-Ford) relaxation rounds
    * from the seed set over a weighted edge table — each round one
    * edge-keyed join + a map-combined min; at scale the loop runs to
    * fixpoint with per-hop localCheckpoint (the x59/LSS discipline). */
  def ssspOnEdges(docs: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges
      .select(col("doc_a").as("src"), col("doc_b").as("dst"), col("w"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst"), col("w")))
      .localCheckpoint(true)
    var dist = docs.select("doc_id")
      .withColumn("dist",
        when(pmod(col("doc_id"), lit(50L)) === 0, 0L).cast("long"))
    for (_ <- 1 to 3) {
      val relaxed = und.join(dist.filter(col("dist").isNotNull),
          col("src") === col("doc_id"))
        .groupBy(col("dst")).agg(min(col("dist") + col("w")).as("nd"))
      dist = dist.join(relaxed, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"), least(col("dist"), col("nd")).as("dist"))
    }
    dist.select(col("doc_id"), col("dist"),
        col("dist").isNotNull.cast("int").as("reached"))
      .orderBy("doc_id")
  }

  /** x156 tail: golden-record survivorship over the near-dup
    * components — master identity by (length DESC, doc_id), lang and
    * source by mode (ties → lexicographically last), sizes
    * aggregated. The three rules consume the labeled members, so the
    * doc-sized member table (len replaces text — never
    * corpus-text-sized) is pinned ONCE; each rule is a map-combinable
    * component-keyed aggregate, never a per-component rank window. */
  def goldenRecord(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val labels = Dedup.nearDupComponents(pairs, docs)
    val m = labels.select("doc_id", "component").join(docs, Seq("doc_id"))
      .select(col("component"), col("doc_id"),
        length(col("text")).as("len"), col("lang"), col("source"),
        col("n_chars"))
      .localCheckpoint(true)
    val masters = m.groupBy("component").agg(
      max(struct(col("len"), (-col("doc_id")).as("nid"))).as("mx"),
      count(lit(1)).as("n_members"),
      sum(col("n_chars")).as("total_chars"))
      .select(col("component"), (-col("mx.nid")).as("master_id"),
        col("n_members"), col("total_chars"))
    def fieldMode(field: String): DataFrame =
      m.groupBy(col("component"), col(field))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("component")
        .agg(max(struct(col("cnt"), col(field).as("v"))).as("mx"))
        .select(col("component"), col("mx.v").as(field))
    masters.join(fieldMode("lang"), Seq("component"))
      .join(fieldMode("source"), Seq("component"))
      .select("component", "master_id", "n_members", "total_chars",
        "lang", "source")
      .orderBy("component")
  }

  /** x75 tail: unordered source-pair duplication cells off the pair
    * set (see the query scaladoc for the n_pairs/n_docs read). */
  def sourceOverlap(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("source_a", "source_b")
      .agg((count(lit(1)) / 2).cast("bigint").as("n_pairs"),
        countDistinct("doc_id").as("n_docs"))
      .orderBy("source_a", "source_b")
  }

  /** x123 tail: per-node triangle support + local clustering coefficient
    * over a detector pair plane (doc_a < doc_b canonical edges). The
    * triangle enumeration is the standard ordered two-path join — wedge
    * (a<b)⋈(b<c) closed by the (a,c) edge — so each triangle counts
    * exactly once; both joins key on a doc_id (SMJ/shuffle-hash at
    * scale), and the per-node fold is one explode + map-combined
    * aggregate. Hot-node wedge blowup is bounded by the pair plane's
    * df-cap upstream (the x4 geometry), not re-mitigated here. The
    * local coefficient 2T/k(k−1) stays integer ppm. */
  def trianglesOnPairs(pairs: DataFrame): DataFrame = {
    val e = pairs.select("doc_a", "doc_b")
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.doc_b") === col("bc.doc_a"))
      .join(e.as("ac"),
        col("ac.doc_a") === col("ab.doc_a") && col("ac.doc_b") === col("bc.doc_b"))
      .select(col("ab.doc_a").as("a"), col("ab.doc_b").as("b"),
        col("bc.doc_b").as("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("doc_a").as("doc_id"))
      .unionAll(e.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .withColumn("clustering_ppm",
        when(col("degree") >= 2,
          expr("n_triangles * 2000000 div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
      .select("doc_id", "degree", "n_triangles", "clustering_ppm")
      .orderBy("doc_id")
  }

  /** x70 tail: the agreement fold of two detector pair sets. */
  def dedupAgreement(mhPairs: DataFrame, shPairs: DataFrame): DataFrame = {
    val mh = mhPairs.select("doc_a", "doc_b").withColumn("in_mh", lit(1))
    val sh = shPairs.select("doc_a", "doc_b").withColumn("in_sh", lit(1))
    mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(when(col("in_mh").isNotNull && col("in_sh").isNotNull, 1L)
          .otherwise(0L)).as("n_both"),
        sum(when(col("in_sh").isNull, 1L).otherwise(0L)).as("n_minhash_only"),
        sum(when(col("in_mh").isNull, 1L).otherwise(0L)).as("n_simhash_only"))
  }

  def annRecall(emb: DataFrame, banded: DataFrame): DataFrame = {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.topK(emb, queries, RecallK).select("qid", "vb")
    val ann = Similarity.annTopKOnIndex(banded, emb, queries, RecallK)
      .select("qid", "vb")
    val hits = ann.join(exact, Seq("qid", "vb"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("h"))
    queries.select(col("vec_id").as("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("h"), lit(0L)).as("n_hit"),
        (coalesce(col("h"), lit(0L)) * lit(1000000L / RecallK)).as("recall_ppm"))
      .orderBy("qid")
  }

  // the adaptive-geometry LSH-ANN pipeline in SQL: the signature width
  // resolves from count(*) with the SAME float-free arithmetic as
  // Similarity.adaptivePlanes (smallest w with targetBucket·2^w ≥ n,
  // clamped to [8, 15]), and the embedded weight table is the full
  // 60-plane prefix of the shared Random(42) stream — a narrower
  // resolved family is its prefix, so any resolved width reproduces
  // the Spark signatures bit-for-bit.
  private def annAdaptiveOracleSql(k: Int = 5, targetBucket: Int = 16): String = {
    val numBands = Similarity.NumBands
    val maxPlanes = numBands * 15
    val w = Similarity.planeWeights(64, maxPlanes)
    val rows = (0 until maxPlanes).map { p =>
      s"($p, ${(0 until 64).map(d => w(p)(d).toLong).mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""WITH $embCte,
       cnt AS (SELECT count(*) AS n FROM embeddings),
       geo AS (SELECT greatest(8, min(w)) AS bandw
               FROM generate_series(1, 15) AS g(w), cnt
               WHERE ($targetBucket * (CAST(1 AS BIGINT) << w)) >= n OR w = 15),
       pl AS (SELECT p, unnest(wts) AS wt, unnest(generate_series(1, 64)) AS pos
              FROM (VALUES $rows) AS t(p, wts), geo
              WHERE p < $numBands * bandw),
       pd AS (SELECT e.vec_id, p, SUM(e.q * wt) AS dot
              FROM e JOIN pl USING (pos) GROUP BY 1, 2),
       sigs AS (SELECT vec_id,
                       CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig
                FROM pd GROUP BY 1),
       chunks AS (SELECT vec_id, ci,
                         (sig >> (ci * bandw)) & ((CAST(1 AS BIGINT) << bandw) - 1) AS chunk
                  FROM sigs CROSS JOIN generate_series(0, ${numBands - 1}) AS g(ci), geo),
       cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS vb
                FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk
                                            AND a.vec_id <> b.vec_id),
       dots AS (SELECT c.qid, c.vb, SUM(x.q * y.q) AS dot
                FROM cand c JOIN e x ON x.vec_id = c.qid
                            JOIN e y ON y.vec_id = c.vb AND y.pos = x.pos
                GROUP BY 1, 2),
       scored AS (SELECT qid, vb, CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) AS cos
                  FROM dots JOIN norms nx ON nx.vec_id = qid JOIN norms ny ON ny.vec_id = vb)
       SELECT qid, vb, cos, rank FROM
         (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vb) AS INT) AS rank
          FROM scored)
       WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** x13b: the adaptive-geometry ANN chain over a base that UNIONS the
    * planted hot cluster (AnnHotCopies copies of vector 0 at ids above
    * max(vec_id)), with the hot-bucket filter (HAVING count ≤ cap)
    * applied between the chunk table and the candidate self-join —
    * the same plant, width resolution, and cap the Spark plan runs. */
  private def annBoundedOracleSql(k: Int = 5, targetBucket: Int = 16): String = {
    val numBands = Similarity.NumBands
    val maxPlanes = numBands * 15
    val w = Similarity.planeWeights(64, maxPlanes)
    val rows = (0 until maxPlanes).map { p =>
      s"($p, ${(0 until 64).map(d => w(p)(d).toLong).mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT (SELECT max(vec_id) FROM embeddings) + i,
                       (SELECT embedding FROM embeddings WHERE vec_id = 0)
                FROM generate_series(1, $AnnHotCopies) AS g(i)),
       e AS (SELECT vec_id,
                    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q,
                    unnest(generate_series(1, len(embedding))) AS pos
             FROM base),
       norms AS (SELECT vec_id, CAST(SUM(q * q) AS DOUBLE) AS nsq FROM e GROUP BY vec_id),
       cnt AS (SELECT count(*) AS n FROM base),
       geo AS (SELECT greatest(8, min(w)) AS bandw
               FROM generate_series(1, 15) AS g(w), cnt
               WHERE ($targetBucket * (CAST(1 AS BIGINT) << w)) >= n OR w = 15),
       pl AS (SELECT p, unnest(wts) AS wt, unnest(generate_series(1, 64)) AS pos
              FROM (VALUES $rows) AS t(p, wts), geo
              WHERE p < $numBands * bandw),
       pd AS (SELECT e.vec_id, p, SUM(e.q * wt) AS dot
              FROM e JOIN pl USING (pos) GROUP BY 1, 2),
       sigs AS (SELECT vec_id,
                       CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig
                FROM pd GROUP BY 1),
       chunks AS (SELECT vec_id, ci,
                         (sig >> (ci * bandw)) & ((CAST(1 AS BIGINT) << bandw) - 1) AS chunk
                  FROM sigs CROSS JOIN generate_series(0, ${numBands - 1}) AS g(ci), geo),
       okb AS (SELECT ci, chunk FROM chunks GROUP BY ci, chunk
               HAVING count(*) <= $AnnBucketCap),
       cold AS (SELECT c.vec_id, c.ci, c.chunk FROM chunks c JOIN okb USING (ci, chunk)),
       cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS vb
                FROM cold a JOIN cold b ON a.ci = b.ci AND a.chunk = b.chunk
                                        AND a.vec_id <> b.vec_id),
       dots AS (SELECT c.qid, c.vb, SUM(x.q * y.q) AS dot
                FROM cand c JOIN e x ON x.vec_id = c.qid
                            JOIN e y ON y.vec_id = c.vb AND y.pos = x.pos
                GROUP BY 1, 2),
       scored AS (SELECT qid, vb, CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) AS cos
                  FROM dots JOIN norms nx ON nx.vec_id = qid JOIN norms ny ON ny.vec_id = vb)
       SELECT qid, vb, cos, rank FROM
         (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vb) AS INT) AS rank
          FROM scored)
       WHERE rank <= $k ORDER BY qid, rank"""
  }

  // the IVF pipeline in SQL: k-means unrolled (same deterministic seeds,
  // exact integer assignment dots, round(avg) centroid updates), then
  // probe-limited exact re-rank — hash-identical to Similarity.ivfTopK
  private def ivfAssignCte(name: String, cent: String) =
    s"""$name AS (SELECT vec_id, cluster FROM (
          SELECT e.vec_id, c.cluster,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY SUM(e.q * c.cq) DESC, c.cluster) AS rn
          FROM e JOIN $cent c USING (pos) GROUP BY e.vec_id, c.cluster)
        WHERE rn = 1)"""

  private def ivfUpdateCte(name: String, assign: String) =
    s"""$name AS (SELECT a.cluster, e.pos, CAST(round(avg(e.q)) AS BIGINT) AS cq
                  FROM e JOIN $assign a USING (vec_id) GROUP BY 1, 2)"""

  /** The unrolled relational k-means of [[Similarity.ivfIndex]] as a
    * DuckDB CTE chain ending at `cent$iters` / `a$iters` — shared by
    * the x16 top-k oracle and the x47 cluster-profile oracle so both
    * resolve the SAME index from the same constants. */
  private def ivfKmeansCtes(nlist: Int, iters: Int): String = {
    val iterCtes = (1 to iters).map(i =>
      s"${ivfUpdateCte(s"cent$i", s"a${i - 1}")}, ${ivfAssignCte(s"a$i", s"cent$i")}").mkString(",\n       ")
    s"""$embCte,
       seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster
                 FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $nlist)),
       cent0 AS (SELECT s.cluster, e.pos, e.q AS cq FROM e JOIN seeds s USING (vec_id)),
       ${ivfAssignCte("a0", "cent0")},
       $iterCtes"""
  }

  private def ivfOracleSql(nlist: Int = 16, nprobe: Int = 4, iters: Int = 2, k: Int = 5): String = {
    s"""WITH ${ivfKmeansCtes(nlist, iters)},
       probes AS (SELECT vec_id AS qid, cluster FROM (
            SELECT e.vec_id, c.cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY SUM(e.q * c.cq) DESC, c.cluster) AS rn
            FROM e JOIN cent$iters c USING (pos)
            WHERE e.vec_id < 10 GROUP BY e.vec_id, c.cluster)
          WHERE rn <= $nprobe),
       cand AS (SELECT DISTINCT p.qid, a.vec_id AS vb
                FROM probes p JOIN a$iters a USING (cluster) WHERE a.vec_id <> p.qid),
       dots AS (SELECT c.qid, c.vb, SUM(x.q * y.q) AS dot
                FROM cand c JOIN e x ON x.vec_id = c.qid
                            JOIN e y ON y.vec_id = c.vb AND y.pos = x.pos
                GROUP BY 1, 2),
       scored AS (SELECT qid, vb, CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) AS cos
                  FROM dots JOIN norms nx ON nx.vec_id = qid JOIN norms ny ON ny.vec_id = vb)
       SELECT qid, vb, cos, rank FROM
         (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vb) AS INT) AS rank
          FROM scored)
       WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** x47: per-cluster corpus profile off the SAME unrolled k-means as
    * the x16 oracle — member count, summed member norm², centroid
    * norm², all exact integers. */
  private def ivfProfileOracleSql(nlist: Int = 16, iters: Int = 2): String =
    s"""WITH ${ivfKmeansCtes(nlist, iters)},
       nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nsq FROM e GROUP BY vec_id),
       prof AS (SELECT cluster, count(*) AS n_vecs, CAST(SUM(nsq) AS BIGINT) AS sum_nsq
                FROM a$iters JOIN nrm USING (vec_id) GROUP BY cluster),
       centn AS (SELECT cluster, CAST(SUM(cq * cq) AS BIGINT) AS cent_nsq
                 FROM cent$iters GROUP BY cluster)
       SELECT CAST(cluster AS INT) AS cluster, n_vecs, sum_nsq, cent_nsq
       FROM prof JOIN centn USING (cluster) ORDER BY cluster"""

  /** x126: the same k-means replay extended to the inertia expansion —
    * per-vector dots against the final centroids, exact decimal
    * moments, doubles only in the terminal projection (mirrors
    * [[Similarity.ivfInertia]] bit-for-bit). */
  private def ivfInertiaOracleSql(nlist: Int = 16, iters: Int = 2): String =
    s"""WITH ${ivfKmeansCtes(nlist, iters)},
       d AS (SELECT a.vec_id, a.cluster,
                    CAST(SUM(e.q * c.cq) AS DECIMAL(38,0)) AS vdot,
                    CAST(SUM(e.q * e.q) AS DECIMAL(38,0)) AS nsq
             FROM a$iters a JOIN e ON e.vec_id = a.vec_id
                  JOIN cent$iters c ON c.cluster = a.cluster AND c.pos = e.pos
             GROUP BY 1, 2),
       p AS (SELECT cluster, count(*) AS n_vecs,
                    CAST(SUM(nsq) AS DECIMAL(38,0)) AS sum_nsq,
                    CAST(SUM(vdot) AS DECIMAL(38,0)) AS sum_dot
             FROM d GROUP BY 1),
       cn AS (SELECT cluster, CAST(SUM(cq * cq) AS DECIMAL(38,0)) AS cent_nsq
              FROM cent$iters GROUP BY 1),
       f AS (SELECT p.cluster, p.n_vecs,
                    CAST(sum_nsq - 2 * sum_dot
                         + CAST(n_vecs AS DECIMAL(38,0)) * cent_nsq AS DOUBLE) AS inertia
             FROM p JOIN cn USING (cluster))
       SELECT CAST(cluster AS INT) AS cluster, n_vecs, inertia,
              inertia / CAST(n_vecs AS DOUBLE) AS mean_dist2
       FROM f ORDER BY cluster"""

  /** x62: the PQ pipeline unrolled — per-subspace k-means ((sub,
    * cluster) compound key), codes, query-side ADC LUT, shortlist,
    * exact re-rank. Same constants as [[Similarity.pqIndex]]/
    * [[Similarity.pqTopK]] so codebooks, codes, ADC scores and ties
    * reproduce bit-for-bit. */
  private def pqOracleSql(subDim: Int = Similarity.PqSubDim, ks: Int = Similarity.PqKs,
                          iters: Int = 2, k: Int = 5, shortlist: Int = 20): String = {
    def assignCte(name: String, cent: String) =
      s"""$name AS (SELECT vec_id, sub, cluster FROM (
            SELECT es.vec_id, es.sub, c.cluster,
                   row_number() OVER (PARTITION BY es.vec_id, es.sub
                     ORDER BY SUM(es.q * c.cq) DESC, c.cluster) AS rn
            FROM es JOIN $cent c ON c.sub = es.sub AND c.pos = es.pos
            GROUP BY es.vec_id, es.sub, c.cluster) WHERE rn = 1)"""
    def updateCte(name: String, assign: String) =
      s"""$name AS (SELECT a.sub, a.cluster, es.pos, CAST(round(avg(es.q)) AS BIGINT) AS cq
                    FROM es JOIN $assign a ON a.vec_id = es.vec_id AND a.sub = es.sub
                    GROUP BY 1, 2, 3)"""
    val iterCtes = (1 to iters).map(i =>
      s"${updateCte(s"cent$i", s"a${i - 1}")}, ${assignCte(s"a$i", s"cent$i")}").mkString(",\n       ")
    s"""WITH $embCte,
       es AS (SELECT vec_id, CAST((pos - 1) // $subDim AS INT) AS sub, pos, q FROM e),
       seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster
                 FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $ks)),
       cent0 AS (SELECT es.sub, s.cluster, es.pos, es.q AS cq FROM es JOIN seeds s USING (vec_id)),
       ${assignCte("a0", "cent0")},
       $iterCtes,
       lut AS (SELECT es.vec_id AS qid, c.sub, c.cluster, SUM(es.q * c.cq) AS d
               FROM es JOIN cent$iters c ON c.sub = es.sub AND c.pos = es.pos
               WHERE es.vec_id < 10 GROUP BY 1, 2, 3),
       adc AS (SELECT l.qid, a.vec_id AS vb, SUM(l.d) AS score
               FROM a$iters a JOIN lut l ON l.sub = a.sub AND l.cluster = a.cluster
               WHERE l.qid <> a.vec_id GROUP BY 1, 2),
       short AS (SELECT qid, vb FROM
                   (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vb) AS rn
                    FROM adc)
                 WHERE rn <= $shortlist),
       dots AS (SELECT s.qid, s.vb, SUM(x.q * y.q) AS dot
                FROM short s JOIN e x ON x.vec_id = s.qid
                             JOIN e y ON y.vec_id = s.vb AND y.pos = x.pos
                GROUP BY 1, 2),
       scored AS (SELECT qid, vb, CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) AS cos
                  FROM dots JOIN norms nx ON nx.vec_id = qid
                            JOIN norms ny ON ny.vec_id = vb)
       SELECT qid, vb, cos, rank FROM
         (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vb) AS INT) AS rank
          FROM scored)
       WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** x74: semantic decontamination off the SAME unrolled k-means —
    * cluster-blocked train×bench cosines (bench = every 20th vec, the
    * x28 convention), per-train flag + neighbour stats. */
  private def semContamOracleSql(threshold: Double, nlist: Int = 16, iters: Int = 2): String =
    s"""WITH ${ivfKmeansCtes(nlist, iters)},
       el AS (SELECT e.vec_id, a.cluster, e.q, e.pos FROM e JOIN a$iters a USING (vec_id)),
       dots AS (SELECT x.vec_id AS tid, y.vec_id AS bid, SUM(x.q * y.q) AS dot
                FROM el x JOIN el y ON y.pos = x.pos AND y.cluster = x.cluster
                                    AND x.vec_id % 20 <> 0 AND y.vec_id % 20 = 0
                GROUP BY 1, 2),
       sc AS (SELECT tid, bid, CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) AS cos
              FROM dots JOIN norms nx ON nx.vec_id = tid
                        JOIN norms ny ON ny.vec_id = bid),
       agg AS (SELECT tid, count(*) FILTER (WHERE cos >= $threshold) AS nn,
                      max(cos) AS mx
               FROM sc GROUP BY tid)
       SELECT t.vec_id,
              CAST(COALESCE(agg.nn, 0) AS BIGINT) AS n_bench_near,
              COALESCE(agg.mx, CAST(0 AS DOUBLE)) AS max_cand_cos,
              CAST(CASE WHEN COALESCE(agg.nn, 0) > 0 THEN 1 ELSE 0 END AS INT) AS is_contaminated
       FROM (SELECT vec_id FROM embeddings WHERE vec_id % 20 <> 0) t
       LEFT JOIN agg ON agg.tid = t.vec_id
       ORDER BY t.vec_id"""

  /** x61: SemDeDup verdict off the SAME unrolled k-means — cluster-
    * blocked pair cosines, drop = any lower-id neighbour ≥ threshold. */
  private def semDedupOracleSql(threshold: Double, nlist: Int = 16, iters: Int = 2): String =
    s"""WITH ${ivfKmeansCtes(nlist, iters)},
       el AS (SELECT e.vec_id, a.cluster, e.q, e.pos FROM e JOIN a$iters a USING (vec_id)),
       dots AS (SELECT x.vec_id AS va, y.vec_id AS vb, SUM(x.q * y.q) AS dot
                FROM el x JOIN el y ON y.pos = x.pos AND y.cluster = x.cluster
                                    AND x.vec_id < y.vec_id
                GROUP BY 1, 2),
       dropped AS (SELECT DISTINCT vb AS vec_id
                   FROM dots JOIN norms nx ON nx.vec_id = va
                             JOIN norms ny ON ny.vec_id = vb
                   WHERE CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) >= $threshold)
       SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster,
              CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
       FROM a$iters a LEFT JOIN dropped d USING (vec_id)
       ORDER BY a.vec_id"""

  // LSH near-dup pipeline in SQL: same plane/band constants as the Spark
  // plan (annScoredCtes' fixed geometry — annNearDupPairs keeps an
  // explicit pinned width; the adaptive default lives on the full-corpus
  // top-k faces), va < vb pairs, cosine threshold
  private def annNearDupOracleSql(threshold: Double): String = {
    val numPlanes = Similarity.NumPlanes
    val numBands = Similarity.NumBands
    val bandW = numPlanes / numBands
    val mask = (1L << bandW) - 1
    val w = Similarity.planeWeights(64, numPlanes)
    val rows = (0 until numPlanes).map { p =>
      s"($p, ${(0 until 64).map(d => w(p)(d).toLong).mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"""WITH $embCte,
       planes AS (SELECT p, unnest(wts) AS wt, unnest(generate_series(1, 64)) AS pos
                  FROM (VALUES $rows) AS t(p, wts)),
       pd AS (SELECT e.vec_id, p, SUM(e.q * wt) AS dot
              FROM e JOIN planes USING (pos) GROUP BY 1, 2),
       sigs AS (SELECT vec_id,
                       CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig
                FROM pd GROUP BY 1),
       chunks AS (SELECT vec_id, ci, (sig >> (ci * $bandW)) & $mask AS chunk
                  FROM sigs CROSS JOIN generate_series(0, ${numBands - 1}) AS g(ci)),
       cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
                FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk
                                            AND a.vec_id < b.vec_id),
       dots AS (SELECT c.va, c.vb, SUM(x.q * y.q) AS dot
                FROM cand c JOIN e x ON x.vec_id = c.va
                            JOIN e y ON y.vec_id = c.vb AND y.pos = x.pos
                GROUP BY 1, 2)
       SELECT va, vb, CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) AS cos
       FROM dots JOIN norms nx ON nx.vec_id = va JOIN norms ny ON ny.vec_id = vb
       WHERE CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) >= $threshold
       ORDER BY va, vb"""
  }

  /** x46: corpus vocabulary size — top-K tokens by (count desc, token
    * asc). Shared by the Spark plan and the generated oracle. */
  val OovVocabK = 64

  /** x52: keep fraction (ppm) and histogram resolution for the exact
    * per-language quality cut — shared with the generated oracle. */
  val QualityKeepPpm = 300000L
  val QualityCoarseDiv = 1000L

  /** x53: hybrid-retrieval geometry — query-doc count, per-list top-k,
    * fused top-k. Shared with the generated oracle; the lexical df-cap
    * reuses [[JaccardDfCap]]. */
  val HybridNumQueries = 5
  val HybridKEach = 20
  val HybridFinalK = 10

  /** x54: docs at/above this id are the "new batch" of the delta-dedup
    * query; below it, the existing corpus. Shared with the oracle. */
  val DeltaSplitId = 400

  private def langIdSql: String = {
    val hitCols = TextFunctions.LangMarkers.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(t, x -> list_contains($lst, x))) AS h_$lang"
    }.mkString(", ")
    val best = TextFunctions.LangMarkers.map { case (l, _) => s"h_$l" }.mkString("greatest(", ", ", ")")
    val cases = TextFunctions.LangMarkers.map { case (l, _) =>
      s"WHEN h_$l > 0 AND h_$l = $best THEN '$l'"
    }.mkString(" ")
    s"""WITH $tokCte,
       hits AS (SELECT doc_id, t, $hitCols FROM tok)
       SELECT doc_id, CASE $cases ELSE 'und' END AS lang_detected, CAST(len(t) AS INT) AS n_tokens
       FROM hits ORDER BY doc_id"""
  }

  /** Two-phase scale-safe sequence packing (x27's core, shared with the
    * shard manifest): docs in deterministic md5 shuffle order, each at
    * its running token offset, bin = offset / budget. The global prefix
    * sum is NEVER a global Window — 256 md5-prefix buckets, a
    * triangular offset join over the tiny bucket-totals table, then a
    * bucket-partitioned local running sum + broadcast offsets (see the
    * x27 site and WindowScaleSafetySpec). */
  private def seqPack(s: SparkSession, d: String, budget: Int): DataFrame = {
    val base = Tables.documents(s, d).select(
      col("doc_id"),
      size(TextFunctions.tokens(col("text"))).as("n_tokens"),
      graft.util.Sampling.shuffleKey(col("doc_id")).as("sk"))
      .withColumn("bucket", substring(col("sk"), 1, 2))
    val totals = base.groupBy("bucket").agg(sum(col("n_tokens")).as("bt"))
    val offsets = totals.as("a")
      .join(totals.as("b"), col("b.bucket") < col("a.bucket"), "left")
      .groupBy(col("a.bucket").as("bucket"))
      .agg(coalesce(sum(col("b.bt")), lit(0L)).as("bucket_offset"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("sk")
    base
      .withColumn("local_sum", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("start_offset",
        col("bucket_offset") + col("local_sum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        floor(col("start_offset") / budget).as("bin_id"))
  }

  /** The deterministic PII plant for x78: text prefix + id-derived
    * email (always), second email (id%3=0), phone (id%2=0), IPv4
    * (id%5=0). The oracle re-plants the identical text in SQL, so the
    * hash gate verifies the SCRUB, not the synthesis. */
  private def piiPlanted(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      concat(
        substring(col("text"), 1, 80),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" or mail"), (col("doc_id") % 100).cast("string"), lit("@site.org")))
          .otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit(", call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0.1")))
          .otherwise(lit("")),
        lit(" end")).as("text"))

  /** The deterministic line plant for x79: per-doc prefix line, one
    * global boilerplate line (df = n), one even-docs line (df = n/2),
    * one unique signature line (df = 1). The oracle re-plants the
    * identical text, so the hash gate verifies split + df cut +
    * order-preserving reassembly, not the synthesis. */
  private def linePlanted(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      concat(
        substring(col("text"), 1, 60),
        lit("\nsubscribe to our newsletter today"),
        when(col("doc_id") % 2 === 0, lit("\nfollow us on social media"))
          .otherwise(lit("")),
        lit("\nsignature of doc "), col("doc_id").cast("string")).as("text"))

  /** x96's verdict off an arbitrary standing (doc_a, doc_b) pair table
    * — the service shape (the bench reads the persisted pair plane;
    * the gate passes the inline detector). Seeds re-derive from the
    * 5-gram benchmark overlap; two unrolled min-distance relaxations
    * over the undirected pair graph (see the x96 scaladoc). */
  def contamSpreadOnPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // EAGER planes (r16; were lazy .cache()/uncached): sh5 feeds the
    // benchmark-shingle and seed subtrees whose broadcast builds race a
    // lazy cache (the r15 minhashNearDups finding); the undirected edge
    // plane feeds every relaxation round; and each round's `dist` is
    // referenced TWICE by the next round (relax + outer join), so an
    // unmaterialized loop re-evaluates the seed join 2^rounds times —
    // the same lineage blow-up LabelPropagation fixed in r15. dist is
    // per-doc metadata (id, int).
    val sh5 = Dedup.docShingles(docs, n = 5).localCheckpoint(true)
    val bench = sh5.filter(col("doc_id") % 20 === 0).select("sh").distinct()
    val seeds = sh5.filter(col("doc_id") % 20 =!= 0)
      .join(bench, Seq("sh"), "left_semi").select("doc_id").distinct()
    val tp = pairs
      .filter(col("doc_a") % 20 =!= 0 && col("doc_b") % 20 =!= 0)
    val und = tp.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(tp.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    var dist = docs.filter(col("doc_id") % 20 =!= 0).select("doc_id")
      .join(seeds.withColumn("d0", lit(0)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("d0").as("dist"))
      .localCheckpoint(true)
    for (_ <- 1 to 2) {
      val relaxed = und
        .join(dist.filter(col("dist").isNotNull), col("src") === col("doc_id"))
        .groupBy(col("dst")).agg(min(col("dist") + 1).as("nd"))
      dist = dist.join(relaxed, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"), least(col("dist"), col("nd")).as("dist"))
        .localCheckpoint(true)
    }
    dist.select(col("doc_id"), col("dist").as("hop_dist"),
        col("dist").isNotNull.cast("int").as("is_suspect"))
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------- deduplication ----------------

    // Exact dedup: one shuffle on a 128-bit content fingerprint.
    "x1_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d)).orderBy("fp")),

    // n-gram Jaccard all-pairs via the inverted-index join (no LSH) —
    // correct baseline the LSH variants are measured against.
    "x2_jaccard_pairs" -> ((s, d) =>
      Dedup.jaccardPairs(
        Dedup.docShingles(Tables.documents(s, d)).localCheckpoint(true), 0.5)
        .orderBy("doc_a", "doc_b")),

    // The df-capped production form of x2: stop-shingles (df > cap) are
    // dropped BEFORE the inverted-index self-join, bounding its worst
    // key at k² candidate rows — the knob that makes exact Jaccard
    // usable when LSH is not wanted. Sizes and intersections run over
    // the capped table (the oracle mirrors the same cap).
    "x36_jaccard_capped" -> ((s, d) =>
      Dedup.jaccardPairs(
        Dedup.dropStopShingles(
          Dedup.docShingles(Tables.documents(s, d)), JaccardDfCap)
          .localCheckpoint(true), 0.5)
        .orderBy("doc_a", "doc_b")),

    // Prefix-filtered exact Jaccard (AllPairs/PPJoin, Bayardo WWW'07):
    // the LOSSLESS alternative to x36's df-cap — each doc indexes only
    // its |x|−⌈t|x|⌉+1 rarest shingles under one global (df, shingle)
    // order, so hot boilerplate shingles fall out of every prefix and
    // the self-join's worst key shrinks WITHOUT dropping true pairs.
    // The oracle is x2's naive full-index form — hash-equality proves
    // prefix filtering exact; PrefixJoinSpec pins candidates ⊆ the
    // full index's and measures the reduction.
    "x81_prefix_pairs" -> ((s, d) =>
      // eager materialization, not lazy cache: the shingle plane feeds
      // four subtrees and lazily-cached plans race to build it from
      // concurrent broadcast-exchange jobs (JobProbe: the distinct's
      // partial-agg stage ran 2-3× concurrently, tasks blocked on the
      // cache lock)
      Dedup.prefixJaccardPairs(
        Dedup.docShingles(Tables.documents(s, d)).localCheckpoint(true), 0.5)
        .orderBy("doc_a", "doc_b")),

    // Threshold sweep — the τ-tuning read a curation team takes BEFORE
    // fixing the near-dup cut: pair counts at every candidate
    // threshold (0.5 … 0.9), from ONE pass over the verified pair
    // table (conditional counts over the exact jaccard scores x2
    // already computes — no per-τ rerun). The knee of this curve is
    // where τ goes; rerunning the detector per candidate τ costs
    // |sweep|× the join, which is the anti-pattern this query exists
    // to replace.
    "x97_threshold_sweep" -> ((s, d) => {
      val pairs = Dedup.jaccardPairs(
        Dedup.docShingles(Tables.documents(s, d)).cache(), 0.5)
      pairs.agg(
        count(lit(1)).as("n_050"),
        sum(when(col("jaccard") >= 0.6, 1L).otherwise(0L)).as("n_060"),
        sum(when(col("jaccard") >= 0.7, 1L).otherwise(0L)).as("n_070"),
        sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)).as("n_080"),
        sum(when(col("jaccard") >= 0.9, 1L).otherwise(0L)).as("n_090"))
    }),

    // Asymmetric containment (Broder): C(A→B) = |A∩B|/|A| — surfaces a
    // short document quoted inside a long one, which symmetric Jaccard
    // buries (the union is dominated by the long side). Same df-capped
    // inverted-index join as x36; both direction scores are emitted.
    // ContainmentSpec pins the asymmetric case synthetically (a strict
    // quote: c_ab = 1.0 while jaccard ≈ 0.1).
    "x56_containment" -> ((s, d) =>
      Dedup.containmentPairs(
        Dedup.dropStopShingles(
          Dedup.docShingles(Tables.documents(s, d)), JaccardDfCap)
          .localCheckpoint(true),
        ContainmentThreshold)
        .orderBy("doc_a", "doc_b")),

    // MinHash signatures (wide single-pass agg, unpivoted for the
    // check). The shingle feed skips the distinct shuffle — min() is
    // duplicate-insensitive, so signatures over occurrences are
    // identical and the only exchange left is the doc_id aggregation.
    "x3_minhash_sigs" -> ((s, d) =>
      Dedup.minhashLong(Dedup.minhashSignatures(
        Dedup.docShingles(Tables.documents(s, d), distinct = false)))
        .orderBy("doc_id", "h_idx")),

    // Full MinHash→band→bucket-join→Jaccard-verify near-dup pipeline.
    "x4_minhash_neardups" -> ((s, d) =>
      Dedup.minhashNearDups(Tables.documents(s, d), 0.5).orderBy("doc_a", "doc_b")),

    // 32-bit md5-parity SimHash signatures.
    "x5_simhash" -> ((s, d) =>
      Dedup.simhashMd5(Tables.documents(s, d)).orderBy("doc_id")),

    // SimHash near-dups: pigeonhole chunk join, hamming ≤ 3. Signatures
    // cache — the chunk table self-joins.
    "x6_simhash_neardups" -> ((s, d) =>
      Dedup.simhashNearDups(Dedup.simhashMd5(Tables.documents(s, d)).localCheckpoint(true),
        maxHamming = 3, sigBits = 32)
        .orderBy("doc_a", "doc_b")),

    // The scale-ordered dedup pipeline: exact dedup collapses identical
    // payloads first, MinHash near-dups run over keepers only — the
    // composition that keeps duplication-heavy corpora linear (see
    // Dedup.nearDupsAfterExact).
    "x34_dedup_pipeline" -> ((s, d) =>
      Dedup.nearDupsAfterExact(Tables.documents(s, d), 0.5)
        .orderBy("doc_a", "doc_b")),

    // Delta dedup: the new batch (doc_id ≥ DeltaSplitId) against the
    // existing corpus ONLY — the asymmetric band join of the daily
    // ingest, never re-pairing the corpus with itself (see
    // Dedup.minhashNearDupsDelta). Spec pins ≡ the cross-split slice of
    // the full pipeline; the oracle computes one whole-corpus band
    // table and applies the same asymmetric filter (signatures are
    // per-doc intrinsic, so the two formulations are bit-identical).
    "x54_delta_neardups" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.minhashNearDupsDelta(
        docs.filter(col("doc_id") >= DeltaSplitId),
        docs.filter(col("doc_id") < DeltaSplitId), 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // Winnowing document fingerprints (shingle-hash window minima).
    "x10_winnow_fp" -> ((s, d) =>
      Dedup.winnowFingerprints(Tables.documents(s, d)).orderBy("doc_id", "fp")),

    // Cross-document repeated-substring cut spans (the Lee et al. 2022
    // exact-substring dedup list): positions whose 3-gram occurs in >1
    // document, interval-unioned into maximal token spans per doc.
    // Winnowing (x10) answers "which docs overlap"; this answers "which
    // tokens to cut". DupSpansSpec pins the island merge synthetically.
    "x60_dup_spans" -> ((s, d) =>
      Dedup.dupSpans(Tables.documents(s, d)).orderBy("doc_id", "span_start")),

    // Dup-graph PageRank (Page et al. 1999): centrality over the
    // near-dup pair plane in exact integer ppm — a doc inside a dense
    // duplication neighborhood (mirror farm, template family) scores
    // high, the "mass-replicated content" signal pairwise dedup and
    // flat components cannot grade. Four damped iterations, each ONE
    // edge⋈rank join + one aggregate (the relational Pregel loop);
    // all-floor-division arithmetic so the oracle's unrolled CTE chain
    // reproduces it bit-for-bit. PageRankSpec pins star/triangle/
    // isolated geometry and partition invariance.
    "x84_dup_pagerank" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.PageRank.pagerankPpm(
        Dedup.minhashNearDups(docs, 0.5).select("doc_a", "doc_b"),
        docs.select("doc_id"), iters = 4)
        .orderBy("doc_id")
    }),

    // X189: weighted single-source shortest paths over the similarity
    // graph — x96's hop-BFS says WHETHER contamination reaches a doc;
    // this says how SEMANTICALLY FAR it traveled: edge weight is the
    // shingle-set symmetric difference |AΔB| = na+nb−2i (a true set
    // metric, exact INTEGER — no float distance anywhere), edges kept
    // at jaccard ≥ 0.3 via the cross-multiplied integer inequality
    // 10i ≥ 3(na+nb−i). Three unrolled min-plus (Bellman-Ford)
    // relaxation rounds from the seed set — the gate form the oracle
    // restates exactly; at scale the loop runs to fixpoint with
    // per-hop localCheckpoint (the x59/LSS discipline) and each round
    // is one edge-keyed join + map-combined min. Completes the
    // dup-graph analytics family (CC, PageRank, triangles, k-core,
    // hop-BFS) with the weighted-distance member.
    "x164_sssp" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      ssspOnEdges(docs, ssspEdges(docs))
    }),

    // Near-dup clusters: LSH pairs → min-label components → keeper flag.
    "x17_dedup_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.nearDupComponents(Dedup.minhashNearDups(docs, 0.5), docs).orderBy("doc_id")
    }),

    // X205: near-dup cluster cohesion audit — the QA read between
    // pair detection (x4) and keeper selection (x38): a component with
    // pair DENSITY near 100 % is a clique (one true duplicate family —
    // any keeper rule is safe); a long low-density chain is transitive
    // gluing (A~B~C with A̸~C), where keep-one-per-cluster silently
    // drops non-duplicates — exactly the clusters a curation pipeline
    // routes to review instead. Per multi-member component: members,
    // verified pairs, density in exact ppm (pairs·2·10⁶ div m(m−1)),
    // and the min/max verified jaccard (min of exact per-pair doubles
    // — order-independent; no mean-of-doubles anywhere). Component-
    // keyed aggregates over the standing pair plane + labels — all
    // shuffles fingerprint-sized; the audit table is components-sized
    // metadata.
    "x180_cluster_cohesion" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // eager, not cache(): both cohesion aggregates read the pairs,
      // and a cached plan would outlive the query in the session
      clusterCohesion(Dedup.minhashNearDups(docs, 0.5).localCheckpoint(true), docs)
    }),

    // X181 promoted to a gate row: large-star/small-star CC (Kiveris
    // et al. SoCC'14) over the SAME real pair plane as x17 — converged
    // stars root at each component's minimum, so the x17 unrolled
    // min-label oracle applies verbatim and hash equality proves the
    // O(log n)-round contraction ≡ min-label propagation on the gate
    // corpus (CcLssSpec adds the diameter-32 chain where the round
    // advantage shows: ≤8 rounds vs 32). This is the CC form a
    // web-scale dup graph runs — diameter-independent, each round
    // edge-bounded joins + min aggregates with eager checkpoints.
    "x165_cc_lss" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.ccLargeStarSmallStar(Dedup.minhashNearDups(docs, 0.5), docs)
        ._1.orderBy("doc_id")
    }),

    // Keeper-by-quality: same components, but each cluster keeps its
    // LONGEST member (ties → min doc_id) — the curation rule real
    // dedup applies ("keep the fullest version of the page"), via a
    // map-side-combinable argmax, not a per-component rank window.
    "x38_cluster_keeper" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val labels = Dedup.nearDupComponents(Dedup.minhashNearDups(docs, 0.5), docs)
      Dedup.componentKeepers(labels,
          docs.select(col("doc_id"), length(col("text")).as("len")), "len")
        .orderBy("doc_id")
    }),

    // X176: golden-record survivorship — x38 picks ONE member per
    // near-dup cluster; entity resolution's last step instead MERGES
    // the cluster into a single record with per-FIELD survivorship
    // rules (MDM's "best version of the truth"): the master identity
    // is the longest member (ties → min id, the x38 rule), but lang
    // and source survive by MODE across members (ties → the
    // lexicographically last value — stated, so both engines agree),
    // and the size fields aggregate. Every rule is a map-combinable
    // aggregate on the component key — mode is a two-level count +
    // argmax via max(struct(cnt, value)), never a per-component rank
    // window (a boilerplate cluster can hold millions of members).
    // Output is component-sized at any corpus scale.
    "x156_golden_record" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      goldenRecord(Dedup.minhashNearDups(docs, 0.5), docs)
    }),

    // Line-level boilerplate removal (the CCNet/RefinedWeb-style
    // cross-document line dedup): segment each doc into deterministic
    // 8-token "lines", drop every segment that appears in more than 2
    // documents (headers/footers/licence blocks — and here, the planted
    // duplicate groups), then REASSEMBLE the surviving text in original
    // order. The rebuild is an order-independent aggregate
    // (array_sort(collect_list(struct(pos, seg)))), never a window:
    // per-doc segment lists are bounded by doc length, and the df join
    // shuffles on the segment key exactly once.
    "x40_line_dedup" -> ((s, d) => {
      val maxDf = 2
      val segs = Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), floor((size(col("t")) - lit(1)) / 8).cast("int")),
          i => array_join(slice(col("t"), i * 8 + 1, lit(8)), " "))).as(Seq("i", "seg")))
        .cache() // df count + totals + rebuild all read the segment table
      val segDf = segs.select("doc_id", "seg").distinct()
        .groupBy("seg").agg(count(lit(1)).as("df"))
      val kept = segs.join(segDf, Seq("seg")).filter(col("df") <= maxDf)
      val rebuilt = kept.groupBy("doc_id").agg(
        array_join(transform(array_sort(collect_list(struct(col("i"), col("seg")))),
          s => s.getField("seg")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
      val totals = segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
      Tables.documents(s, d).select("doc_id")
        .join(totals, Seq("doc_id"), "left")
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          (coalesce(col("n_segs"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
            .cast("int").as("n_dropped"))
        .orderBy("doc_id")
    }),

    // End-to-end curation pipeline (the documents-plane k6): every
    // per-document signal + the near-dup keeper + the composite keep
    // verdict, written partitioned-by-language, QC-gated, read back.
    "k7_curation_pipeline" -> ((s, d) => {
      // unique per-invocation scratch dir (the k6 discipline): bench,
      // gate and tests may run concurrently; cleaned up at JVM exit
      // because the returned DataFrame reads the files lazily.
      val outDir = java.nio.file.Files.createTempDirectory("graft_curation_")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(outDir.toFile): Unit))
      val report = graft.app.CurationRunner.run(s, d, outDir.toString)
      require(report.qcPassed, s"curation QC gate failed: $report")
      s.read.parquet(s"${outDir.toString}/curation")
        .select("doc_id", "lang_detected", "quality", "n_tokens",
          "rep_ratio", "component", "is_keeper", "keep")
        .orderBy("doc_id")
    }),

    // Split-leakage audit: deterministic train/val/test assignment
    // (md5 buckets, 80/10/10), then the near-dup pair matrix BY split
    // pair — off-diagonal mass is eval leakage (a test doc with a
    // training near-dup measures memorization, not generalization).
    // The audit that must run BEFORE a split ships; splits must be
    // re-drawn or leaking pairs quarantined until the off-diagonal is
    // acceptable. One extra shuffle beyond the near-dup pipeline.
    "x42_split_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      splitLeakage(Dedup.minhashNearDups(docs, 0.5), docs)
    }),

    // Cross-source duplication matrix — the dataset-composition audit a
    // curation team reads before setting mixture weights: which sources
    // copy from which (mirrors, syndication, scraped re-posts), as
    // near-dup pair counts per unordered source pair off the SAME
    // registered MinHash pipeline as x4/x42. A heavy off-diagonal cell
    // means the two sources double-count the same content and their
    // combined weight overstates their diversity. least/greatest
    // collapses pair orientation so (news,web) and (web,news)
    // accumulate in one cell; n_docs counts the distinct documents
    // involved (a 100-doc mirror shows as n_docs≈200 with n_pairs≈100,
    // a single viral item re-posted everywhere as n_pairs≫n_docs).
    // Candidate-bounded like every audit on the pair plane.
    // Tail detail (sourceOverlap): each pair explodes to its two member
    // docs so n_pairs = rows/2 and n_docs = COUNT(DISTINCT) resolve in
    // ONE partial-aggregated pass — no per-cell array ever materializes
    // (a hot mirror cell has millions of pairs at corpus scale).
    "x75_source_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      sourceOverlap(Dedup.minhashNearDups(docs, 0.5), docs)
    }),

    // The FIX for x42's leakage: key the split assignment on the
    // near-dup COMPONENT, not the document — every member of a dup
    // cluster hashes to the same split, so the audit's off-diagonal is
    // structurally zero (at label-propagation fixpoint; the gate corpus
    // is clique-shaped so 2 hops converge — DedupSpec). Same matrix
    // query as x42, so the two results are directly comparable.
    "x43_component_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      componentSplit(Dedup.minhashNearDups(docs, 0.5), docs)
    }),

    // MinHash sketch-accuracy report: estimated vs exact Jaccard for
    // every LSH candidate pair — the continuous monitoring query of a
    // production dedup stack (sketch drift = broken hash family).
    "x41_minhash_est" -> ((s, d) =>
      Dedup.minhashAccuracy(Tables.documents(s, d))
        .orderBy("doc_a", "doc_b")),

    // Document novelty: fraction of a doc's distinct 5-grams that occur
    // in NO other document — the freshness signal complementing x25
    // (within-doc repetition) and x40 (cross-doc boilerplate). df rides
    // the shingle-keyed window (one shuffle, the x30 discipline); docs
    // too short to shingle surface with novelty 0.
    "x45_doc_novelty" -> ((s, d) => {
      val sh5 = Dedup.docShingles(Tables.documents(s, d), n = 5)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("sh")
      val agg = sh5.withColumn("df", count(lit(1)).over(w))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      Tables.documents(s, d).select("doc_id")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"),
          round(coalesce(col("n_unique"), lit(0L)).cast("double") /
            greatest(coalesce(col("n_shingles"), lit(0L)), lit(1L)).cast("double"), 6)
            .as("novelty"))
        .orderBy("doc_id")
    }),

    // Corpus token-frequency profile (top 20, count-desc).
    "x18_token_freq" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tok")).limit(20)),

    // X117: inverted-index construction — the IR/dedup-infra build step: per
    // term, document frequency, total term frequency, and a CAPPED
    // posting list (the 20 smallest doc ids). The cap is computed
    // SKEW-PROOF: a stop-word's millions of postings never sort in one
    // task — phase 1 ranks within (term, doc_id%16) slices and keeps
    // 20 per slice, so the global smallest-20 (contained in the ≤320
    // survivors) re-ranks in bounded windows regardless of term
    // frequency (the x37 two-phase discipline, keyed by doc_id order
    // instead of the md5 draw). df/tf aggregate map-side over the
    // (term, doc) grain; only the bounded survivors ever collect into
    // an array. At 100 TB the full postings would write out sharded by
    // term — the capped head is the surfaced sample of that layout.
    "x101_postings" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val td = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf_doc"))
      val stats = td.groupBy("term").agg(
        count(lit(1)).as("df"), sum("tf_doc").as("tf"))
      val slice = Window.partitionBy(col("term"), pmod(col("doc_id"), lit(16)))
        .orderBy("doc_id")
      val global = Window.partitionBy("term").orderBy("doc_id")
      val head = td
        .withColumn("__r1", row_number().over(slice)).filter(col("__r1") <= 20)
        .withColumn("__r2", row_number().over(global)).filter(col("__r2") <= 20)
        .groupBy("term")
        // postings surface as a comma-joined string, not a raw ARRAY —
        // the a18_group_arrays portability convention (array cells
        // aren't hashable by every downstream comparator)
        .agg(array_join(
          sort_array(collect_list(col("doc_id"))).cast("array<string>"), ",")
          .as("postings"))
      stats.join(head, "term")
        .select("term", "df", "tf", "postings")
        .orderBy("term")
    }),

    // Vocabulary coverage / out-of-vocabulary rate — per-doc fraction
    // of token OCCURRENCES outside the corpus top-K vocabulary (the
    // "will the tokenizer shred this document" signal; high OOV ⇒
    // gibberish, wrong language, or heavy markup). The vocab is a
    // sorted-take over the token counts (TakeOrderedAndProject — one
    // map-side-combined shuffle then a K-row driver result, never a
    // full sort), broadcast back as a K-row join side; the per-doc pass
    // is one groupBy(doc_id). Deterministic ties (count desc, token
    // asc); the fraction is float-free integer ppm so the oracle
    // resolves bit-identically. At 100 TB: vocab is bounded at K rows
    // regardless of corpus size, docs shuffle once on doc_id.
    "x46_oov_rate" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tok")).limit(OovVocabK)
        .select(col("tok"), lit(1L).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
        .orderBy("doc_id")
    }),

    // Corpus-self bigram LM score — the CCNet-style "perplexity against
    // a reference model" quality signal with the corpus as its own
    // model: per doc, the mean add-one-smoothed transition probability
    // p(w2|w1) over its bigram occurrences, float-free integer ppm
    // (smoothing is what makes a SELF-model rank gibberish low —
    // unsmoothed MLE gives singleton contexts probability 1). Occurrences
    // collapse to (doc, bigram, k) before any corpus-wide shuffle, the
    // model is a map-combined aggregate of that table, and scoring is
    // one (w1,w2) equi-join + one groupBy(doc) — stop-bigram skew
    // concentrates counts, never rows (see graft.text.BigramLm).
    "x51_bigram_lm" -> ((s, d) =>
      graft.text.BigramLm.scoreDocs(Tables.documents(s, d)).orderBy("doc_id")),

    // Cross-signal calibration profile of the quality score: per
    // population decile of the x8/x52 integer score (tile 0 = best),
    // document count, exact-duplicate membership and mean length — the
    // read that tells a curation team whether "low quality" is where
    // the duplicates and the stubs actually live before trusting the
    // score as a filter. Decile assignment is EXACT global rank without
    // a corpus sort (TopFrac.tiles histogram refinement; the only
    // unpartitioned window is over the metadata-sized histogram);
    // means are integer div — deterministic end-to-end.
    "x77_quality_deciles" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val q = TextFunctions.withTextSignals(docs, langCol = None, nTokensCol = None)
        .select(col("doc_id"), round(col("quality") * 1000000).cast("long").as("q_ppm"))
      val tiled = graft.util.TopFrac.tiles(q, "q_ppm", "doc_id", 10, QualityCoarseDiv)
      val fp = docs.select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      val dup = fp.join(fp.groupBy("fp").agg(count(lit(1)).as("nc")), Seq("fp"))
        .select(col("doc_id"), (col("nc") > 1).cast("long").as("is_dup"))
      tiled
        .join(dup, Seq("doc_id"))
        .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("chars")),
          Seq("doc_id"))
        .groupBy("tile").agg(
          count(lit(1)).as("n_docs"),
          sum("is_dup").as("n_dup_docs"),
          sum("q_ppm").as("sum_q"),
          sum("chars").as("sum_chars"))
        .select(col("tile"), col("n_docs"), col("n_dup_docs"),
          expr("sum_q div n_docs").as("mean_q_ppm"),
          expr("sum_chars div n_docs").as("mean_chars"))
        .orderBy("tile")
    }),

    // X92: line-level boilerplate removal (the CCNet line-dedup stage)
    // — the REWRITING companion to X48's boilerplate detection: split
    // every document into lines, drop each line whose document
    // frequency exceeds 5 % of the corpus (nav/footer/subscribe chrome
    // repeats across unrelated pages; real content doesn't), and
    // REASSEMBLE the surviving lines in original order. The driver
    // corpus is single-line word salad, so the query plants a
    // deterministic line structure (per-doc prefix + one global
    // boilerplate line + one even-docs-only line + a unique signature
    // line; the oracle re-plants identically — the gate verifies the
    // line split, the df cut and the ORDER-PRESERVING reassembly).
    // Shuffle structure: one line-keyed df aggregate (map-combined:
    // boilerplate lines concentrate COUNTS, not rows), the df verdict
    // joins back on the line key, and reassembly is one doc-keyed
    // aggregate whose array_sort runs over lines-per-doc, never the
    // corpus. The 5 % cut is integer (df·20 ≤ n_docs, broadcast 1-row
    // total) — no float threshold to disagree on.
    "x79_line_dedup" -> ((s, d) => {
      val planted = linePlanted(Tables.documents(s, d))
      val lines = planted.select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      val lineDf = lines.groupBy("line")
        .agg(countDistinct(col("doc_id")).as("line_df"))
      val total = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      lines
        .join(lineDf, Seq("line"))
        .crossJoin(broadcast(total))
        .filter(col("line_df") * 20 <= col("n_docs"))
        .groupBy("doc_id")
        .agg(
          array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("line")))),
              x => x.getField("line")), "\n").as("clean"),
          count(lit(1)).as("n_kept"))
        .orderBy("doc_id")
    }),

    // X91: PII scrub — typed redaction (emails / IPv4s / phone-shaped
    // numbers → placeholders) with per-type audit counts, the stage
    // every public-web corpus passes before tokenization. The driver
    // corpus is letters-and-spaces word salad with no PII to find, so
    // the query PLANTS deterministic PII derived from doc_id (the same
    // device as the multimodal fake-codec rows: the plumbing is real,
    // the payload synthetic) — conditional plants (second email on
    // id%3, phone on id%2, IP on id%5) so counts VARY per doc and the
    // oracle reproduces the identical planted text before scrubbing.
    // Everything is per-row codegen'd projection — no shuffle, the
    // at-scale cost is pure regex CPU (graft.text.PiiScrub; patterns
    // single-sourced into both engines' plans).
    "x78_pii_scrub" -> ((s, d) => {
      import graft.text.PiiScrub
      val planted = piiPlanted(Tables.documents(s, d))
      planted.select(
        col("doc_id"),
        PiiScrub.count(col("text"), PiiScrub.EmailPattern).as("n_emails"),
        PiiScrub.count(col("text"), PiiScrub.IpPattern).as("n_ips"),
        PiiScrub.count(col("text"), PiiScrub.PhonePattern).as("n_phones"),
        PiiScrub.scrub(col("text")).as("clean"))
        .orderBy("doc_id")
    }),

    // Exact per-language top-30% quality cut — dynamic data-mix
    // curation where the threshold is RESOLVED FROM THE DATA, selected
    // exactly, and never sorts a group in one task: coarse score
    // histogram (map-combined, metadata-sized) → cumulative bucket
    // decisions → exact rank window over ONLY the boundary bucket
    // (~1/1000 of each group). The naive rank-window form would funnel
    // the dominant language through a single task at 100 TB (see
    // graft.util.TopFrac; spec proves ≡ the global rank).
    "x52_quality_cut" -> ((s, d) => {
      val q = TextFunctions.withTextSignals(Tables.documents(s, d),
        langCol = None, nTokensCol = None)
        .select(col("doc_id"), col("lang"),
          round(col("quality") * 1000000).cast("long").as("q_ppm"))
      graft.util.TopFrac.keepTopFrac(q, "lang", "q_ppm", "doc_id",
        keepPpm = QualityKeepPpm, coarseDiv = QualityCoarseDiv)
        .orderBy("doc_id")
    }),

    // Hybrid retrieval: df-capped lexical-overlap top-20 + exact-cosine
    // top-20 per query doc, fused by integer reciprocal-rank fusion
    // (ranks are the only currency between the two score spaces — no
    // calibration; see graft.sim.Hybrid). Exploits the driver data's
    // aligned id spaces (embeddings.vec_id ≡ documents.doc_id). Both
    // rank lists are (queries × k)-sized before fusion — corpus-sized
    // data never reaches the fusion join.
    "x53_rrf_fusion" -> ((s, d) => {
      val lex = graft.sim.Hybrid.lexicalTopK(Tables.documents(s, d),
        col("doc_id") < HybridNumQueries, HybridKEach, JaccardDfCap)
      val emb = Tables.embeddings(s, d)
      val vec = Similarity.topK(emb, emb.filter(col("vec_id") < HybridNumQueries), HybridKEach)
        .select(col("qid"), col("vb").as("cand"), col("rank"))
      graft.sim.Hybrid.rrfFuse(lex.select("qid", "cand", "rank"), vec, HybridFinalK)
        .orderBy("qid", "final_rank")
    }),

    // Z-order layout key — the Morton interleave of two bucketed
    // dimensions (length × source), the sort key that makes row-group
    // min/max stats prune TWO-dimensional predicates after a
    // `repartitionByRange(zkey).sortWithinPartitions(zkey)` write (see
    // graft.util.ZOrder). Pure per-row shift/mask integer arithmetic —
    // the oracle regenerates the identical interleave from the same
    // bit-width constant.
    "x48_zorder_key" -> ((s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          expr("least(255, n_chars div 4)").cast("long").as("len_bucket"),
          (regexp_extract(col("source"), "([0-9]+)$", 1).cast("long") % 256)
            .as("src_bucket"))
        .withColumn("zkey",
          graft.util.ZOrder.zkey2(col("len_bucket"), col("src_bucket")))
        .orderBy("zkey", "doc_id")),

    // ---------------- text analysis ----------------

    // Language-ID heuristic vs the declared label. One-pass named-column
    // form: the tokenizer and each hit count materialize once per row.
    "x7_lang_id" -> ((s, d) =>
      TextFunctions.withTextSignals(Tables.documents(s, d), qualityCol = None)
        .select("doc_id", "lang_detected", "n_tokens")
        .orderBy("doc_id")),

    // Heuristic quality score (length / punctuation / stopword ratios).
    "x8_quality_score" -> ((s, d) =>
      TextFunctions.withTextSignals(Tables.documents(s, d),
        langCol = None, nTokensCol = None)
        .select("doc_id", "quality")
        .orderBy("doc_id")),

    // Token counting: whitespace + BPE-ish lexer + punctuation density.
    "x9_token_stats" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(TextFunctions.tokens(col("text"))).as("n_ws_tokens"),
        size(TextFunctions.bpeTokens(col("text"))).as("n_bpe_tokens"),
        length(col("text")).as("n_chars_calc"),
        TextFunctions.punctCount(col("text")).as("n_punct"))
        .orderBy("doc_id")),

    // The end-of-pipeline keep/drop decision: language allow-list +
    // quality floor + length band — the filter a curation run
    // materializes. All three signals share ONE tokenization pass
    // (withTextSignals); the keep/drop predicate is a TYPED filter, not
    // a Column filter, deliberately: Catalyst's PushPredicateThroughNonJoin
    // substitutes Project aliases into a pushed predicate with no cost
    // model, re-inlining every hit-count/tokenizer subtree into the
    // Filter node (~30 tokenizer runs per row — measured 6× the cost of
    // computing the signals themselves), and it defeats the usual
    // barriers (splits conjuncts around nondeterministic guards, prunes
    // unreferenced barrier columns). The lambda is opaque to the
    // optimizer, so the signals evaluate once in the projection and the
    // filter reads 4 narrow fields — measurably faster than the pushed
    // plan and shape-stable at any scale.
    "x19_quality_filter" -> ((s, d) => {
      val allowed = Set("en", "es", "de", "fr")
      TextFunctions.withTextSignals(Tables.documents(s, d))
        .select("doc_id", "lang_detected", "quality", "n_tokens")
        .filter((r: org.apache.spark.sql.Row) =>
          allowed.contains(r.getAs[String]("lang_detected")) &&
            r.getAs[Double]("quality") >= 0.5 && {
              val n = r.getAs[Int]("n_tokens"); n >= 20 && n <= 200
            })
        .orderBy("doc_id")
    }),

    // Markup stripping — web-corpus cleaning pass. The documents table
    // has no HTML, so the query wraps text in deterministic markup and
    // strips it back off (round-trip proves the op; plumbing is real).
    "x20_strip_markup" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.stripMarkup(
          concat(lit("<html><p class=\"x\">"), col("text"),
            lit(" &amp; tail</p>&nbsp;</html>"))).as("clean"))
        .orderBy("doc_id")),

    // URL canonicalization — web-dedup key derivation; URLs are derived
    // deterministically from source/doc_id columns.
    "x21_url_canon" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.canonicalUrl(
          concat(lit("HTTPS://Example.COM/"), col("source"), lit("/doc/"),
            col("doc_id"), lit("/?utm_source=feed&id="), col("doc_id"),
            lit("#section"))).as("canon_url"))
        .orderBy("doc_id")),

    // PII redaction — scrub emails / IPv4s / phone numbers before a
    // corpus ships. The documents table carries no PII, so the query
    // plants deterministic PII derived from doc_id and scrubs it back
    // out (round-trip proves the op; the regexes are the real thing).
    "x24_pii_redact" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.redactPii(concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail.example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" at 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))).as("clean"))
        .orderBy("doc_id")),

    // Within-document repetition ratio — duplicate 3-gram fraction, the
    // boilerplate/looping-text signal of curation rule sets. Tokens and
    // shingles materialize as named columns first: passing the raw
    // tokens expression into the shingle transform re-ran the regex
    // split once per shingle per row (the honest-bench methodology
    // exposed this at 28 s — it was invisible while count() pruned the
    // projection).
    "x25_repetition" -> ((s, d) => {
      val sh = col("sh")
      val total = size(sh)
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .select(col("doc_id"), TextFunctions.shingles(col("t"), 3).as("sh"))
        .select(col("doc_id"),
          round(when(total > 0,
            (total - size(array_distinct(sh))).cast("double") / total.cast("double"))
            .otherwise(0.0), 6).as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // Rule-based document statistics + keep/drop flag (mean token
    // length, numeric-token fraction, symbols per token, length floor) —
    // the heuristic-rules companion to the x8 score, all per-row math.
    // Per-language 3-sigma length-outlier screen — the truncated/
    // garbage-doc detector run before quality scoring. EXACT integer
    // sums (n, Σx, Σx²) per language in one map-combined pass; the
    // per-doc test (n·x − Σx)² > 9·(n·Σx² − (Σx)²) is algebra on
    // those sums — (x−μ)² > 9σ² cleared of divisions — evaluated in
    // doubles built from identical integers with an identical op
    // sequence on both engines, so the flag is bit-deterministic
    // without any decimal rounding. The language stats table is
    // bounded (#languages) and broadcasts; the corpus is scanned
    // twice (stats + flags) with no shuffle on the second pass.
    "x82_length_outliers" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      val g = docs.groupBy("lang").agg(
        count(lit(1)).as("n"),
        sum(col("n_tokens")).as("sx"),
        sum(col("n_tokens") * col("n_tokens")).as("sxx"))
      val dev = col("n").cast("double") * col("n_tokens").cast("double") -
        col("sx").cast("double")
      docs.join(broadcast(g), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          (dev * dev > lit(9.0) * (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")))
            .cast("int").as("is_outlier"))
        .orderBy("doc_id")
    }),

    // Approx-percentile accuracy audit — the quantile leg of the
    // sketch-audit family (a15 audits HLL, x41 MinHash): GK
    // approx_percentile at accuracy=1000 vs the exact percentiles, on
    // the price column. The ESTIMATE is engine-specific (GK merge
    // order), so the audited artifact is the RANK-ERROR VERDICT: the
    // estimate's true rank (one conditional count per cut) must sit
    // within 2·n/accuracy + 1 of the target rank — twice GK's ε·n
    // guarantee, slack for tie/definition edges — and the oracle
    // asserts the verdicts are literally TRUE alongside the exact
    // percentiles it can recompute. The exact values come from
    // util.ExactQuantiles (the histogram two-phase extract), NOT
    // Spark's single-buffer `percentile` — same bit-exact
    // quantile_cont values, none of the one-reducer collect.
    "x83_quantile_audit" -> ((s, d) => {
      val acc = 1000
      val li = Tables.lineitem(s, d)
      val est = li.agg(
        expr(s"approx_percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D), $acc)")
          .as("e"))
        .select(col("e")(0).as("e50"), col("e")(1).as("e90"), col("e")(2).as("e99"))
      val ex = graft.util.ExactQuantiles.values(
        li, "l_extendedprice", Seq(0.5, 0.9, 0.99))
      def rank(e: String) =
        sum(when(col("l_extendedprice") <= col(e), 1L).otherwise(0L))
      def within(r: Column, p: Double) =
        (abs(r.cast("double") - col("n_rows").cast("double") * p) <=
          col("n_rows").cast("double") * 2.0 / acc + 1.0).cast("int")
      li.crossJoin(broadcast(est)).agg(
        count(lit(1)).as("n_rows"),
        rank("e50").as("r50"), rank("e90").as("r90"), rank("e99").as("r99"))
        .select(col("n_rows"),
          lit(ex(0)).as("exact_p50"), lit(ex(1)).as("exact_p90"),
          lit(ex(2)).as("exact_p99"),
          within(col("r50"), 0.5).as("p50_within"),
          within(col("r90"), 0.9).as("p90_within"),
          within(col("r99"), 0.99).as("p99_within"))
    }),

    "x26_quality_rules" -> ((s, d) => {
      // tokenize once into a named column; each ratio is pure codegen —
      // no HOF lambdas (aggregate/filter are interpreted per row and
      // were 20× the cost of the rest of this plan): sum of token
      // lengths is length(concat_ws('', t)) arithmetic, the numeric
      // count is the native ArrayRegexCount expression (one compiled
      // pattern, one array pass, inside WholeStageCodegen)
      val t = col("t")
      val nD = greatest(size(t), lit(1)).cast("double")
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), TextFunctions.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          when(t.isNotNull,
            length(concat_ws("", t)).cast("double") / nD).as("mean_len"),
          (graft.functions.ArrayRegexCount.array_regex_count(t, "[0-9]+")
            .cast("double") / nD).as("num_frac"),
          (TextFunctions.punctCount(col("text")).cast("double") / nD).as("sym_per_tok"),
          size(t).as("n_tokens"))
        .select(col("doc_id"),
          round(col("mean_len"), 6).as("mean_tok_len"),
          round(col("num_frac"), 6).as("numeric_frac"),
          round(col("sym_per_tok"), 6).as("symbol_per_tok"),
          col("n_tokens"),
          (col("mean_len").between(3.0, 10.0) && col("sym_per_tok") < 1.0 &&
            col("num_frac") < 0.3 && col("n_tokens") >= 10).cast("int").as("keep"))
        .orderBy("doc_id")
    }),

    // Sequence packing — concat-and-split batch assembly for training:
    // documents stream in deterministic shuffle order, each starts at
    // its running token offset, bin = offset / budget.
    //
    // The global prefix sum is TWO-PHASE, never a global Window (an
    // un-partitioned WindowExec requires AllTuples — every row funnels
    // through one task, THE scale-killer shape at 100 TB):
    //   1. bucket = leading hex byte of the md5 shuffle key (256
    //      uniform buckets; bucket order is a prefix of sk order, so
    //      (bucket, sk) sorts identically to sk);
    //   2. per-bucket token totals → each bucket's global starting
    //      offset via a triangular self-join over the 256-row totals
    //      table (tiny — and window-free, so the physical plan provably
    //      contains no un-partitioned WindowExec, spec-checked);
    //   3. bucket-partitioned local running sum + broadcast bucket
    //      offsets. Both big-table ops shuffle on the 256-way bucket key.
    "x27_seq_pack" -> ((s, d) =>
      seqPack(s, d, budget = 512)
        .select("doc_id", "n_tokens", "start_offset", "bin_id")
        .orderBy("doc_id")),

    // Shard manifests — the deliverable artifact of corpus assembly:
    // per packed bin, the doc/token counts and a content checksum
    // (md5 over the member fingerprints in pack order) a consumer uses
    // to verify a shard before training on it. The checksum assembles
    // order-independently (sort_array(collect_list(struct))) so it is
    // reproducible at any parallelism — one bin-keyed shuffle on top
    // of the two-phase packing.
    "x44_shard_manifest" -> ((s, d) => {
      val fp = Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      seqPack(s, d, budget = 512).join(fp, Seq("doc_id"))
        .groupBy("bin_id").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("bin_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("start_offset"), col("fp")))),
            e => e.getField("fp")), "|")).as("shard_md5"))
        .orderBy("bin_id")
    }),

    // X210: sequence-packing split-leakage audit — x27 packs documents
    // into fixed-token training bins and x42 audits near-dup leakage
    // across splits, but packing opens a THIRD leakage channel neither
    // catches: a bin holding both train and eval documents puts eval
    // text inside a training sequence (full attention within the
    // packed window), leaking a benchmark with ZERO near-duplicates
    // involved. The audit joins the packed bin assignment with the
    // split assignment and classifies every bin — pure_<split> or
    // mixed — reporting the eval-doc count sitting inside mixed bins,
    // the number a curation stack drives to zero by packing per-split
    // (the fix this read motivates). Scale: one doc-keyed join on top
    // of x27's two-phase packing; the output is the 4-row bin-kind
    // rollup.
    "x182_pack_leakage" -> ((s, d) => {
      val packed = seqPack(s, d, budget = 512).select("doc_id", "bin_id")
      val assign = Tables.documents(s, d)
        .select(col("doc_id"), splitCol(col("doc_id")).as("split"))
      packed.join(assign, Seq("doc_id"))
        .groupBy("bin_id")
        .agg(count(lit(1)).as("nd"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("nt"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("nv"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("ns"))
        .select(col("nd"), col("nt"), col("nv"), col("ns"),
          when((when(col("nt") > 0, 1).otherwise(0)
              + when(col("nv") > 0, 1).otherwise(0)
              + when(col("ns") > 0, 1).otherwise(0)) > 1, "mixed")
            .when(col("nt") > 0, "pure_train")
            .when(col("nv") > 0, "pure_val")
            .otherwise("pure_test").as("bin_kind"))
        .groupBy("bin_kind")
        .agg(count(lit(1)).as("n_bins"), sum("nd").as("n_docs"),
          sum(when(col("bin_kind") === "mixed", col("nv") + col("ns"))
            .otherwise(0L)).as("n_eval_docs_at_risk"))
        .orderBy("bin_kind")
    }),

    // Benchmark decontamination — flag training documents sharing any
    // 5-gram with the benchmark set (stand-in: every 20th document).
    // Candidate generation is a semi-join on the shingle — one shuffle
    // keyed by n-gram, never an all-pairs comparison.
    // Transitive contamination spread — decontam (x28's 5-gram seeds)
    // COMPOSED with the near-dup graph: contamination travels through
    // duplicate links (a paraphrased copy of a contaminated page is
    // itself suspect even with zero direct benchmark n-grams), so
    // every training doc gets its HOP DISTANCE to the nearest seed
    // (0 = direct hit, 1/2 = one/two near-dup links away, NULL =
    // clear) via two unrolled min-distance propagation rounds over the
    // pair plane — the same bounded Pregel loop as x84, min-combining
    // instead of summing. least() ignores NULLs identically on both
    // engines, so the relaxation is engine-portable as-is.
    "x96_contam_spread" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      contamSpreadOnPairs(docs, Dedup.minhashNearDups(docs, 0.5))
    }),

    "x28_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // both the benchmark and training branches read the shingle
      // table — cache it, or the tokenize+distinct pipeline runs twice
      val sh5 = Dedup.docShingles(docs, n = 5).cache()
      val bench = sh5.filter(col("doc_id") % 20 === 0).select("sh").distinct()
      val train = sh5.filter(col("doc_id") % 20 =!= 0)
      val hits = train.join(bench, Seq("sh"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("h"))
      docs.filter(col("doc_id") % 20 =!= 0).select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("h"), lit(0L)).as("n_hits"),
          (coalesce(col("h"), lit(0L)) > 0).cast("int").as("is_contaminated"))
        .orderBy("doc_id")
    }),

    // Fingerprint-overlap decontamination — the winnowing companion to
    // x28's exact 5-gram check: a training doc is flagged when it shares
    // ≥2 winnow fingerprints with the benchmark set. Winnowing
    // guarantees any shared run of ≥ w+n−1 tokens leaves a shared
    // fingerprint, so this catches long verbatim overlaps at ~1/w the
    // index size of the full n-gram table — the cheap screen before
    // x28's exact pass. Same shuffle shape: one fp-keyed semi-join.
    "x50_contam_fp" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // benchmark and training branches both read the fingerprint
      // table — cache it, or the shingle+window pipeline runs twice
      val fp = Dedup.winnowFingerprints(docs).cache()
      val bench = fp.filter(col("doc_id") % 20 === 0).select("fp").distinct()
      val train = fp.filter(col("doc_id") % 20 =!= 0)
      val hits = train.join(bench, Seq("fp"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      docs.filter(col("doc_id") % 20 =!= 0).select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) >= 2).cast("int").as("is_flagged"))
        .orderBy("doc_id")
    }),

    // ---------------- similarity search ----------------

    // Brute-force exact cosine top-5 for a small query set.
    "x11_sim_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.topK(emb, emb.filter(col("vec_id") < 10), 5)
        .select("qid", "vb", "cos", "rank").orderBy("qid", "rank")
    }),

    // Blocked all-pairs cosine (label = blocking key) — the scale shape.
    "x12_embcos_blocked" -> ((s, d) =>
      Similarity.blockedCosinePairs(Tables.embeddings(s, d), "label", 0.3)
        .orderBy("va", "vb")),

    // LSH-ANN top-k (random hyperplanes → chunk-bucket join → exact
    // re-rank). The plane weights are driver-side literals shared with
    // the generated oracle SQL, so even the approximate pipeline is
    // hash-checked end to end. Since round 15 this registered
    // full-corpus row runs annTopK's DEFAULT — clone collapse +
    // adaptive geometry (the r14 verdict's one weak row was this gate
    // shipping fixed 32-plane geometry: candidates ∝ n²/buckets on any
    // corpus that outgrows the bucket count). The oracle resolves the
    // same width float-free from its own count(*).
    "x13_ann_topk" -> ((s, d) =>
      Similarity.annTopK(Tables.embeddings(s, d), 64, 5)
        .select("qid", "vb", "cos", "rank").orderBy("qid", "rank")),

    // The adaptive resolution exercised at a SECOND operating point
    // (targetBucket=4 — tighter buckets, higher precision): distinct
    // from x13's default-16 resolution wherever n pushes past the
    // 8-bit floor (sf0.1: w=9/36 planes vs x13's 8/32; sf1: 52 vs 44),
    // so the width arithmetic — not just one resolved constant — is
    // hash-checked. At the sf0.01 gate both clamp to the floor and the
    // two rows coincide by design (documented; the sf0.1 dump is where
    // they must diverge AND both stay green).
    "x35_ann_adaptive" -> ((s, d) =>
      Similarity.annTopKAdaptive(Tables.embeddings(s, d), 64, 5, targetBucket = 4)
        .select("qid", "vb", "cos", "rank").orderBy("qid", "rank")),

    // Bounded-bucket ANN (the hot-bucket guard, completing the ANN
    // scale triad: x13 collapse kills exact-clone mass, x35 adaptive
    // geometry right-sizes EXPECTED bucket load, this cap fences the
    // skew expectation misses — candidates ≤ n·bands·cap by
    // CONSTRUCTION). The gate plants its own hot cluster (80 copies of
    // vector 0 at ids above max(vec_id) — the x198/x215 derived-id
    // discipline) so the cap provably binds at every SF: the planted
    // family floods its 4 buckets past the 64 cap, those buckets are
    // skipped, and the family (vector 0 included) vanishes from the
    // output — the recall trade made hash-visible. The oracle replays
    // the same plant, the same count-derived adaptive width, and the
    // same HAVING count(*) <= cap bucket filter.
    "x13b_ann_bounded" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      // 1-row metadata read (the ssjMid discipline), not data
      val mx = emb.agg(max("vec_id")).collect()(0).getLong(0)
      val hot = s.range(1, 1 + AnnHotCopies).toDF("i")
        .crossJoin(emb.filter(col("vec_id") === 0).select(col("embedding")))
        .select((col("i") + mx).as("vec_id"), col("embedding"))
      val all = emb.unionByName(hot)
      // geometry via annTopKBounded's r15 default: the same
      // adaptivePlanes(count) resolution this gate used to spell out
      Similarity.annTopKBounded(all, 64, 5, AnnBucketCap)
        .select("qid", "vb", "cos", "rank").orderBy("qid", "rank")
    }),

    // ANN recall audit — recall@5 of the LSH index against exact brute
    // force on a sampled query set: the continuous quality monitor of a
    // production ANN index (x41 is the same idea for the MinHash
    // sketches). The index side is the full-corpus band table; the
    // probe side semi-joins to the sampled queries BEFORE the bucket
    // join, and the exact side is brute force over queries×corpus —
    // query-set-bounded, the audit's intrinsic cost. recall_ppm is
    // integer (n_hit·10⁶/k with k dividing 10⁶), float-free.
    "x55_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      annRecall(emb, Similarity.sigBands(Similarity.signatures(emb, 64)))
    }),

    // IVF-ANN top-k: relational k-means index (fixed-point exact) +
    // probe-limited exact re-rank. Approximate by construction → rows.
    "x16_ivf_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5, nlist = 16, nprobe = 4)
        .select("qid", "vb", "cos", "rank").orderBy("qid", "rank")
    }),

    // Label-vs-cluster agreement, Cohen's kappa (Cohen 1960) — the
    // label-QC read AFTER x64's prototype screen: map each IVF cluster
    // (the SAME exact-integer k-means as x16/x47/x61) to its majority
    // label (ties → min label), then score chance-CORRECTED agreement
    // between supervised labels and unsupervised structure. Low kappa
    // = labels carry little geometric signal (or clustering is broken
    // — x68's recall audit separates the two). All counts exact; po/pe
    // as floor-ppm integers; the final kappa is ONE IEEE division of
    // two exact integers (engine-portable; integer div would floor-vs-
    // truncate differently on negative kappa). Every aggregate after
    // the assignment join is bounded by #labels × #clusters.
    "x91_label_kappa" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (_, asg) = Similarity.ivfIndex(emb, nlist = 16, iters = 2)
      val joined = emb.select(col("vec_id"), col("label"))
        .join(asg.select("vec_id", "cluster"), Seq("vec_id"))
      val mapping = joined.groupBy("cluster", "label")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("cluster")
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("m"))
        .select(col("cluster"), (-col("m.neg")).as("pred_label"))
      val pred = joined.join(broadcast(mapping), Seq("cluster"))
      val tot = pred.agg(count(lit(1)).as("n"),
        sum(when(col("label") === col("pred_label"), 1L).otherwise(0L)).as("n_match"))
      val rm = pred.groupBy("label").agg(count(lit(1)).as("r"))
      val cm = pred.groupBy(col("pred_label").as("label")).agg(count(lit(1)).as("c"))
      val pe = rm.join(cm, Seq("label"))
        .crossJoin(broadcast(tot.select("n")))
        .select(expr("((r * 1000000 div n) * (c * 1000000 div n)) div 1000000").as("pc"))
        .agg(coalesce(sum("pc"), lit(0L)).as("pe_ppm"))
      tot.crossJoin(broadcast(pe))
        .select(col("n"), col("n_match"),
          expr("n_match * 1000000 div n").as("po_ppm"), col("pe_ppm"))
        .select(col("n"), col("n_match"), col("po_ppm"), col("pe_ppm"),
          ((col("po_ppm") - col("pe_ppm")).cast("double") /
            (lit(1000000L) - col("pe_ppm")).cast("double")).as("kappa"))
    }),

    // Corpus segmentation stats off the SAME IVF index as x16: per
    // cluster, how many vectors and how much norm mass (member count,
    // Σ‖v‖², ‖centroid‖² — all exact fixed-point integers). The
    // topic-distribution / data-mix read of a trained index; its oracle
    // unrolls the identical k-means, so the assignment itself is
    // hash-checked, not just the top-k slice x16 sees.
    "x47_cluster_profile" -> ((s, d) =>
      Similarity.ivfClusterProfile(Tables.embeddings(s, d), nlist = 16, iters = 2)
        .orderBy("cluster")),

    // X126: per-cluster k-means inertia — x47's profile says which
    // clusters are BIG; this says which are INCOHERENT (high mean
    // squared distance to centroid), and it is the combination — big
    // AND incoherent — that predicts a bad x61/x74 pair stage before
    // anyone pays for it. Exact fixed-point expansion Σ|v|²−2Σ(v·c)+
    // n·|c|²; doubles only at the final two ops.
    "x126_kmeans_inertia" -> ((s, d) =>
      Similarity.ivfInertia(Tables.embeddings(s, d), nlist = 16, iters = 2)
        .orderBy("cluster")),

    // Semantic dedup (SemDeDup): IVF-cluster the embeddings (the SAME
    // exact-integer k-means as x16/x47), then drop every vector with a
    // lower-id within-cluster neighbour at cosine ≥ 0.3 — near-dup
    // MEANING (paraphrases, templated rewrites) that MinHash text
    // dedup cannot see. Per-vector verdict, so the oracle hash-checks
    // the assignment AND the cluster-blocked pair stage end-to-end.
    "x61_semdedup" -> ((s, d) =>
      Similarity.semDedup(Tables.embeddings(s, d), SemDedupThreshold,
          nlist = 16, iters = 2)
        .orderBy("vec_id")),

    // Embedding-space benchmark decontamination — the SEMANTIC leg of
    // the decontam family (x28 exact 5-grams, x50 winnowing
    // fingerprints, x73 Bloom pre-screen are all lexical): a training
    // document whose embedding sits within cosine ≥ 0.3 of any
    // benchmark embedding is flagged even when zero n-grams overlap
    // (translations, paraphrases, templated rewrites of eval items).
    // Candidate generation is cluster-blocked on the SAME exact-integer
    // IVF index as x16/x47/x61 — train×bench pairs form only within a
    // cluster, so the pair stage is Σ n_train_c·n_bench_c, never
    // |train|·|bench|; at 100 TB nlist scales with √n (the x35
    // discipline) and both sides shuffle once on the cluster id.
    // Benchmark stand-in: every 20th vector (the x28 convention).
    // Gate form pins nlist=16 (the oracle unrolls that exact k-means);
    // production sizes nlist with √n — measured at 10× data in §6.1.
    "x74_semantic_decontam" -> ((s, d) =>
      Similarity.semanticContam(Tables.embeddings(s, d),
          col("vec_id") % 20 === 0, SemContamThreshold, nlist = 16, iters = 2)
        .orderBy("vec_id")),

    // Two-stage SQ8 retrieval: 8-bit scalar-quantized shortlist (the
    // 4-8×-smaller first-pass scan), exact fixed-point re-rank to
    // top-5. Codebook (per-dim min/max), codes and shortlist ties are
    // all integer-deterministic, so the approximate stage itself is
    // hash-checked — the oracle quantizes with the same round-half-up
    // integer arithmetic.
    "x49_sq8_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 10), 5, shortlist = 20)
        .select("qid", "vb", "cos", "rank").orderBy("qid", "rank")
    }),

    // Two-stage PQ retrieval (Jégou et al. 2011): per-subspace k-means
    // codebooks (4 subspaces × 8 centroids — 4 one-byte codes per
    // vector, 16× smaller than the float row), asymmetric-distance
    // shortlist via a broadcast query LUT, exact fixed-point re-rank
    // to top-5. Completes the IVF (x16) / SQ8 (x49) / PQ compression
    // triad; codebooks, codes and ADC ties are all integer-
    // deterministic, so the approximate stage itself is hash-checked.
    "x62_pq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), 5, shortlist = 20)
        .select("qid", "vb", "cos", "rank").orderBy("qid", "rank")
    }),

    // Hard-negative mining for contrastive training: top-5 most
    // cosine-similar CROSS-LABEL vectors per query — the near-miss
    // negatives that make a contrastive batch informative. Cross-label
    // filter applied at candidate generation (same-label pairs never
    // reach the dot join); query-set-bounded like x11, swaps to the
    // banded ANN index at corpus-sized query sets.
    "x63_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy("qid", "rank")
    }),

    // BPE tokenizer-training prep: the adjacent-symbol pair count table
    // whose argmax is byte-pair encoding's first merge. The corpus
    // collapses to the word-TYPE dictionary before any per-character
    // work (the classic trick that makes BPE training corpus-size-
    // independent); pairs weighted by word frequency, noise-floored,
    // top-k with full tie-breaks.
    "x65_bpe_pairs" -> ((s, d) =>
      graft.text.Bpe.pairStats(
          Tables.documents(s, d), BpeTopK, MinBpePairCount)
        .orderBy(col("pair_count").desc, col("c1"), col("c2"))),

    // Iterated BPE merge training (the merges file a tokenizer ships):
    // 4 greedy rounds as a relational loop over the word-type dict —
    // per round one vocab-sized pair aggregate, a 1-row argmax collect,
    // and a vocab-sized greedy merge fold. The oracle unrolls the SAME
    // rounds with replace-to-fixpoint recursive CTEs, so pair choice
    // AND state evolution hash-check end-to-end.
    "x67_bpe_merges" -> ((s, d) =>
      graft.text.Bpe.merges(Tables.documents(s, d), BpeMergeRounds)
        .orderBy("round")),

    // Tokenizer fertility audit: the x67-trained vocabulary APPLIED —
    // per-doc word and BPE-token counts, resolved on the word-type
    // dictionary (each type's symbol array IS its encoding), so the
    // corpus only pays one join + groupBy(doc). The oracle re-derives
    // the same trained state from its own unrolled chain.
    "x68_bpe_fertility" -> ((s, d) =>
      graft.text.Bpe.fertility(Tables.documents(s, d), BpeMergeRounds)
        .orderBy("doc_id")),

    // Bloom pre-screen for benchmark decontamination: the benchmark
    // shingle set folds to its ≤4096 distinct set BITS (broadcast
    // metadata — vs the full shingle set x28's semi-join ships); every
    // training shingle probes the bits, and the audit compares
    // bloom-positive counts to the exact x28 verdict per doc — bloom ≥
    // exact always (no false negatives), the gap is the classic FP
    // rate the exact second pass absorbs.
    "x73_bloom_screen" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sh5 = Dedup.docShingles(docs, n = 5).cache()
      val bench = sh5.filter(col("doc_id") % 20 === 0).select("sh").distinct()
      bloomScreenOnPlane(docs, sh5, graft.util.Bloom.bits(bench, "sh"))
    }),

    // Count-Min sketch accuracy audit: CMS frequency estimates vs
    // exact counts for the corpus's true top-20 tokens — the x41/x55
    // pattern applied to the frequency sketch (est ≥ exact always;
    // overcount = collision mass at 4×256 geometry). Occurrences
    // collapse to the token-type table first; the counter table is
    // d·w = 1024 rows of broadcast metadata.
    "x72_cms_heavy_hitters" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 1)
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val cached = toks.cache()
      val top = cached.orderBy(col("cnt").desc, col("tok")).limit(20)
      graft.util.Cms.estimate(top, graft.util.Cms.counters(cached, "tok", "cnt"), "tok")
        .join(top, Seq("tok"))
        .select(col("tok"), col("cnt").as("exact"), col("est"),
          (col("est") - col("cnt")).as("overcount"))
        .orderBy(col("exact").desc, col("tok"))
    }),

    // Fixed-size deterministic sample: EXACTLY k rows chosen by the
    // md5 shuffle key — the eval-set/holdout selection that must be
    // identical on every run of every cluster (x22's stratified cut
    // fixes a FRACTION per stratum; this fixes a COUNT). The plan is
    // TakeOrderedAndProject: per-partition top-k then a k-row merge,
    // never a global sort — the only corpus-sized work is one scan.
    "x71_fixed_sample" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), graft.util.Sampling.shuffleKey(col("doc_id")).as("k"))
        .orderBy("k", "doc_id").limit(FixedSampleK)
        .select("doc_id").orderBy("doc_id")),

    // Dedup-method agreement audit: how much do the MinHash (x4) and
    // SimHash (x6) near-dup detectors agree? The methods-health read a
    // curation team checks before trusting either alone — a collapse
    // of n_both toward zero flags a mis-tuned band/hamming geometry.
    // Both pair pipelines run as registered (band join / pigeonhole
    // join), then ONE full-outer join of two pair-id sets (candidate-
    // bounded, never corpus-sized) folds to a 1-row count triple.
    "x70_dedup_agreement" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      dedupAgreement(
        Dedup.minhashNearDups(docs, 0.5),
        Dedup.simhashNearDups(Dedup.simhashMd5(docs).localCheckpoint(true),
          maxHamming = 3, sigBits = 32))
    }),

    // Corpus snapshot diff: the dataset-versioning verdict between two
    // corpus versions (deterministic synthetic split of the documents
    // table: v1 drops ids %10==0, v2 drops %10==1 and edits %7==0), by
    // content fingerprint — added/removed/changed/unchanged per id.
    // One fingerprint-only full-outer join; text never shuffles.
    "x69_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val v1 = docs.filter(col("doc_id") % 10 =!= 0)
      val v2 = docs.filter(col("doc_id") % 10 =!= 1)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [edited]")))
            .otherwise(col("text")))
      graft.dedup.Dedup.snapshotDiff(v1, v2).orderBy("doc_id")
    }),

    // Corpus-composition drift between the SAME two versions x69 diffs
    // — the aggregate companion to its per-document verdict: per
    // source, document count, character mass, and corpus share in
    // integer ppm for each version plus the share delta. The
    // re-crawl-health read before retraining on a new snapshot: a
    // source whose share moved 10k ppm changed the mixture whether or
    // not any individual doc changed. Integer end-to-end (share =
    // n·10⁶ div total — no doubles, bit-identical on any engine);
    // two group-bys + one tiny outer join on the bounded source key,
    // totals are one-row broadcast metadata at any corpus size.
    "x76_snapshot_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val v1 = docs.filter(col("doc_id") % 10 =!= 0)
      val v2 = docs.filter(col("doc_id") % 10 =!= 1)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [edited]")))
            .otherwise(col("text")))
      def comp(v: DataFrame, tag: String) = {
        // the per-source aggregate feeds both the rows and the one-row
        // total — cache the (bounded) frame or the corpus scans twice
        val a = v.groupBy("source").agg(
          count(lit(1)).as(s"n_$tag"),
          sum(length(col("text")).cast("long")).as(s"chars_$tag")).cache()
        a.crossJoin(broadcast(a.select(sum(s"n_$tag").as("tot"))))
          .withColumn(s"share_ppm_$tag",
            expr(s"n_$tag * 1000000 div tot")).drop("tot")
      }
      comp(v1, "v1").join(comp(v2, "v2"), Seq("source"), "full_outer")
        .select(col("source"),
          coalesce(col("n_v1"), lit(0L)).as("n_v1"),
          coalesce(col("n_v2"), lit(0L)).as("n_v2"),
          coalesce(col("chars_v1"), lit(0L)).as("chars_v1"),
          coalesce(col("chars_v2"), lit(0L)).as("chars_v2"),
          coalesce(col("share_ppm_v1"), lit(0L)).as("share_ppm_v1"),
          coalesce(col("share_ppm_v2"), lit(0L)).as("share_ppm_v2"),
          (coalesce(col("share_ppm_v2"), lit(0L))
            - coalesce(col("share_ppm_v1"), lit(0L))).as("delta_ppm"))
        .orderBy("source")
    }),

    // DSIR importance weights: hashed-bigram importance of every raw
    // document against the curated target slice (lang = 'en') — the
    // data-selection ranking signal, integer end-to-end (first-order
    // ppm expansion of the log-importance; see Dsir). Bucket table is
    // 256 rows of metadata; verdict one row per doc.
    "x66_dsir_weights" -> ((s, d) =>
      graft.text.Dsir.importanceWeights(
          Tables.documents(s, d), col("lang") === DsirTargetLang)
        .orderBy("doc_id")),

    // Prototype-classifier label audit: per-label round(avg) centroid
    // (the ivfIndex convention), every vector scored against every
    // prototype, argmax-label ≠ own-label flagged as a suspected label
    // error — the confident-learning-style screen run before any
    // relabeling pass. Prototypes are label-cardinality metadata;
    // verdict is per-vector, so assignment AND scoring hash-check.
    "x64_label_errors" -> ((s, d) =>
      Similarity.labelErrorScreen(Tables.embeddings(s, d))
        .orderBy("vec_id")),

    // Corpus collocation mining by integer PMI lift: bigrams whose
    // count beats independence c1·c2/N, ranked by the monotone-in-PMI
    // lift ratio with zero transcendental ops (see
    // BigramLm.collocations) — the phrase-detection companion to x51's
    // per-doc LM score. Count floor + total tie-break make the top-k
    // cut deterministic.
    "x58_collocations" -> ((s, d) =>
      graft.text.BigramLm.collocations(
          Tables.documents(s, d), MinColloCount, CollocTopK)
        .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))),

    // Temperature-based domain mixing weights (α = 0.5) over the skewed
    // language column: q_d ∝ √p_d compresses the 43%-English head and
    // boosts the tail sub-linearly — the resampling-weight computation
    // of corpus assembly (x37 is the hard cap; this is the soft mix).
    // Fixed-point ppm arithmetic end-to-end, so the result is
    // bit-identical in any engine (see Sampling.temperatureWeights).
    "x57_domain_mix" -> ((s, d) =>
      graft.util.Sampling.temperatureWeights(Tables.documents(s, d), "lang")
        .orderBy("domain")),

    // Materialized temperature mix: x57's weights executed as an actual
    // resampled corpus — floor(w) whole copies per doc plus a
    // fractional copy decided by a deterministic md5 draw, one output
    // row per copy (see Sampling.applyMixWeights). The same docs
    // replicate/survive on every run.
    "x59_apply_mix" -> ((s, d) =>
      graft.util.Sampling.applyMixWeights(Tables.documents(s, d), "lang", "doc_id")
        .orderBy("doc_id", "copy_idx")),

    // Per-domain quota: cap documents per source at 15, chosen by the
    // deterministic md5 shuffle key — two-phase salted rank, so the
    // biggest domain's sort is bounded by 16·quota rows per task (the
    // skew-proof form of "no more than N docs per domain").
    "x37_domain_quota" -> ((s, d) =>
      graft.util.Sampling.domainQuota(
          Tables.documents(s, d), "source", "doc_id", quota = 15)
        .select("doc_id", "source", "rnk")
        .orderBy("doc_id")),

    // Token-budget corpus mix — each language downsampled to ~4000
    // tokens: the keep fraction is RESOLVED FROM THE DATA (integer
    // division of the budget by the measured per-language token total,
    // broadcast back), then applied as the deterministic md5-bucket
    // cut. The static data-mix rebalancing step of corpus assembly.
    "x39_token_budget" -> ((s, d) =>
      graft.util.Sampling.tokenBudgetMix(
          Tables.documents(s, d), "lang", "doc_id",
          size(TextFunctions.tokens(col("text"))).cast("long"),
          budgetTokens = 4000L)
        .select("doc_id", "lang", "cut")
        .orderBy("doc_id")),

    // Deterministic stratified sampling — downsample the majority
    // language, keep the rest (class rebalancing with zero RNG state).
    "x22_stratified_sample" -> ((s, d) =>
      graft.util.Sampling.stratifiedSample(
        Tables.documents(s, d), "doc_id", "lang", Map("en" -> 0.25))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // Deterministic training-order shuffle: content-hash sort key.
    "x23_det_shuffle" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.util.Sampling.shuffleKey(col("doc_id")).as("shuffle_key"))
        .orderBy("shuffle_key")),

    // Document chunking — fixed-token sliding windows (32 tokens,
    // stride 24 ⇒ 8-token overlap), the pre-tokenization split a long
    // document goes through before packing. Pure per-row explode: the
    // chunk table is born partitioned by whatever partitioning the
    // corpus already has.
    "x31_doc_chunks" -> ((s, d) => {
      val (chunkTok, stride) = (32, 24)
      val t = TextFunctions.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"), col("t"),
          posexplode(transform(
            sequence(lit(0), floor((size(col("t")) - 1) / stride).cast("int")),
            i => i)).as(Seq("chunk_idx", "i")))
        .select(col("doc_id"), col("chunk_idx"),
          least(lit(chunkTok), size(col("t")) - col("i") * stride).as("n_chunk_tokens"),
          concat_ws(" ", slice(col("t"), col("i") * stride + 1, lit(chunkTok))).as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Random projection (Johnson-Lindenstrauss) — reduce 64-dim
    // embeddings to 8 exact fixed-point coordinates; the storage/compute
    // reduction step before indexing a 100 TB embedding corpus.
    "x29_rand_proj" -> ((s, d) =>
      Similarity.randomProjection(Tables.embeddings(s, d), 64, 8)
        .orderBy("vec_id", "proj_dim")),

    // Token-rarity profile — per document, how common its vocabulary is
    // across the corpus (mean/min document frequency of its distinct
    // tokens). The rarity signal curation uses to spot gibberish (df→1)
    // and boilerplate (df→n). df comes from an unbounded count() window
    // over tok — the (doc_id, tok) rows are distinct, so per-tok row
    // count IS the document frequency, and the window shares the
    // token-keyed shuffle that the former groupBy+self-join paid twice;
    // then one shuffle by doc. A corpus-stopword key ("the") concentrates
    // its postings either way — cap with dropStopShingles-style df
    // filtering if a vocabulary key ever skews a 100 TB run.
    "x30_token_rarity" -> ((s, d) => {
      val dtok = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(TextFunctions.tokens(col("text")))).as("tok"))
      val wTok = org.apache.spark.sql.expressions.Window.partitionBy("tok")
      dtok.withColumn("df", count(lit(1)).over(wTok))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_distinct_tokens"),
          round(sum(col("df")).cast("double") / count(lit(1)).cast("double"), 6).as("mean_df"),
          min(col("df")).as("min_df"))
        .orderBy("doc_id")
    }),

    // Salient-term extraction — per document, the top-5 tokens by
    // tf·N/df (a tf-idf-shaped salience with an exact fixed-point
    // score, so ranking is bit-deterministic on any engine — ln() is
    // not correctly rounded across libms and would flake the hash
    // gate). Shuffle structure: one shuffle to (doc, tok) term counts,
    // df shared off the token-keyed window, per-doc top-k window; the
    // corpus size joins in as a broadcast single-row aggregate.
    "x32_salient_terms" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tf = docs.select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val wTok = org.apache.spark.sql.expressions.Window.partitionBy("tok")
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(desc("score"), col("tok"))
      tf.withColumn("df", count(lit(1)).over(wTok)) // (doc,tok) rows are distinct → count = df
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
        .withColumn("score", expr("tf * 1000000 * n_docs div df"))
        .withColumn("rank", row_number().over(wDoc))
        .filter(col("rank") <= 5)
        .select("doc_id", "rank", "tok", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    }),

    // Embedding-space near-dup pairs — LSH band candidates + exact
    // fixed-point cosine threshold: the dedup-by-embedding pass a
    // multimodal corpus runs when no text fingerprint applies. Same
    // generated-constant oracle discipline as x13.
    "x33_emb_neardups" -> ((s, d) =>
      Similarity.annNearDupPairs(Tables.embeddings(s, d), 64, 0.3)
        .orderBy("va", "vb")),

    // ---------------- multimodal ----------------

    // Binary media columns + typed metadata + frame sampling — pure
    // codegen'd expressions over the blob.
    "x14_mm_features" -> ((s, d) => {
      val media = Multimodal.asMedia(Tables.documents(s, d))
      media.select(
        col("doc_id"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.mime").as("mime"),
        lower(hex(substring(col("media"), 1, 16))).as("head_hex"),
        md5(col("media")).as("content_md5"),
        size(Multimodal.frameSample(col("media"), 64, 48)).as("n_frames"))
        .orderBy("doc_id")
    }),

    // X93: payload resize/decimation — the thumbnail operator (byte-
    // domain stride decimation to ≤16 bytes, hex-encoded) as a pure
    // codegen'd expression; the cheap preview/dedup key a pipeline
    // derives WITHOUT decoding, and the blob-free column that travels
    // through shuffles in the media's place. Oracle recomputes the
    // identical decimation from the hex encoding.
    "x80_mm_resize" -> ((s, d) => {
      val media = Multimodal.asMedia(Tables.documents(s, d))
      media.select(
        col("doc_id"),
        col("meta.n_bytes").as("n_bytes"),
        Multimodal.resizeHex(col("media"), 16).as("thumb_hex"))
        .orderBy("doc_id")
    }),

    // X197: media payload near-dup WITHOUT decode — the dedup member
    // of the multimodal family (X14/X15/X93): x80's 16-byte stride
    // fingerprint is the only thing that ever enters the pair join
    // (payloads stay in place — the §6.1 multimodal rule), candidates
    // come from the X5 pigeonhole (two fingerprints within byte-
    // hamming ≤ 4 must agree on ≥1 of 4 4-byte chunks — the simhash
    // chunk-block applied to the byte domain), and the verdict is the
    // exact per-byte agreement count ≥ 12/16. Catches byte-identical
    // and locally-perturbed payloads (re-serialized, metadata-patched
    // copies); a re-ENCODED image needs the decoded-feature path (X15)
    // — stated, that's the division of labor. Only full-length
    // fingerprints (n ≥ 16 bytes) participate; the stride rule makes
    // same-content-same-length payloads collide exactly.
    "x173_media_neardups" -> ((s, d) => {
      val th = Multimodal.asMedia(Tables.documents(s, d))
        .select(col("doc_id"), Multimodal.resizeHex(col("media"), 16).as("thumb"))
        .filter(length(col("thumb")) === 32)
      val chunks = th.select(col("doc_id"), col("thumb"),
        posexplode(array((0 until 4).map(c =>
          substring(col("thumb"), c * 8 + 1, 8)): _*)).as(Seq("ci", "chunk")))
      val cand = chunks.as("a").join(chunks.as("b"),
          col("a.ci") === col("b.ci") && col("a.chunk") === col("b.chunk")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.thumb").as("ta"), col("b.thumb").as("tb"))
        .distinct()
      cand.withColumn("n_equal_bytes",
          (0 until 16).map(i =>
            when(substring(col("ta"), i * 2 + 1, 2) ===
              substring(col("tb"), i * 2 + 1, 2), 1).otherwise(0))
            .reduce(_ + _))
        .filter(col("n_equal_bytes") >= 12)
        .select("doc_a", "doc_b", "n_equal_bytes")
        .orderBy("doc_a", "doc_b")
    }),

    // X198: re-occurrence horizon audit — the capacity-planning read
    // behind X25's streaming ingest-dedup: keyed dedup state kept for
    // TTL T catches exactly the re-occurrences whose gap ≤ T, so the
    // observed gap distribution of (user, event_type) repeats IS the
    // TTL sizing curve. Consecutive-repeat gaps via one key-bounded
    // lag window (exact microseconds), bucketed ≤1m/≤1h/≤6h/≤1d/more,
    // with the cumulative captured-fraction in ppm per bucket — read
    // "a 6-hour RocksDB TTL would have deduped X% of repeats". The
    // cumulative window runs on the 5-row bucket grid (bounded, the
    // month-grid discipline).
    "x174_dedup_horizon" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .withColumn("gap_us",
          unix_micros(col("ts").cast("timestamp")) - col("prev_us"))
        .withColumn("bucket",
          when(col("gap_us") <= 60L * 1000000, "a_1m")
            .when(col("gap_us") <= 3600L * 1000000, "b_1h")
            .when(col("gap_us") <= 21600L * 1000000, "c_6h")
            .when(col("gap_us") <= 86400L * 1000000, "d_1d")
            .otherwise("e_more"))
      val perBucket = gaps.groupBy("bucket").agg(count(lit(1)).as("n_repeats"))
      val grid = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perBucket
        .withColumn("cum", sum("n_repeats").over(grid))
        .crossJoin(broadcast(gaps.agg(count(lit(1)).as("total"))))
        .withColumn("captured_ppm", expr("(cum * 1000000) div total"))
        .select("bucket", "n_repeats", "captured_ppm")
        .orderBy("bucket")
    }),

    // X130: exact two-sample Kolmogorov–Smirnov drift — per source, the
    // KS distance between its document-length distribution and the
    // corpus-wide one: the distribution-shift alarm a curation stack
    // runs per ingest source (mean/variance drift tests miss shape
    // changes; KS is the standard nonparametric read). Exact and
    // scale-safe: lengths collapse to the (source, length) count grid
    // (map-combined — the fact never moves after one shuffle), the
    // global ECDF cumulates over the DISTINCT-length grid (the only
    // unpartitioned window, metadata-sized: |distinct lengths|, not
    // corpus), each source's ECDF evaluates at EVERY global grid point
    // via a dense sources×grid cross join (both factors bounded) so the
    // sup lands on steps the source itself skips, and the sup compares
    // exact integer cross-products |cum_s·N − cum_g·n_s| (decimal — the
    // product overflows a long at corpus counts). ONE terminal IEEE
    // division yields D.
    "x113_ks_drift" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, d)
        .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      val wg = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val grid = counts.groupBy("n_chars").agg(sum("c").as("cg"))
        .withColumn("cum_g", sum("cg").over(wg))
      val total = grid.agg(sum("cg").as("n_total"))
      val srcTot = counts.groupBy("source").agg(sum("c").as("n_src"))
      val ws = Window.partitionBy("source").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      srcTot.crossJoin(broadcast(grid.select("n_chars", "cum_g")))
        .join(counts, Seq("source", "n_chars"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("cum_s", sum("c").over(ws))
        .crossJoin(broadcast(total))
        .withColumn("num",
          abs(col("cum_s").cast("decimal(38,0)") * col("n_total")
            - col("cum_g").cast("decimal(38,0)") * col("n_src")))
        .groupBy("source", "n_src", "n_total")
        .agg(max("num").as("max_num"))
        .select(col("source"), col("n_src"),
          (col("max_num").cast("double")
            / (col("n_src").cast("double") * col("n_total").cast("double")))
            .as("ks"))
        .orderBy("source")
    }),

    // X133: cross-source quantile normalization — re-express each
    // document's quality on the GLOBAL scale by mapping its
    // within-source centile to the global centile's boundary value
    // (the best score of the matching global tile). The calibration
    // step before any cross-source quality cut: per-source scorers
    // drift, and a raw x52-style threshold then over-keeps lenient
    // sources; after normalization every source's c-th centile means
    // the same thing. Exact + scale-safe: within-source centiles via
    // TopFrac.groupTiles (the dominant source is the corpus at 100 TB
    // — histogram refinement, no source-sized window), the global
    // centile boundary table is TopFrac.tiles collapsed to ≤100 rows
    // (broadcast metadata), and the mapping is one broadcast join.
    // All-integer; oracle states both naive ntile forms.
    "x117_quantile_norm" -> ((s, d) => {
      import graft.util.TopFrac
      val docs = Tables.documents(s, d)
      // EAGER shared plane (r16): the quality-scoring pipeline feeds
      // FOUR subtree evaluations (each TopFrac pass reads its input
      // twice by contract — histogram + keep — and both groupTiles and
      // tiles read q), so without materialization the CPU-dense
      // tokenize+marker traversal ran 4× per run. The materialized
      // plane is per-doc metadata (id, q_ppm, source).
      val q = TextFunctions.withTextSignals(docs, langCol = None, nTokensCol = None)
        .select(col("doc_id"), round(col("quality") * 1000000).cast("long").as("q_ppm"))
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .localCheckpoint(true)
      val srcTiled = TopFrac.groupTiles(q, "source", "q_ppm", "doc_id",
          100, QualityCoarseDiv)
        .withColumnRenamed("tile", "src_centile")
      val gmap = TopFrac.tiles(q.select("doc_id", "q_ppm"), "q_ppm", "doc_id",
          100, QualityCoarseDiv)
        .groupBy(col("tile").as("gt")).agg(max("q_ppm").as("norm_q_ppm"))
      srcTiled.join(broadcast(gmap), col("src_centile") === col("gt"))
        .select("doc_id", "source", "q_ppm", "src_centile", "norm_q_ppm")
        .orderBy("doc_id")
    }),

    // X135: dedup token savings — the budget read a curation team asks
    // BEFORE running the dedup: per source, how many tokens does exact
    // dedup save (keeper = global min doc_id per fingerprint, so a
    // source whose docs mirror another source's counts its copies as
    // saved — exactly the cross-source mirror X88/x75 measures as
    // pairs, here priced in tokens). One fingerprint shuffle, one
    // keeper broadcast-back... at corpus scale a fingerprint-keyed SMJ
    // (the x1 shape); savings in integer ppm (decimal product — token
    // totals ×1e6 overflow a long on a 100 TB corpus).
    "x119_dedup_savings" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextFunctions.fingerprint(col("text")).as("fp"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      val keep = base.groupBy("fp").agg(min("doc_id").as("keeper_id"))
      base.join(keep, Seq("fp"))
        .withColumn("is_keeper", (col("doc_id") === col("keeper_id")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("is_keeper").as("n_keepers"),
          sum("n_tokens").as("tokens_total"),
          sum(col("is_keeper") * col("n_tokens")).as("tokens_kept"))
        .withColumn("savings_ppm", expr(
          "CAST(tokens_total - tokens_kept AS DECIMAL(38,0)) * 1000000 div tokens_total"))
        .orderBy("source")
    }),

    // X136: independence residuals — which (lang, source) cells of the
    // corpus-composition contingency deviate most from independence
    // (the audit that catches "this crawl source is secretly
    // single-language" before a mix is planned on marginals alone).
    // The ranking key is the EXACT integer cross-product deviation
    // |obs·N − langTot·srcTot| (no float ordering); the per-cell
    // chi-square contribution dev²/(N·langTot·srcTot) is a fixed-order
    // IEEE expression over exact integers, emitted per cell — never
    // summed across cells, where float addition order would enter.
    // Everything runs on the bounded langs×sources grid: one
    // map-combined fact collapse, two marginal aggregates OF that
    // grid, broadcast joins, TakeOrdered top-15.
    "x120_indep_residuals" -> ((s, d) => {
      val obs = Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("obs"))
      val rowT = obs.groupBy("lang").agg(sum("obs").as("lang_tot"))
      val colT = obs.groupBy("source").agg(sum("obs").as("src_tot"))
      val tot = obs.agg(sum("obs").as("n_total"))
      obs.join(broadcast(rowT), Seq("lang"))
        .join(broadcast(colT), Seq("source"))
        .crossJoin(broadcast(tot))
        .withColumn("dev", col("obs").cast("decimal(38,0)") * col("n_total")
          - col("lang_tot").cast("decimal(38,0)") * col("src_tot"))
        .withColumn("abs_dev", abs(col("dev")))
        .withColumn("exp_micro", expr(
          "CAST(lang_tot AS DECIMAL(38,0)) * src_tot * 1000000 div n_total"))
        .withColumn("contrib", expr(
          """(CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE))
             / (CAST(n_total AS DOUBLE) * CAST(lang_tot AS DOUBLE) * CAST(src_tot AS DOUBLE))"""))
        .select(col("lang"), col("source"), col("obs"),
          col("exp_micro").cast("long").as("exp_micro"),
          col("abs_dev").cast("long").as("abs_dev"), col("contrib"))
        .orderBy(desc("abs_dev"), col("lang"), col("source"))
        .limit(15)
    }),

    // X122: zone-map file skipping — the lakehouse min/max statistics
    // pass and the prune estimate it buys. The corpus is laid out in
    // 256-row shards ordered by (source, doc_id) — the clustered
    // layout a source-partitioned warehouse has — via ScalableRank on
    // a composite integer key (src_idx·(max_id+1) + doc_id; src_idx
    // from a triangular join over the bounded source dim, no window
    // anywhere). Each shard's zone map is min/max(source) + row count;
    // a per-source predicate then scans only shards whose zone spans
    // it, and the output states, per source: shards scanned, rows
    // scanned, rows actually matching, and the skip fraction — the
    // measured answer to "what does clustering buy this predicate".
    // At 100 TB the zone table is file-count-sized metadata (~100k
    // rows for 1 GB shards) and the decision join is zone×predicate,
    // never corpus-sized; only boundary shards over-scan.
    "x122_zone_maps" -> ((s, d) => {
      import graft.util.ScalableRank
      val docs = Tables.documents(s, d).select("doc_id", "source")
      val srcs = docs.select("source").distinct()
      val srcIdx = srcs.as("a")
        .join(srcs.as("b"), col("b.source") < col("a.source"), "left")
        .groupBy(col("a.source").as("source"))
        .agg(count(col("b.source")).as("src_idx"))
      val keyBase = docs.agg((max("doc_id") + 1).as("kb"))
      val keyed = docs.join(broadcast(srcIdx), Seq("source"))
        .crossJoin(broadcast(keyBase))
        .withColumn("okey", col("src_idx") * col("kb") + col("doc_id"))
      // EAGER (r16; was a lazy .cache()): zones feeds the decision join
      // and the totals broadcast concurrently — the lazy-cache race
      // (JobProbe: a 32-task stage blocked ~14× its CPU on the cache
      // lock). The zone table is file-count metadata.
      val zones = ScalableRank.globalRowNumber(keyed, "okey", "rn")
        .withColumn("shard", expr("(rn - 1) div 256"))
        .groupBy("shard")
        .agg(min("source").as("zmin"), max("source").as("zmax"),
          count(lit(1)).as("n_rows"))
        .localCheckpoint(true)
      val decisions = zones
        .crossJoin(broadcast(srcs.withColumnRenamed("source", "qsrc")))
        .withColumn("scanned",
          col("zmin") <= col("qsrc") && col("qsrc") <= col("zmax"))
      val matching = docs.groupBy("source").agg(count(lit(1)).as("rows_matching"))
      val totals = zones.agg(count(lit(1)).as("n_shards_total"),
        sum("n_rows").as("rows_total"))
      decisions.groupBy(col("qsrc").as("source"))
        .agg(sum(when(col("scanned"), 1L).otherwise(0L)).as("n_shards_scanned"),
          sum(when(col("scanned"), col("n_rows")).otherwise(0L)).as("rows_scanned"))
        .join(matching, Seq("source"))
        .crossJoin(broadcast(totals))
        .withColumn("skip_ppm",
          expr("(rows_total - rows_scanned) * 1000000 div rows_total"))
        .select("source", "n_shards_total", "n_shards_scanned", "rows_total",
          "rows_scanned", "rows_matching", "skip_ppm")
        .orderBy("source")
    }),

    // X123: triangle support on the near-dup graph — the structural
    // audit that separates CLIQUE-like duplicate clusters (template
    // farms, mirror sets: high clustering coefficient) from CHAIN-like
    // ones (drifting revisions: low coefficient), which need different
    // keeper policies (one keeper per clique vs per-link review). Runs
    // on the standing MinHash pair plane in the bench (the x17/x38
    // service amortization); the gate form rebuilds the plane so the
    // oracle hash covers the whole path.
    "x123_triangles" -> ((s, d) =>
      trianglesOnPairs(Dedup.minhashNearDups(Tables.documents(s, d), 0.5))),

    // X124: per-dimension embedding health stats — n/min/max/mean/var
    // for every embedding coordinate, the feature-health audit that
    // catches dead dimensions (var ≈ 0), saturated ones (|mean| high),
    // and scale drift between model versions before they poison ANN
    // geometry. One posexplode + one map-combined aggregate (64·n
    // rows in flight, never materialized); moments accumulate on the
    // EXACT fixed-point integers (Σq as DECIMAL(38,0) — corpus-scale
    // sums overflow a long) and convert to double only in the final
    // two per-dim divisions, both exactly-rounded IEEE ops the oracle
    // replays identically. Integer `div` is avoided on Σq because it
    // can be negative (Spark truncates, DuckDB floors).
    "x124_dim_stats" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(graft.functions.FixedPointQuantize
            .fixed_point_quantize(col("embedding"))).as(Seq("pos0", "q")))
        .select((col("pos0") + 1).as("pos"), col("q"))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"), min("q").as("min_q"), max("q").as("max_q"),
          sum(col("q").cast("decimal(38,0)")).as("sq"),
          sum((col("q") * col("q")).cast("decimal(38,0)")).as("sqq"))
        .select(col("pos"), col("n"), col("min_q"), col("max_q"),
          (col("sq").cast("double") / col("n").cast("double")).as("mean_q"),
          ((col("n").cast("decimal(38,0)") * col("sqq") - col("sq") * col("sq"))
            .cast("double")
            / (col("n").cast("double") * col("n").cast("double"))).as("var_q"))
        .orderBy("pos")),

    // X129: systematic PPS sampling — probability-proportional-to-size
    // without replacement, the survey-sampling form of "sample 64
    // documents weighted by token count" that every corpus-audit stage
    // needs (inspect big docs proportionally more, never miss a
    // megadoc). The classic transcendental-free method: lay the corpus
    // on a weight line in a deterministic md5-shuffled order, walk it
    // with a fixed stride step = W/n from the mid-step offset, and
    // select every document whose weight interval contains a stride
    // point (heavy docs can be hit multiple times — n_hits carries
    // the multiplicity, the textbook PPS-with-replacement-correction
    // signal). ALL integer arithmetic, so both engines agree exactly.
    // Scale shape: the cumulative weight line is the x27/seqPack
    // two-phase prefix sum (bucketed by the shuffle key's first byte —
    // no corpus-wide window); the stride test is a per-row projection.
    "x129_pps_sample" -> ((s, d) => {
      val base = Tables.documents(s, d).select(
          col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("w"),
          graft.util.Sampling.shuffleKey(col("doc_id")).as("sk"))
        .filter(col("w") > 0)
        .withColumn("bucket", substring(col("sk"), 1, 2))
      val totals = base.groupBy("bucket").agg(sum("w").as("bt"))
      val offsets = totals.as("a")
        .join(totals.as("b"), col("b.bucket") < col("a.bucket"), "left")
        .groupBy(col("a.bucket").as("bucket"))
        .agg(coalesce(sum(col("b.bt")), lit(0L)).as("boff"))
      val wL = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy("sk")
      val tot = base.agg(sum("w").as("tw"))
      base.withColumn("ls", sum("w").over(wL))
        .join(broadcast(offsets), Seq("bucket"))
        .withColumn("cum_end", col("boff") + col("ls"))
        .withColumn("cum_start", col("cum_end") - col("w"))
        .crossJoin(broadcast(tot))
        // greatest(...,1): a corpus with total weight < n (tiny or
        // heavily filtered) must degrade to stride 1 — every unit hit —
        // not divide by a zero step
        .withColumn("step", expr(s"greatest(tw div $PpsSampleN, 1)"))
        .withColumn("off", expr("step div 2"))
        .withColumn("n_hits", expr(
          """(cum_end + step - off - 1) div step
             - (cum_start + step - off - 1) div step"""))
        .filter(col("n_hits") > 0)
        .select("doc_id", "w", "cum_start", "n_hits")
        .orderBy("doc_id")
    }),

    // X157: weighted sampling WITHOUT replacement (priority sampling,
    // Duffield et al. 2007 shape) — the complement of x129's
    // PPS-with-multiplicity: pick the 64 highest-priority documents
    // where priority = floor(w·2³² / h) with h the doc's md5-derived
    // uniform integer in [1, 2³²]. Heavier docs get stochastically
    // larger priorities (the w/u order), no doc repeats, and the
    // quantized all-integer priority makes both engines agree
    // bit-for-bit — no transcendental exp/log keys, which would break
    // cross-engine rank ties. Scale shape: a per-row projection
    // followed by ORDER BY pri LIMIT k, which Spark plans as
    // TakeOrderedAndProject — per-partition heaps of size k merged on
    // the driver, never a global sort of the corpus.
    "x137_weighted_sample" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("w"))
        .filter(col("w") > 0)
        .withColumn("h",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") + 1)
        .withColumn("pri", expr("(w * 4294967296) div h"))
        .orderBy(desc("pri"), col("doc_id")).limit(SampleTopK)
        .select("doc_id", "w", "pri")
        .orderBy("doc_id")),

    // X167: Matryoshka truncation recall audit (Kusupati et al. 2022
    // shape) — before serving a dimension-truncated index, measure
    // what the prefix loses: exact top-5 by FULL 64-dim cosine vs
    // exact top-5 by the LEADING-16-dim prefix (its own norms — the
    // truncated vector IS the representation, not a scaled slice),
    // overlap per query. The read that decides whether a 4× smaller
    // ANN index (4× less memory bandwidth at 100 TB serving scale) is
    // safe for THIS embedding version — trained-with-MRL embeddings
    // hold high overlap, PCA-rotated ones collapse. Both sides are the
    // x11/x55-bounded brute-force shape (queries × corpus, element
    // join, codegen'd long dots) over a DETERMINISTIC 1-in-4 corpus
    // sample: the audit is a statistical read (mean overlap decides
    // the rollout), so the candidate pool is sampled, never the full
    // corpus — both legs rank the SAME pool, so the overlap verdict
    // is unchanged in kind while the audit's cost stays a bounded
    // fraction of a full brute-force pass (at 100 TB nobody dots the
    // whole corpus to estimate a recall mean). Outputs all-integer.
    "x147_matryoshka" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpusSample = pmod(col("vec_id"), lit(4L)) === 0
      val trunc = emb.withColumn("embedding",
        slice(col("embedding"), 1, MatryoshkaPrefix))
      def top5(e: DataFrame) =
        Similarity.topK(e.filter(corpusSample), e.filter(col("vec_id") < 10), 5)
          .select("qid", "vb")
      val full = top5(emb)
      val overlap = full.join(top5(trunc), Seq("qid", "vb"))
        .groupBy("qid").agg(count(lit(1)).as("n_overlap"))
      full.select("qid").distinct()
        .join(overlap, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          (coalesce(col("n_overlap"), lit(0L)) * 20).as("recall_pct"))
        .orderBy("qid")
    }),

    // X131: k-core peeling on the near-dup graph — the density
    // complement of x17's connectivity and x123's triangles: the
    // 2-core after three peel rounds is the template-farm/mirror-ring
    // core, the periphery is the revision chains and pendants that
    // need per-link review instead of a blanket keeper rule. Rides
    // the standing pair plane in the bench (the x17/x38 service
    // amortization); the gate form rebuilds the plane under the hash.
    "x131_kcore" -> ((s, d) =>
      Dedup.kcorePeel(Dedup.minhashNearDups(Tables.documents(s, d), 0.5))),

    // X132: per-shard Bloom skipping — the POINT-LOOKUP half of
    // lakehouse data skipping, completing x122/x127's range half: on
    // ingest-order shards (exactly where min/max zone maps prune
    // nothing for a keyword predicate) each shard carries a Bloom of
    // its distinct tokens, and a term lookup scans only bloom-positive
    // shards. Per probe term: shards flagged maybe, shards truly
    // containing it (no false negatives by construction — the Bloom
    // invariant), false positives, and the skip fraction the filter
    // buys. The probe set is the 5 rarest vocabulary terms (df asc —
    // the lookups where skipping pays; a ubiquitous term bloom-hits
    // every shard, which is the honest answer). At 100 TB the bloom
    // table is shards×fill
    // bits of metadata beside the zone maps (parquet's own
    // bloom_filter columns in practice); the decision join is
    // bloom-bits×probe-bits, never the corpus.
    // X191: BM25 sparse retrieval (Robertson-Spärck Jones / Okapi
    // shape) — the lexical complement of the dense ANN family (x11/
    // x16/x62), and the second leg RRF fusion (x53) exists to merge.
    // One 5-term query (the rarest non-hapax terms, df ≥ 5, ties by
    // token — the probe set where sparse retrieval pays, per x120's
    // rule), scored ALL-INTEGER: k1 = 6/5 and b = 3/4 are exact
    // rationals, so the tf saturation term multiplies out to
    //   44·tf·avgdl_m / (20·tf·avgdl_m + 6·avgdl_m + 18000·dl)
    // with avgdl in milli-units, and the RSJ idf is the exact rational
    // (2N − 2df + 1)/(2df + 1); both floor to ppm before the per-doc
    // sum, so scores are bit-identical in any engine (the x84/x51
    // fixed-point discipline — no transcendental log in the hot path,
    // monotone in the same order as the log form for fixed N).
    // Scale shape: only docs CONTAINING a query term are ever scored —
    // the postings equi-join bounds candidates by Σ df(q), never the
    // corpus; df/avgdl are broadcast 1-row/5-row metadata;
    // TakeOrderedAndProject merges per-partition top-10 heaps.
    "x167_bm25_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // one explode, one (doc, tok) aggregate; dl and df both derive
      // from the tf table (dl = Σ tf per doc), so the corpus text is
      // scanned and shuffled exactly once
      val tf = docs.select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
      val dfTab = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val terms = dfTab.filter(col("df") >= 5)
        .orderBy(col("df"), col("tok")).limit(5)
      tf.join(broadcast(terms), Seq("tok"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("avgdl_m", expr("(total_len * 1000) div n_docs"))
        .withColumn("tfc_ppm", expr(
          "(44 * tf * avgdl_m * 1000000) div (20 * tf * avgdl_m + 6 * avgdl_m + 18000 * dl)"))
        .withColumn("idf_ppm", expr(
          "((2 * n_docs - 2 * df + 1) * 1000000) div (2 * df + 1)"))
        .withColumn("contrib", expr("(tfc_ppm * idf_ppm) div 1000000"))
        .groupBy("doc_id")
        .agg(sum("contrib").as("score_ppm"), count(lit(1)).as("n_terms_hit"))
        .orderBy(desc("score_ppm"), col("doc_id")).limit(10)
    }),

    // X192: Fellegi-Sunter probabilistic record linkage with
    // SORTED-NEIGHBORHOOD candidate generation (Hernández-Stolfo) —
    // the scoring step between blocking and x156's golden-record
    // merge. Naive within-block self-joins are Σ per-block² and a 10×
    // corpus pays 100× (measured 1.25 → 31.7 s before this form);
    // sorted-neighborhood instead ranks each (lang × 200-char-bucket)
    // block by (n_chars, doc_id) and pairs each record with only its
    // w = 3 successors — candidate count is ≤ 3·n (LINEAR), and the
    // pairing is a pure EQUI-join on (block, rank+offset), never a
    // block cross product (the merge phase materializes 3 offset rows
    // per record, not neighborhoods). Each candidate pair accumulates
    // per-field agreement/disagreement log-odds weights (STATED
    // integer milli-log-odds — the m/u probabilities a real deploy
    // estimates by EM; fixed so both engines agree bit-for-bit) over
    // three comparators: source equality, length proximity
    // (|Δn_chars| ≤ 20), and simhash proximity (hamming ≤ 8 on the
    // md5-parity 32-bit signature — content compared by fingerprint,
    // text never enters the pair join). The summed score classifies
    // match / possible / non-match at stated thresholds — the
    // three-way rule that routes "possible" to clerical review.
    // Output is the per-verdict audit (counts + score range),
    // metadata-sized; the rank rides ScalableRank.groupedRowNumber, so
    // even a HOT (lang, blk) block never sorts in one task (max window
    // partition ~|hot block|/256 — the r11 verdict's skew-straggler
    // item, closed with identical rank values).
    "x168_linkage_score" -> ((s, d) => {
      val (a, b) = linkageSides(s, d)
      a.select(col("*"), explode(array(lit(1), lit(2), lit(3))).as("off"))
        .join(b, col("lang_a") === col("lang_b") && col("blk_a") === col("blk_b")
          && col("rn_a") + col("off") === col("rn_b"))
        .select(col("doc_id_a"), col("doc_id_b"),
          linkageScore("_a", "_b").as("score"))
        .withColumn("verdict",
          when(col("score") >= 4000, "match")
            .when(col("score") >= 1000, "possible")
            .otherwise("non_match"))
        .groupBy("verdict")
        .agg(count(lit(1)).as("n_pairs"),
          min("score").as("score_min"), max("score").as("score_max"))
        .orderBy("verdict")
    }),

    // X227: blocking recall audit — x168 trusts sorted-neighborhood
    // blocking (w = 3 successors per record) to surface the true
    // matches; THIS row measures what that trust costs, the ER
    // companion to x60's ANN recall audit. Ground truth comes from a
    // deterministic 1-in-4 doc sample (the x167 statistical-read
    // pattern): ALL same-lang pairs within the sample are scored with
    // x168's exact comparators (source, |Δlen| ≤ 20, simhash ≤ 8) and
    // pairs at the match threshold (≥ 4000 milli-log-odds) are truth.
    // Candidates are the PRODUCTION blocking's pairs on the FULL
    // corpus — so a sampled true pair separated by > w full-corpus
    // neighbors counts as missed, exactly as it would be in
    // production. Output per lang: truth size, hits, recall in ppm,
    // and the full candidate count for cost context. Scale: the truth
    // pass is O((n/K)²) per lang BY DESIGN — the sample rate K is the
    // audit's budget knob (grow K as √corpus to hold the pair count);
    // the candidate side stays the linear x168 plane.
    "x202_blocking_recall" -> ((s, d) => {
      val (a, b) = linkageSides(s, d)
      // production candidates over the FULL corpus, canonical (lo, hi)
      val cand = a.select(col("*"), explode(array(lit(1), lit(2), lit(3))).as("off"))
        .join(b, col("lang_a") === col("lang_b") && col("blk_a") === col("blk_b")
          && col("rn_a") + col("off") === col("rn_b"))
        .select(col("lang_a").as("lang"),
          least(col("doc_id_a"), col("doc_id_b")).as("lo"),
          greatest(col("doc_id_a"), col("doc_id_b")).as("hi"))
        .distinct()
      // sampled all-pairs truth at x168's match threshold
      val sa = a.filter(pmod(col("doc_id_a"), lit(4L)) === 0)
      val sb = b.filter(pmod(col("doc_id_b"), lit(4L)) === 0)
      val truth = sa.join(sb, col("lang_a") === col("lang_b")
          && col("doc_id_a") < col("doc_id_b"))
        .filter(linkageScore("_a", "_b") >= 4000)
        .select(col("lang_a").as("lang"),
          col("doc_id_a").as("lo"), col("doc_id_b").as("hi"))
      val hits = truth.join(cand, Seq("lang", "lo", "hi"), "left_semi")
      val perLang = truth.groupBy("lang").agg(count(lit(1)).as("n_true"))
        .join(hits.groupBy("lang").agg(count(lit(1)).as("n_hit")),
          Seq("lang"), "left_outer")
        .join(cand.groupBy("lang").agg(count(lit(1)).as("n_cand_full")),
          Seq("lang"), "left_outer")
      perLang.select(col("lang"), col("n_true"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          expr("coalesce(n_hit, 0) * 1000000 div n_true").as("recall_ppm"),
          coalesce(col("n_cand_full"), lit(0L)).as("n_cand_full"))
        .orderBy("lang")
    }),

    // X229: vocabulary drift audit — the TEXT companion to x113's
    // numeric KS drift: has the corpus's token distribution moved
    // between the first and second ingest half (doc_id order = ingest
    // order)? Report the top-20 movers among the 200 globally most
    // frequent tokens, each half's frequency in exact ppm of that
    // half's total token mass. Composition drift (a crawl source
    // turning on, a language mix shifting) shows up here before any
    // per-document quality score moves — the read that decides whether
    // a tokenizer/mixture retrain is due. Shuffle structure: one
    // explode to token occurrences, three map-combined aggregates
    // (half totals, global top-200 via TakeOrderedAndProject, per-half
    // counts for the broadcast top set); the mover rank orders a
    // 200-row frame. Integer ppm throughout; ties broken by token so
    // both limits are total orders.
    "x204_vocab_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val mxd = docs.agg(max("doc_id").as("__mxd"))
      val toks = docs.crossJoin(broadcast(mxd))
        .select(when(col("doc_id") * 2 <= col("__mxd"), "a").otherwise("b")
            .as("half"),
          explode(graft.text.TextFunctions.tokens(col("text"))).as("tok"))
      val tot = toks.groupBy("half").agg(count(lit(1)).as("n"))
        .agg(sum(when(col("half") === "a", col("n"))).as("na"),
          sum(when(col("half") === "b", col("n"))).as("nb"))
      val top = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("tok")).limit(200).select("tok")
      val cnt = toks.join(broadcast(top), Seq("tok"))
        .groupBy("half", "tok").agg(count(lit(1)).as("cnt"))
      top
        .join(cnt.filter(col("half") === "a")
          .select(col("tok"), col("cnt").as("ca")), Seq("tok"), "left_outer")
        .join(cnt.filter(col("half") === "b")
          .select(col("tok"), col("cnt").as("cb")), Seq("tok"), "left_outer")
        .crossJoin(broadcast(tot))
        .withColumn("ppm_early", expr("coalesce(ca, 0) * 1000000 div na"))
        .withColumn("ppm_late", expr("coalesce(cb, 0) * 1000000 div nb"))
        .withColumn("delta_ppm", abs(col("ppm_early") - col("ppm_late")))
        .orderBy(desc("delta_ppm"), col("tok")).limit(20)
        .select("tok", "ppm_early", "ppm_late", "delta_ppm")
    }),

    // X235: embedding-distribution drift — x204's companion for the
    // VECTOR modality: per dimension, the fixed-point mean over the
    // first ingest half vs the second (vec_id order = ingest order),
    // in exact micro-units. A per-dim mean shift is the cheapest
    // detector for encoder-version skew (half the corpus embedded
    // with model v1, half with v2 — the silent failure that poisons
    // every ANN index built on the mix); it reads hot before recall
    // audits (x60) go red. One explode + one dim-keyed map-combined
    // aggregate (64-row output); integer means use the sign·(abs div
    // n) form — Spark's div truncates while DuckDB's // floors, and
    // embedding sums go negative (the x188 division lesson applied).
    "x210_embedding_drift" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val mx = e.agg(max("vec_id").as("__mx"))
      val el = e.crossJoin(broadcast(mx))
        .select(when(col("vec_id") * 2 <= col("__mx"), "a").otherwise("b")
            .as("half"),
          posexplode(col("embedding")))
        .select(col("half"), (col("pos") + 1).as("dim"),
          expr("cast(round(cast(col as double) * 1000000) as bigint)").as("q"))
      el.groupBy("dim")
        .agg(sum(when(col("half") === "a", col("q"))).as("sa"),
          sum(when(col("half") === "a", 1L).otherwise(0L)).as("na"),
          sum(when(col("half") === "b", col("q"))).as("sb"),
          sum(when(col("half") === "b", 1L).otherwise(0L)).as("nb"))
        .select(col("dim"),
          expr("CASE WHEN sa >= 0 THEN sa div na ELSE -((-sa) div na) END")
            .as("mean_a_micro"),
          expr("CASE WHEN sb >= 0 THEN sb div nb ELSE -((-sb) div nb) END")
            .as("mean_b_micro"))
        .withColumn("drift_micro",
          abs(col("mean_a_micro") - col("mean_b_micro")))
        .orderBy("dim")
    }),

    // X236: character-diversity audit — the exact-integer stand-in for
    // a character-entropy gibberish filter (`quality_checks.py:20-56`'s
    // audit role at the character grain). Collision rate Σc(c−1)/N(N−1)
    // in ppm (Simpson repeat-rate: "aaaa…" saturates at 1e6, diverse
    // text sits low), distinct-char count, top-char share, keep
    // verdict — no log/exp anywhere, so the oracle reproduces every
    // value bit-for-bit where a float entropy would drift at the ulp.
    // The per-char explode partial-aggregates to ≤|alphabet| rows per
    // doc per task BEFORE the shuffle (see CorpusStats.charStats).
    "x211_char_stats" -> ((s, d) =>
      graft.text.CorpusStats.charStats(Tables.documents(s, d))
        .orderBy("doc_id")),

    // X237: Zipf rank-bucket profile + coverage curve — the corpus
    // vocabulary-health read (per power-of-2 frequency-rank bucket:
    // type count, token mass, cumulative coverage ppm; template spam
    // piles mass into the head buckets, and coverage@2^b is the
    // tokenizer vocab-sizing curve). NO per-type rank is computed: one
    // groupBy(token), then the (f, #types) histogram is
    // statistics-sized and the rank intervals split across bucket
    // boundaries by exact overlap arithmetic — the x118
    // histogram-refinement discipline (see CorpusStats.zipfProfile).
    "x212_zipf_profile" -> ((s, d) =>
      graft.text.CorpusStats.zipfProfile(Tables.documents(s, d))
        .orderBy("bucket")),

    // X238: per-document duplicated-shingle exposure — the SYMMETRIC
    // memorization-risk scalar: what fraction (ppm) of a doc's distinct
    // 3-gram shingles occur in ≥2 docs corpus-wide. x45 is the
    // ingest-ORDERED novelty (the first copy scores novel); this flags
    // the boilerplate SOURCE too, and unlike x2/x60's pairwise planes
    // it fires on diffuse duplication where no single partner crosses
    // a near-dup threshold. Two map-combined exchanges (shingle df,
    // doc roll-up); a shingle shared by k docs costs k rows, never k².
    "x213_dup_exposure" -> ((s, d) =>
      graft.text.CorpusStats.dupExposure(Tables.documents(s, d))
        .orderBy("doc_id")),

    // X239: per-dimension embedding variance / dead-dim audit — x210's
    // second moment: a dimension with ~zero variance carries no
    // information but still costs PQ codebook bits and distance FLOPs
    // in every ANN structure built on the corpus (x16/x49/x62); the
    // audit that says "train the index on 61 of 64 dims". Exact
    // integer micro-units end-to-end: variance = (n·Σq² − (Σq)²) div n²
    // over the same round(v·10⁶) quantization as x210 — the numerator
    // is the non-negative integer form, so floor-vs-truncate parity is
    // free; the MEAN keeps x210's sign·(abs div n) form. One explode +
    // one dim-keyed map-combined aggregate; dims-sized output. Sums
    // ride DECIMAL(38,0): at 10¹⁰ vectors Σq² reaches ~10²², past
    // BIGINT — the overflow is designed out, not discovered at scale.
    "x214_dim_variance" -> ((s, d) =>
      Similarity.dimVariance(Tables.embeddings(s, d)).orderBy("dim")),

    // X240: dedup scope audit (global vs within-source) — the corpus-
    // assembly question behind FineWeb's per-snapshot-vs-global dedup
    // finding: how many duplicates does a GLOBAL exact-dedup pass
    // remove that per-source passes would miss? Per source: docs,
    // global-dup count (fingerprint's min doc_id lives anywhere),
    // within-source-dup count (min doc_id in the SAME source),
    // cross_gain = the difference — exactly the docs only the global
    // pass catches. The sf corpora are exact-dup-free at sf0.01
    // (verified via DuckDB), so the gate PLANTS positives the
    // j4b/x179 way: deterministic clones of doc_id%25==0 into a
    // synthetic source (cross-source dups) and of doc_id%40==0 into
    // their OWN source (within dups) — every column is a nonzero,
    // hash-checked count; a keeper-rule or grouping defect cannot
    // hide behind a clean corpus. Two fingerprint-keyed map-combined
    // aggregates + one source roll-up; no pair set materializes.
    "x215_dedup_scope" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // clone-id offsets DERIVED from max(doc_id) (the x198 lesson:
      // fixed 1e6/2e6 offsets collide with real ids past 1M docs);
      // cross clones land in (mx, 2mx+1], within clones in (2mx+1, 3mx+2]
      // — disjoint from the corpus and each other at any SF
      val mx = docs.agg(max("doc_id").as("__mx"))
      val planted = docs.filter(col("doc_id") % 25 === 0)
        .crossJoin(broadcast(mx))
        .select((col("doc_id") + col("__mx") + 1).as("doc_id"), col("text"),
          lit("clone_src").as("source"))
        .unionByName(docs.filter(col("doc_id") % 40 === 0)
          .crossJoin(broadcast(mx))
          .select((col("doc_id") + (col("__mx") + 1) * 2).as("doc_id"),
            col("text"), col("source")))
      graft.text.CorpusStats.dedupScope(
          docs.select(col("doc_id"), col("text"), col("source"))
            .unionByName(planted))
        .orderBy("source")
    }),

    // X241: duplicated-span excision — the WRITE half of x60's Lee et
    // al. cut list: rebuild every document with the tokens inside any
    // cross-document duplicated span removed, emitting cleaned text +
    // removal accounting. x40 drops fixed 8-token segments; this cuts
    // the exact maximal duplicated intervals x60 localized (disjoint by
    // interval union, so the anti-join emits each kept token once).
    // Span→token application is an equi-join on doc_id with a residual
    // range predicate; rebuild is the x40 order-independent aggregate.
    "x216_span_excise" -> ((s, d) =>
      Dedup.spanExcise(Tables.documents(s, d)).orderBy("doc_id")),

    // X242: deterministic sorted-shard layout audit — the WRITE-side
    // decision table for the measure-sorted, zone-map-prunable layouts
    // x122/x127 read: every order assigned to one of 32 shards by
    // EXACT global rank of (price-cents, orderkey), per-shard zone map
    // + boundary quality out. repartitionByRange would SAMPLE the
    // boundaries (two runs, two layouts); ScalableRank's two-phase
    // prefix-sum keeps assignment bit-deterministic with one narrow
    // shuffle and no AllTuples window (see util.SortedLayout).
    "x217_sorted_shards" -> ((s, d) =>
      graft.util.SortedLayout.sortedShardAudit(
          Tables.orders(s, d).select(
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"),
            col("o_orderkey")),
          "cents", "o_orderkey", tieSpan = 10000000000L, nShards = 32)
        .orderBy("shard_id")),

    // X244: embedding norm audit — the precondition check every cosine
    // consumer on the vector plane (x11/x13/x16/x33/x61…) silently
    // assumes: are the vectors actually unit-norm? A mixed corpus
    // (half normalized, half raw encoder output) makes dot-product
    // shortcuts rank garbage long before recall audits notice. Exact
    // fixed-point norms (the same codegen'd FixedPointDot as every
    // cosine), histogrammed by 0.1-of-unit buckets of norm² with an
    // off-unit verdict per bucket — one map-combined aggregate,
    // buckets-sized output.
    "x219_norm_audit" -> ((s, d) =>
      Tables.embeddings(s, d)
        // parity guard: for an empty/null embedding the oracle's unnest
        // produces no rows (the vector vanishes), while dotFixed would
        // emit nsq=0 into bucket 0 — drop degenerates on both engines
        .filter(size(col("embedding")) > 0)
        .select(col("vec_id"),
          Similarity.dotFixed(col("embedding"), col("embedding")).as("nsq"))
        .withColumn("bucket", expr("nsq div 100000000000"))
        .groupBy("bucket").agg(
          count(lit(1)).as("n_vecs"),
          min("nsq").as("min_nsq"),
          max("nsq").as("max_nsq"))
        .withColumn("off_unit",
          (col("bucket") < 9 || col("bucket") >= 11).cast("int"))
        .orderBy("bucket")),

    // X243: incremental shard routing — x217's maintenance half: a
    // simulated daily delta (orderkey % 13 == 0, ~8% of the base)
    // routes against the COMMITTED shard boundaries instead of
    // re-ranking the corpus. The zones table is shards-sized, so
    // routing is a broadcast range join (first shard whose max_key
    // covers the key; above-max appends to the last shard) and the
    // rewrite verdict (delta pressure > 8% of the shard) is the table
    // a compaction job reads. The base corpus is never touched again.
    "x218_shard_routing" -> ((s, d) => {
      val o = Tables.orders(s, d).select(
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        col("o_orderkey"))
      graft.util.SortedLayout.shardRouting(
          o.filter(col("o_orderkey") % 13 =!= 0),
          o.filter(col("o_orderkey") % 13 === 0),
          "cents", "o_orderkey", tieSpan = 10000000000L, nShards = 32,
          rewriteAbovePpm = 80000L)
        .orderBy("shard_id")
    }),

    // X230: training-mix sampling rates — the decision procedure that
    // consumes x66's DSIR-style weights and x30/x31's samplers: given a
    // token budget (1M) and a stated mix policy (equal representation
    // per source — the uniform baseline the DoReMi family perturbs),
    // derive each source's sampling rate in ppm and, where a source is
    // SMALLER than its target, the upsampling factor (×100) — the two
    // numbers a mixture dataloader is configured with. All integer
    // arithmetic off one map-combined (source, token-count) aggregate;
    // everything after is sources-sized metadata. At 100 TB this is
    // the table a curation run publishes beside the corpus manifest.
    "x205_mix_rates" -> ((s, d) => {
      val avail = Tables.documents(s, d)
        .select(col("source"),
          size(graft.text.TextFunctions.tokens(col("text"))).cast("long")
            .as("ntok"))
        .groupBy("source").agg(sum("ntok").as("avail_tokens"))
      val ns = avail.agg(count(lit(1)).as("n_sources"))
      avail.crossJoin(broadcast(ns))
        .withColumn("target_tokens", expr("1000000 div n_sources"))
        .withColumn("rate_ppm",
          expr("least(1000000L, target_tokens * 1000000 div avail_tokens)"))
        .withColumn("upsample_x100",
          expr("CASE WHEN avail_tokens < target_tokens " +
               "THEN target_tokens * 100 div avail_tokens ELSE 100L END"))
        .select("source", "avail_tokens", "target_tokens", "rate_ppm",
          "upsample_x100")
        .orderBy("source")
    }),

    // X194: first-occurrence n-gram novelty — the x73/x66 family's
    // ordering-aware member: how much of each document's 5-gram mass
    // is NEW relative to everything earlier in the corpus (doc_id
    // order = ingest order)? first_doc = min(doc_id) per shingle — one
    // map-combined aggregate over the shingle plane — then each doc's
    // novel fraction in exact ppm. The curation read that separates
    // original content from recombination: boilerplate-heavy docs
    // score near 0 even when no single pairwise near-dup fires (the
    // signal x8's intra-doc repetition and x2's pairwise jaccard both
    // miss). Docs with < 5 tokens carry no shingles and are excluded
    // (stated). Scale: TWO map-combined aggregates and one DOC-keyed
    // join — n_novel(doc) = |{sh : min(doc_id over sh) = doc}| falls
    // straight out of re-grouping the per-shingle minima by their
    // winner, so the shingle-row-sized join back to the plane (the
    // first-draft form: 1.4 → 10.2 s at 10×) never happens; both
    // aggregate outputs are doc-count-sized.
    "x170_novelty" -> ((s, d) => {
      val sh5 = Dedup.docShingles(Tables.documents(s, d), n = 5)
      val novel = sh5.groupBy("sh").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
      sh5.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
        .join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty_ppm", expr("(n_novel * 1000000) div n_shingles"))
        .orderBy("doc_id")
    }),

    // X195: two-phase distributed top-k audit — the pattern every
    // heavy-hitters deployment actually runs (local top-m per shard,
    // merge, re-rank) has a quantifiable failure mode: a token just
    // below some shard's local cut loses that shard's mass. This row
    // AUDITS it against the exact x72-style global top-20: for each
    // true top-20 token, whether the m=5 two-phase candidate set
    // recalled it and how much count mass the local cuts dropped —
    // the read that SIZES m before anyone trusts local truncation at
    // 1000 shards. The local rank window is shard-partitioned
    // (bounded); the merge is candidate-sized (≤ shards·m rows);
    // the exact side is the x120 TakeOrdered shape. Mirrors the
    // sketch-audit discipline (x41/x72/x83): approximation gated
    // beside exact truth, verdict bits deterministic.
    "x172_local_topk_audit" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .withColumn("shard", expr("doc_id div 8"))
        .groupBy("shard", "tok").agg(count(lit(1)).as("cnt"))
        .cache()
      val localTop = counts.withColumn("rn", row_number().over(
          Window.partitionBy("shard").orderBy(desc("cnt"), col("tok"))))
        .filter(col("rn") <= 5)
      val candidate = localTop.groupBy("tok").agg(sum("cnt").as("partial_cnt"))
      val exact = counts.groupBy("tok").agg(sum("cnt").as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("tok")).limit(20)
      exact.join(candidate, Seq("tok"), "left")
        .select(col("tok"), col("exact_cnt"),
          coalesce(col("partial_cnt"), lit(0L)).as("partial_cnt"),
          col("partial_cnt").isNotNull.cast("int").as("recalled"),
          (col("exact_cnt") - coalesce(col("partial_cnt"), lit(0L)))
            .as("undercount"))
        .orderBy("tok")
    }),

    "x132_shard_blooms" -> ((s, d) => {
      import graft.util.Bloom
      // EAGER planes (r16): toks (tokenize+explode corpus pass) fed the
      // shard table AND the rare-term aggregate UNmaterialized (ran
      // twice per run), and st was a lazy .cache() feeding the bit
      // explode and the truth join concurrently (broadcast-build race).
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .distinct()
        .localCheckpoint(true)
      val st = toks.withColumn("shard", expr("doc_id div 8"))
        .select("shard", "tok").distinct().localCheckpoint(true)
      val bits = st.select(col("shard"),
          explode(array((0 until Bloom.NumHashes)
            .map(i => Bloom.bit(i, col("tok"))): _*)).as("bit"))
        .distinct()
      // probes = the 5 rarest vocabulary terms (df asc, ties by token)
      // — the lookup keys where skipping actually pays; common terms
      // would bloom-positive every shard, which is the honest answer,
      // not a filter failure
      val terms = toks.groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(col("df"), col("tok")).limit(5)
        .select(col("tok").as("term"))
      val probeBits = terms.select(col("term"),
        explode(array((0 until Bloom.NumHashes)
          .map(i => Bloom.bit(i, col("term"))): _*)).as("bit"))
      val maybe = bits.join(broadcast(probeBits), Seq("bit"))
        .groupBy("shard", "term").agg(count(lit(1)).as("kk"))
        .filter(col("kk") === Bloom.NumHashes)
        .groupBy("term").agg(count(lit(1)).as("n_maybe"))
      val truth = st.join(broadcast(terms), col("tok") === col("term"))
        .select("shard", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("n_true"))
      val totals = st.select("shard").distinct()
        .agg(count(lit(1)).as("n_shards_total"))
      maybe.join(truth, Seq("term"))
        .crossJoin(broadcast(totals))
        .select(col("term"), col("n_shards_total"), col("n_maybe"), col("n_true"),
          (col("n_maybe") - col("n_true")).as("n_false_pos"),
          expr("(n_shards_total - n_maybe) * 1000000 div n_shards_total")
            .as("skip_ppm"))
        .orderBy("term")
    }),

    // X127: z-order layout effectiveness — x48 computes the Morton key
    // and x122 showed single-dimension zone pruning; this one closes
    // the argument by MEASURING what the z-order layout buys
    // two-dimensional predicates. The same corpus is laid out twice
    // (64-row shards): sorted by the interleaved (len_bucket,
    // src_bucket) Morton key, and sorted by source alone; both get
    // min/max zone maps on BOTH dimensions, and every (source, length
    // ≥ L) predicate is costed from the zones alone. The source-sorted
    // layout can never prune the length dimension inside a source;
    // the z-order layout prunes both — the per-predicate row pair is
    // the measured delta a table-layout decision needs before anyone
    // rewrites 100 TB. Zone tables are file-count metadata; the
    // decision join is zones×predicates; ScalableRank keeps both
    // layout ranks window-free.
    "x127_zorder_zonemaps" -> ((s, d) => {
      import graft.util.{ScalableRank, ZOrder}
      // EAGER (r16; was a lazy .cache()): this per-doc metadata plane
      // feeds the key-base aggregate, the predicate dim, the matching
      // counts, and BOTH layout rank pipelines — five consumers whose
      // broadcast builds race a lazy cache (the x122 JobProbe finding).
      val docs = Tables.documents(s, d).select(col("doc_id"),
          expr("least(255, n_chars div 4)").cast("long").as("len_bucket"),
          (regexp_extract(col("source"), "([0-9]+)$", 1).cast("long") % 256)
            .as("src_bucket"))
        .localCheckpoint(true)
      val kb = docs.agg((max("doc_id") + 1).as("kb"))
      // two predicate families: (source AND length) — where the
      // source-sorted layout's strong dimension wins — and length-ONLY
      // (p_src = −1 sentinel) — where source-sorting prunes nothing and
      // z-order is the only layout that can skip. The output carries
      // both, so the measured answer covers the whole trade-off.
      val preds = docs.select(col("src_bucket").as("p_src")).distinct()
        .unionByName(s.range(1).select(lit(-1L).as("p_src")))
        .select(col("p_src"), explode(array(lit(64L), lit(100L))).as("len_min"))
      val matching = docs.groupBy(col("src_bucket").as("p_src"))
        .agg(sum(when(col("len_bucket") >= 64, 1L).otherwise(0L)).as("m64"),
          sum(when(col("len_bucket") >= 100, 1L).otherwise(0L)).as("m100"))
        .unionByName(docs.agg(
          sum(when(col("len_bucket") >= 64, 1L).otherwise(0L)).as("m64"),
          sum(when(col("len_bucket") >= 100, 1L).otherwise(0L)).as("m100"))
          .select(lit(-1L).as("p_src"), col("m64"), col("m100")))
      def layoutStats(tag: String, okey: org.apache.spark.sql.Column) = {
        val keyed = docs.crossJoin(broadcast(kb))
          .withColumn("okey", okey * col("kb") + col("doc_id"))
        val zones = ScalableRank.globalRowNumber(keyed, "okey", "rn")
          .withColumn("shard", expr("(rn - 1) div 64"))
          .groupBy("shard")
          .agg(min("len_bucket").as("lmin"), max("len_bucket").as("lmax"),
            min("src_bucket").as("smin"), max("src_bucket").as("smax"),
            count(lit(1)).as("n_rows"))
        val tot = zones.agg(count(lit(1)).as("n_shards_total"))
        zones.crossJoin(broadcast(preds))
          .withColumn("scanned",
            (col("p_src") === -1L
              || (col("smin") <= col("p_src") && col("p_src") <= col("smax")))
              && col("lmax") >= col("len_min"))
          .groupBy("p_src", "len_min")
          .agg(sum(when(col("scanned"), 1L).otherwise(0L)).as("n_shards_scanned"),
            sum(when(col("scanned"), col("n_rows")).otherwise(0L)).as("rows_scanned"))
          .crossJoin(broadcast(tot))
          .withColumn("layout", lit(tag))
      }
      layoutStats("zorder", ZOrder.zkey2(col("len_bucket"), col("src_bucket")))
        .unionByName(layoutStats("source", col("src_bucket")))
        .join(matching, Seq("p_src"))
        .select(col("layout"), col("p_src").as("src_bucket"), col("len_min"),
          col("n_shards_total"), col("n_shards_scanned"), col("rows_scanned"),
          when(col("len_min") === 64, col("m64")).otherwise(col("m100"))
            .as("rows_matching"))
        .orderBy("layout", "src_bucket", "len_min")
    }),

    // mapPartitions decode stub (per-partition codec-init shape) —
    // deterministic fake features. The feat vector explodes to one
    // scalar row per element so every column is hashable, and the
    // DuckDB oracle recomputes the per-frame byte statistics from the
    // hex encoding of the same payload — the "decode" is fully gated.
    "x15_mm_decode" -> ((s, d) =>
      Multimodal.decodeFeatures(Multimodal.asMedia(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("n_frames"),
          posexplode_outer(col("feat")).as(Seq("feat_idx", "val")))
        .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("feat_idx"))))

  /** The composite-pipeline oracles reuse the single-signal oracle SQL
    * as subqueries, so k7 is definitionally consistent with x7/x8/x25/
    * x17 — one source of truth per formula. */
  def oracles: Map[String, String] = {
    val b = baseOracles
    b + ("k7_curation_pipeline" ->
      s"""SELECT s7.doc_id, s7.lang_detected, s8.quality, s7.n_tokens,
                 s25.rep_ratio, cl.component, cl.is_keeper,
                 CAST((s7.lang_detected IN ('de', 'en', 'es', 'fr')
                       AND s8.quality >= 0.5
                       AND s7.n_tokens BETWEEN 20 AND 200
                       AND s25.rep_ratio <= 0.2
                       AND cl.is_keeper = 1) AS INT) AS keep
          FROM (${b("x7_lang_id")}) s7
          JOIN (${b("x8_quality_score")}) s8 USING (doc_id)
          JOIN (${b("x25_repetition")}) s25 USING (doc_id)
          JOIN (${b("x17_dedup_clusters")}) cl USING (doc_id)
          ORDER BY s7.doc_id""") +
    ("x77_quality_deciles" ->
      // the oracle states the SEMANTIC definition — global rank then
      // (rn−1)·10 div n — so the hash gate also proves TopFrac.tiles'
      // histogram refinement ≡ the single-sort definition
      s"""WITH q AS (SELECT s8.doc_id, CAST(round(s8.quality * 1000000) AS BIGINT) AS q_ppm
                     FROM (${b("x8_quality_score")}) s8),
          r AS (SELECT doc_id, q_ppm,
                       row_number() OVER (ORDER BY q_ppm DESC, doc_id) AS rn,
                       count(*) OVER () AS n
                FROM q),
          t AS (SELECT doc_id, q_ppm, CAST((rn - 1) * 10 // n AS INT) AS tile FROM r),
          fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
                 FROM documents),
          dup AS (SELECT f.doc_id, CAST(g.cnt > 1 AS BIGINT) AS is_dup
                  FROM fp f JOIN (SELECT fp, count(*) AS cnt FROM fp GROUP BY fp) g USING (fp)),
          j AS (SELECT t.tile, t.q_ppm, dup.is_dup, length(d.text) AS chars
                FROM t JOIN dup USING (doc_id) JOIN documents d USING (doc_id))
          SELECT tile, count(*) AS n_docs,
                 CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
                 CAST(SUM(q_ppm) // count(*) AS BIGINT) AS mean_q_ppm,
                 CAST(SUM(chars) // count(*) AS BIGINT) AS mean_chars
          FROM j GROUP BY tile ORDER BY tile""") +
    ("x52_quality_cut" ->
      s"""WITH q AS (SELECT s8.doc_id, d.lang,
                            CAST(round(s8.quality * 1000000) AS BIGINT) AS q_ppm
                     FROM (${b("x8_quality_score")}) s8 JOIN documents d USING (doc_id)),
          quota AS (SELECT lang, count(*) * $QualityKeepPpm // 1000000 AS quota FROM q GROUP BY 1),
          hist AS (SELECT lang, q_ppm // $QualityCoarseDiv AS cb, count(*) AS c FROM q GROUP BY 1, 2),
          cum AS (SELECT lang, cb, c,
                         CAST(SUM(c) OVER (PARTITION BY lang ORDER BY cb DESC) AS BIGINT) AS cum
                  FROM hist),
          dec AS (SELECT c.lang, c.cb, c.cum <= t.quota AS keep_full,
                         c.cum - c.c < t.quota AND c.cum > t.quota AS bnd,
                         t.quota - (c.cum - c.c) AS take_b
                  FROM cum c JOIN quota t USING (lang)),
          r AS (SELECT q.doc_id, q.lang, q.q_ppm, dec.keep_full, dec.bnd, dec.take_b
                FROM q JOIN dec ON q.lang = dec.lang AND q.q_ppm // $QualityCoarseDiv = dec.cb),
          bn AS (SELECT lang, doc_id,
                        row_number() OVER (PARTITION BY lang ORDER BY q_ppm DESC, doc_id) AS rn
                 FROM r WHERE bnd)
          SELECT r.doc_id, r.lang, r.q_ppm,
                 CAST(r.keep_full OR (bn.rn IS NOT NULL AND bn.rn <= r.take_b) AS INT) AS keep
          FROM r LEFT JOIN bn USING (lang, doc_id) ORDER BY r.doc_id""") +
    ("x117_quantile_norm" ->
      // both tilings stated as the naive global-sort ntile — the gate
      // proves groupTiles (per source) AND tiles (global) at once
      s"""WITH q AS (SELECT s8.doc_id, d.source,
                            CAST(round(s8.quality * 1000000) AS BIGINT) AS q_ppm
                     FROM (${b("x8_quality_score")}) s8 JOIN documents d USING (doc_id)),
          r AS (SELECT doc_id, source, q_ppm,
                       CAST((row_number() OVER (PARTITION BY source
                              ORDER BY q_ppm DESC, doc_id) - 1) * 100
                            // (count(*) OVER (PARTITION BY source)) AS INT) AS src_centile
                FROM q),
          g AS (SELECT q_ppm,
                       CAST((row_number() OVER (ORDER BY q_ppm DESC, doc_id) - 1) * 100
                            // (count(*) OVER ()) AS INT) AS gt
                FROM q),
          gb AS (SELECT gt, MAX(q_ppm) AS norm_q_ppm FROM g GROUP BY 1)
         SELECT r.doc_id, r.source, r.q_ppm, r.src_centile, gb.norm_q_ppm
         FROM r JOIN gb ON gb.gt = r.src_centile ORDER BY r.doc_id""")
  }

  private def baseOracles: Map[String, String] = Map(
    // keeper = global min doc_id per fingerprint (the x1 rule), priced
    // in tokens per source
    "x119_dedup_savings" ->
      s"""WITH ${tokCte},
          b AS (SELECT t.doc_id, d.source,
                       md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS fp,
                       CAST(len(t.t) AS BIGINT) AS n_tokens
                FROM tok t JOIN documents d USING (doc_id)),
          k AS (SELECT fp, MIN(doc_id) AS keeper_id FROM b GROUP BY 1)
         SELECT source, count(*) AS n_docs,
                CAST(SUM(CASE WHEN doc_id = keeper_id THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers,
                CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
                CAST(SUM(CASE WHEN doc_id = keeper_id THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
                CAST((SUM(n_tokens) - SUM(CASE WHEN doc_id = keeper_id THEN n_tokens ELSE 0 END))
                     * 1000000 // SUM(n_tokens) AS BIGINT) AS savings_ppm
         FROM b JOIN k USING (fp) GROUP BY source ORDER BY source""",
    // exact integer deviation ranking; per-cell contribution only —
    // never a float sum across cells
    "x120_indep_residuals" ->
      """WITH obs AS (SELECT lang, source, count(*) AS obs FROM documents GROUP BY 1, 2),
          rt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS lang_tot FROM obs GROUP BY 1),
          ct AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS src_tot FROM obs GROUP BY 1),
          t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n_total FROM obs),
          c AS (SELECT o.lang, o.source, o.obs, rt.lang_tot, ct.src_tot, t.n_total,
                       CAST(o.obs AS DECIMAL(38,0)) * t.n_total
                         - CAST(rt.lang_tot AS DECIMAL(38,0)) * ct.src_tot AS dev
                FROM obs o JOIN rt USING (lang) JOIN ct USING (source), t)
         SELECT lang, source, obs,
                CAST(CAST(lang_tot AS DECIMAL(38,0)) * src_tot * 1000000 // n_total AS BIGINT) AS exp_micro,
                CAST(abs(dev) AS BIGINT) AS abs_dev,
                (CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE))
                  / (CAST(n_total AS DOUBLE) * CAST(lang_tot AS DOUBLE) * CAST(src_tot AS DOUBLE)) AS contrib
         FROM c ORDER BY abs_dev DESC, lang, source LIMIT 15""",
    // the naive layout restated: a global row_number over the composite
    // sort key (the engine's ScalableRank is hash-proven ≡), then zone
    // maps and the scan decision from them alone
    "x122_zone_maps" ->
      """WITH si AS (SELECT source,
                CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS src_idx
              FROM (SELECT DISTINCT source FROM documents)),
          kb AS (SELECT max(doc_id) + 1 AS kb FROM documents),
          r AS (SELECT d.doc_id, d.source,
                       row_number() OVER (ORDER BY si.src_idx * kb.kb + d.doc_id) AS rn
                FROM documents d JOIN si USING (source), kb),
          sh AS (SELECT (rn - 1) // 256 AS shard, min(source) AS zmin,
                        max(source) AS zmax, count(*) AS n_rows
                 FROM r GROUP BY 1),
          srcs AS (SELECT DISTINCT source FROM documents),
          dec AS (SELECT s.source, sh.shard, sh.n_rows,
                         (sh.zmin <= s.source AND s.source <= sh.zmax) AS scanned
                  FROM srcs s CROSS JOIN sh),
          m AS (SELECT source, count(*) AS rows_matching FROM documents GROUP BY 1),
          t AS (SELECT count(*) AS n_shards_total,
                       CAST(SUM(n_rows) AS BIGINT) AS rows_total FROM sh)
         SELECT d.source, t.n_shards_total,
                CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT) AS n_shards_scanned,
                t.rows_total,
                CAST(SUM(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
                m.rows_matching,
                (t.rows_total - CAST(SUM(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT))
                  * 1000000 // t.rows_total AS skip_ppm
         FROM dec d JOIN m USING (source), t
         GROUP BY d.source, t.n_shards_total, t.rows_total, m.rows_matching
         ORDER BY d.source""",
    // the same md5-salted bit geometry replayed in nibble arithmetic
    // (x73's trick); probe-bit multiplicity preserved so duplicate bit
    // positions count like the engine's explode
    // the same all-integer rational BM25 (k1 = 6/5, b = 3/4, RSJ idf as
    // an exact rational), staged floors mirrored operation-for-operation
    "x167_bm25_topk" ->
      s"""WITH $tokCte,
          tfu AS (SELECT doc_id, unnest(t) AS tok FROM tok),
          tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tfu GROUP BY 1, 2),
          dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
          stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
          dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
          terms AS (SELECT tok, df FROM dfq WHERE df >= 5 ORDER BY df, tok LIMIT 5),
          scored AS (
            SELECT tf.doc_id,
                   ((44 * tf.tf * ((total_len * 1000) // n_docs) * 1000000)
                      // (20 * tf.tf * ((total_len * 1000) // n_docs)
                          + 6 * ((total_len * 1000) // n_docs) + 18000 * dl.dl)
                    * (((2 * n_docs - 2 * df + 1) * 1000000) // (2 * df + 1)))
                     // 1000000 AS contrib
            FROM tf JOIN terms USING (tok) JOIN dl USING (doc_id), stats)
          SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_ppm,
                 CAST(count(*) AS BIGINT) AS n_terms_hit
          FROM scored GROUP BY doc_id
          ORDER BY score_ppm DESC, doc_id LIMIT 10""",

    "x168_linkage_score" ->
      s"""WITH $simhashSelect,
          $linkageFeatCte,
          pairs AS (SELECT $linkageScoreSql AS score
            FROM feat a JOIN feat b
              ON a.lang = b.lang AND a.blk = b.blk
             AND b.rn - a.rn BETWEEN 1 AND 3),
          v AS (SELECT CASE WHEN score >= 4000 THEN 'match'
                            WHEN score >= 1000 THEN 'possible'
                            ELSE 'non_match' END AS verdict, score FROM pairs)
          SELECT verdict, CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(min(score) AS BIGINT) AS score_min,
                 CAST(max(score) AS BIGINT) AS score_max
          FROM v GROUP BY verdict ORDER BY verdict""",

    // the same half split, top-200 cut and ppm arithmetic, restated
    "x204_vocab_drift" ->
      """WITH t AS (SELECT doc_id,
                           unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                    FROM documents),
              h AS (SELECT CASE WHEN doc_id * 2 <= (SELECT max(doc_id) FROM documents)
                                THEN 'a' ELSE 'b' END AS half, tok
                    FROM t),
              tot AS (SELECT CAST(SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
                             CAST(SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb
                      FROM h),
              top AS (SELECT tok FROM (
                        SELECT tok, count(*) AS c FROM h GROUP BY 1
                        ORDER BY c DESC, tok LIMIT 200)),
              c AS (SELECT half, tok, count(*) AS cnt FROM h
                    WHERE tok IN (SELECT tok FROM top) GROUP BY 1, 2),
              p AS (SELECT top.tok,
                           COALESCE((SELECT cnt FROM c WHERE c.half = 'a' AND c.tok = top.tok), 0)
                             * 1000000 // (SELECT na FROM tot) AS ppm_early,
                           COALESCE((SELECT cnt FROM c WHERE c.half = 'b' AND c.tok = top.tok), 0)
                             * 1000000 // (SELECT nb FROM tot) AS ppm_late
                    FROM top)
         SELECT tok, CAST(ppm_early AS BIGINT) AS ppm_early,
                CAST(ppm_late AS BIGINT) AS ppm_late,
                CAST(abs(ppm_early - ppm_late) AS BIGINT) AS delta_ppm
         FROM p ORDER BY delta_ppm DESC, tok LIMIT 20""",

    // per-dim fixed-point means with the sign-normalized integer
    // division (Spark div truncates, DuckDB // floors)
    "x210_embedding_drift" ->
      """WITH e AS (SELECT vec_id,
                           CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q,
                           unnest(generate_series(1, len(embedding))) AS dim
                    FROM embeddings),
              h AS (SELECT CASE WHEN vec_id * 2 <= (SELECT max(vec_id) FROM embeddings)
                                THEN 'a' ELSE 'b' END AS half, dim, q
                    FROM e),
              g AS (SELECT dim,
                           SUM(CASE WHEN half = 'a' THEN q END) AS sa,
                           SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS na,
                           SUM(CASE WHEN half = 'b' THEN q END) AS sb,
                           SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS nb
                    FROM h GROUP BY 1),
              m AS (SELECT dim,
                           CASE WHEN sa >= 0 THEN sa // na ELSE -((-sa) // na) END AS mean_a_micro,
                           CASE WHEN sb >= 0 THEN sb // nb ELSE -((-sb) // nb) END AS mean_b_micro
                    FROM g)
         SELECT CAST(dim AS BIGINT) AS dim,
                CAST(mean_a_micro AS BIGINT) AS mean_a_micro,
                CAST(mean_b_micro AS BIGINT) AS mean_b_micro,
                CAST(abs(mean_a_micro - mean_b_micro) AS BIGINT) AS drift_micro
         FROM m ORDER BY dim""",

    // exact char-grain diversity: per-char counts via generate_series
    // + substring (dialect-safe char split), all-integer ppm
    "x211_char_stats" ->
      """WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
                      FROM documents),
              ch AS (SELECT doc_id, substring(text, i, 1) AS ch FROM pos),
              per AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
              agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, count(*) AS nd,
                             CAST(SUM(c * (c - 1)) AS BIGINT) AS coll,
                             CAST(MAX(c) AS BIGINT) AS topc
                      FROM per GROUP BY 1)
         SELECT d.doc_id,
                COALESCE(a.n, 0) AS n_chars,
                COALESCE(a.nd, 0) AS n_distinct_chars,
                CAST(CASE WHEN a.n >= 2
                          THEN CAST(a.coll AS HUGEINT) * 1000000 // (a.n * (a.n - 1))
                          ELSE 0 END AS BIGINT) AS collision_ppm,
                CAST(CASE WHEN a.n >= 1
                          THEN CAST(a.topc AS HUGEINT) * 1000000 // a.n
                          ELSE 0 END AS BIGINT) AS top_char_ppm,
                CAST(CASE WHEN COALESCE(a.nd, 0) >= 5
                           AND (CASE WHEN a.n >= 2
                                     THEN CAST(a.coll AS HUGEINT) * 1000000 // (a.n * (a.n - 1))
                                     ELSE 0 END) < 250000
                          THEN 1 ELSE 0 END AS INT) AS keep
         FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""",

    // rank intervals from the (f, #types) histogram, split across
    // power-of-2 bucket boundaries — the same exact overlap arithmetic
    // as CorpusStats.zipfProfile
    "x212_zipf_profile" ->
      s"""WITH $tokCte,
              ex AS (SELECT unnest(t) AS tok FROM tok),
              tf AS (SELECT tok, count(*) AS f FROM ex WHERE tok <> '' GROUP BY 1),
              ff AS (SELECT f, count(*) AS m FROM tf GROUP BY 1),
              iv AS (SELECT f, m, SUM(m) OVER (ORDER BY f DESC) AS hi_rank FROM ff),
              iv2 AS (SELECT f, hi_rank - m + 1 AS lo_rank, hi_rank FROM iv),
              bk AS (SELECT f, lo_rank, hi_rank, b AS bucket,
                            (CAST(1 AS BIGINT) << b) AS blo,
                            (CAST(1 AS BIGINT) << (b + 1)) - 1 AS bhi
                     FROM iv2 CROSS JOIN generate_series(0, 39) AS g(b)),
              ov AS (SELECT bucket, f,
                            least(hi_rank, bhi) - greatest(lo_rank, blo) + 1 AS ov
                     FROM bk
                     WHERE least(hi_rank, bhi) - greatest(lo_rank, blo) + 1 > 0),
              per AS (SELECT bucket, CAST(SUM(ov) AS BIGINT) AS n_types,
                             CAST(SUM(ov * f) AS BIGINT) AS sum_tokens
                      FROM ov GROUP BY 1),
              cm AS (SELECT bucket, n_types, sum_tokens,
                            SUM(sum_tokens) OVER (ORDER BY bucket) AS cum,
                            SUM(sum_tokens) OVER () AS grand
                     FROM per)
         SELECT CAST(bucket AS INT) AS bucket,
                CAST(CAST(1 AS BIGINT) << bucket AS BIGINT) AS rank_lo,
                n_types, sum_tokens,
                CAST(CAST(cum AS HUGEINT) * 1000000 // CAST(grand AS HUGEINT) AS BIGINT) AS coverage_ppm
         FROM cm ORDER BY bucket""",

    // symmetric duplicated-shingle exposure off the shared distinct
    // (doc_id, shingle) plane; df >= 2 = "occurs in another doc"
    "x213_dup_exposure" ->
      s"""WITH $shingleCte,
              dfq AS (SELECT sh AS s2, count(*) AS df FROM sh GROUP BY 1),
              per AS (SELECT doc_id, count(*) AS n_shingles,
                             CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
                      FROM sh JOIN dfq ON sh.sh = dfq.s2 GROUP BY 1)
         SELECT d.doc_id,
                COALESCE(p.n_shingles, 0) AS n_shingles,
                COALESCE(p.n_shared, 0) AS n_shared,
                CAST(CASE WHEN p.n_shingles >= 1
                          THEN CAST(p.n_shared AS HUGEINT) * 1000000 // p.n_shingles
                          ELSE 0 END AS BIGINT) AS shared_ppm
         FROM documents d LEFT JOIN per p USING (doc_id) ORDER BY d.doc_id""",

    // x210's quantization, second moment: non-negative integer
    // numerator so floor ≡ truncate; mean keeps the sign-safe form
    "x214_dim_variance" ->
      """WITH e AS (SELECT CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q,
                           unnest(generate_series(1, len(embedding))) AS dim
                    FROM embeddings),
              g AS (SELECT dim, count(*) AS n,
                           SUM(CAST(q AS HUGEINT)) AS sq,
                           SUM(CAST(q AS HUGEINT) * q) AS sq2
                    FROM e GROUP BY 1)
         SELECT CAST(dim AS BIGINT) AS dim, n,
                CAST(CASE WHEN sq >= 0 THEN sq // n ELSE -((-sq) // n) END AS BIGINT) AS mean_micro,
                CAST((n * sq2 - sq * sq) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_micro2,
                CAST(CASE WHEN (n * sq2 - sq * sq) // (CAST(n AS HUGEINT) * n) < 1000000
                          THEN 1 ELSE 0 END AS INT) AS dead
         FROM g ORDER BY dim""",

    // planted clone sets (cross-source + within-source) over the same
    // normalized fingerprint as x1/x119; keepers = min doc_id at each
    // scope
    "x215_dedup_scope" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
              pl AS (SELECT doc_id + (SELECT m FROM mx) + 1 AS doc_id, text,
                            'clone_src' AS source
                     FROM documents WHERE doc_id % 25 = 0
                     UNION ALL
                     SELECT doc_id + ((SELECT m FROM mx) + 1) * 2, text, source
                     FROM documents WHERE doc_id % 40 = 0),
              u AS (SELECT doc_id, text, source FROM documents
                    UNION ALL SELECT doc_id, text, source FROM pl),
              b AS (SELECT doc_id, source,
                           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
                    FROM u),
              g AS (SELECT fp, MIN(doc_id) AS gk FROM b GROUP BY 1),
              w AS (SELECT fp, source, MIN(doc_id) AS sk FROM b GROUP BY 1, 2)
         SELECT b.source, count(*) AS n_docs,
                CAST(SUM(CASE WHEN b.doc_id <> g.gk THEN 1 ELSE 0 END) AS BIGINT) AS dup_global,
                CAST(SUM(CASE WHEN b.doc_id <> w.sk THEN 1 ELSE 0 END) AS BIGINT) AS dup_within,
                CAST(SUM(CASE WHEN b.doc_id <> g.gk THEN 1 ELSE 0 END)
                     - SUM(CASE WHEN b.doc_id <> w.sk THEN 1 ELSE 0 END) AS BIGINT) AS cross_gain
         FROM b JOIN g USING (fp) JOIN w ON w.fp = b.fp AND w.source = b.source
         GROUP BY b.source ORDER BY b.source""",

    // x60's span CTEs (df>1 flag → island merge → [min, max+2]) applied
    // back to the 1-based token table as a NOT EXISTS range probe;
    // rebuild via ordered string_agg
    "x216_span_excise" ->
      s"""WITH $posShingleCte,
              dup AS (SELECT sh FROM (SELECT sh, count(*) AS df
                                      FROM (SELECT DISTINCT doc_id, sh FROM shp) GROUP BY sh)
                      WHERE df > 1),
              fl AS (SELECT doc_id, i FROM shp JOIN dup USING (sh)),
              brks AS (SELECT doc_id, i,
                              CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 3
                                   THEN 0 ELSE 1 END AS brk
                       FROM fl),
              isl AS (SELECT doc_id, i,
                             SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
                      FROM brks),
              spans AS (SELECT doc_id, min(i) AS s, max(i) + 2 AS e
                        FROM isl GROUP BY doc_id, island),
              tk AS (SELECT doc_id, i AS p, t[i] AS tok
                     FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM tok)
                     WHERE t[i] <> ''),
              kept AS (SELECT doc_id, p, tok FROM tk
                       WHERE NOT EXISTS (SELECT 1 FROM spans s
                                         WHERE s.doc_id = tk.doc_id
                                           AND tk.p BETWEEN s.s AND s.e)),
              rb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                            count(*) AS n_kept
                     FROM kept GROUP BY 1),
              tt AS (SELECT doc_id, count(*) AS n_tokens FROM tk GROUP BY 1)
         SELECT d.doc_id,
                COALESCE(rb.clean_text, '') AS clean_text,
                CAST(COALESCE(tt.n_tokens, 0) AS BIGINT) AS n_tokens,
                CAST(COALESCE(tt.n_tokens, 0) - COALESCE(rb.n_kept, 0) AS BIGINT) AS n_removed
         FROM documents d LEFT JOIN tt USING (doc_id) LEFT JOIN rb USING (doc_id)
         ORDER BY d.doc_id""",

    // exact-rank shard assignment over the composite (cents, orderkey)
    // key; zone map + strict-boundary flag per shard
    "x217_sorted_shards" ->
      """WITH r AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS k,
                           row_number() OVER (ORDER BY
                             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000000
                               + o_orderkey) AS rn,
                           count(*) OVER () AS n
                    FROM orders),
              sh AS (SELECT (rn - 1) // ((n + 31) // 32) AS shard_id, k FROM r),
              z AS (SELECT shard_id, count(*) AS n_rows,
                           min(k) AS min_key, max(k) AS max_key
                    FROM sh GROUP BY 1)
         SELECT CAST(shard_id AS BIGINT) AS shard_id, n_rows, min_key, max_key,
                CAST(CASE WHEN COALESCE(lag(max_key) OVER (ORDER BY shard_id),
                                        -9223372036854775808) < min_key
                          THEN 1 ELSE 0 END AS INT) AS clean_cut
         FROM z ORDER BY shard_id""",

    // the same q = round(v·1e6) quantization as every dot oracle;
    // buckets are 1e11 micro² = 0.1 of a unit norm²
    "x219_norm_audit" ->
      """WITH e AS (SELECT vec_id,
                           CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
                    FROM embeddings),
              nv AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nsq FROM e GROUP BY 1),
              b AS (SELECT nsq // 100000000000 AS bucket, nsq FROM nv)
         SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_vecs,
                min(nsq) AS min_nsq, max(nsq) AS max_nsq,
                CAST(CASE WHEN bucket < 9 OR bucket >= 11 THEN 1 ELSE 0 END AS INT) AS off_unit
         FROM b GROUP BY bucket ORDER BY bucket""",

    // x217's rank CTE over the %13-filtered base, then the delta routed
    // by zone-map upper bound (min matching shard, last-shard overflow)
    "x218_shard_routing" ->
      """WITH r AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS k,
                           row_number() OVER (ORDER BY
                             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000000
                               + o_orderkey) AS rn,
                           count(*) OVER () AS n
                    FROM orders WHERE o_orderkey % 13 <> 0),
              sh AS (SELECT (rn - 1) // ((n + 31) // 32) AS shard_id, k FROM r),
              z AS (SELECT shard_id, count(*) AS n_rows, max(k) AS max_key
                    FROM sh GROUP BY 1),
              d AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS k,
                           o_orderkey
                    FROM orders WHERE o_orderkey % 13 = 0),
              mt AS (SELECT d.k, d.o_orderkey, min(z.shard_id) AS sid
                     FROM d LEFT JOIN z ON z.max_key >= d.k GROUP BY 1, 2),
              rt AS (SELECT COALESCE(sid, (SELECT max(shard_id) FROM z)) AS shard_id,
                            count(*) AS n_delta
                     FROM mt GROUP BY 1)
         SELECT CAST(z.shard_id AS BIGINT) AS shard_id, z.n_rows,
                CAST(COALESCE(rt.n_delta, 0) AS BIGINT) AS n_delta,
                CAST(CAST(COALESCE(rt.n_delta, 0) AS HUGEINT) * 1000000 // z.n_rows AS BIGINT) AS delta_ppm,
                CAST(CASE WHEN CAST(COALESCE(rt.n_delta, 0) AS HUGEINT) * 1000000 // z.n_rows > 80000
                          THEN 1 ELSE 0 END AS INT) AS rewrite
         FROM z LEFT JOIN rt ON rt.shard_id = z.shard_id
         ORDER BY z.shard_id""",

    // uniform mix policy: target = budget div n_sources, rate capped
    // at 1e6 ppm, upsampling factor where the source is short
    "x205_mix_rates" ->
      """WITH a AS (SELECT source,
                           CAST(SUM(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT)
                             AS avail_tokens
                    FROM documents GROUP BY 1),
              n AS (SELECT count(*) AS n_sources FROM a)
         SELECT source, avail_tokens,
                CAST(1000000 // (SELECT n_sources FROM n) AS BIGINT) AS target_tokens,
                CAST(least(1000000,
                     (1000000 // (SELECT n_sources FROM n)) * 1000000 // avail_tokens)
                  AS BIGINT) AS rate_ppm,
                CAST(CASE WHEN avail_tokens < 1000000 // (SELECT n_sources FROM n)
                          THEN (1000000 // (SELECT n_sources FROM n)) * 100 // avail_tokens
                          ELSE 100 END AS BIGINT) AS upsample_x100
         FROM a ORDER BY source""",

    // same features, candidate plane and comparator weights as x168;
    // truth = all same-lang pairs within the 1-in-4 doc sample at the
    // match threshold
    "x202_blocking_recall" ->
      s"""WITH $simhashSelect,
          $linkageFeatCte,
          cand AS (SELECT DISTINCT a.lang,
                          least(a.doc_id, b.doc_id) AS lo,
                          greatest(a.doc_id, b.doc_id) AS hi
                   FROM feat a JOIN feat b
                     ON a.lang = b.lang AND a.blk = b.blk
                    AND b.rn - a.rn BETWEEN 1 AND 3),
          truth AS (SELECT a.lang, a.doc_id AS lo, b.doc_id AS hi
                    FROM feat a JOIN feat b
                      ON a.lang = b.lang AND a.doc_id < b.doc_id
                     AND a.doc_id % 4 = 0 AND b.doc_id % 4 = 0
                    WHERE $linkageScoreSql >= 4000),
          h AS (SELECT t.lang, count(*) AS n_hit
                FROM truth t JOIN cand c
                  ON t.lang = c.lang AND t.lo = c.lo AND t.hi = c.hi
                GROUP BY 1),
          tl AS (SELECT lang, count(*) AS n_true FROM truth GROUP BY 1),
          cl AS (SELECT lang, count(*) AS n_cand_full FROM cand GROUP BY 1)
          SELECT tl.lang, CAST(n_true AS BIGINT) AS n_true,
                 CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
                 CAST(COALESCE(n_hit, 0) * 1000000 // n_true AS BIGINT) AS recall_ppm,
                 CAST(COALESCE(n_cand_full, 0) AS BIGINT) AS n_cand_full
          FROM tl LEFT JOIN h USING (lang) LEFT JOIN cl USING (lang)
          ORDER BY lang""",

    "x170_novelty" ->
      s"""WITH $tokCte,
          xg AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-4)) AS i
                 FROM tok WHERE len(t) >= 5),
          sh5 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh FROM xg),
          nv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel FROM
                   (SELECT min(doc_id) AS doc_id FROM sh5 GROUP BY sh)
                 GROUP BY doc_id),
          ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
                 FROM sh5 GROUP BY doc_id)
          SELECT ns.doc_id, ns.n_shingles,
                 COALESCE(nv.n_novel, CAST(0 AS BIGINT)) AS n_novel,
                 (COALESCE(nv.n_novel, CAST(0 AS BIGINT)) * 1000000) // ns.n_shingles
                   AS novelty_ppm
          FROM ns LEFT JOIN nv USING (doc_id) ORDER BY ns.doc_id""",

    "x172_local_topk_audit" ->
      s"""WITH $tokCte,
          tfu AS (SELECT doc_id, unnest(t) AS tok FROM tok),
          counts AS (SELECT doc_id // 8 AS shard, tok,
                            CAST(count(*) AS BIGINT) AS cnt
                     FROM tfu GROUP BY 1, 2),
          lt AS (SELECT shard, tok, cnt FROM
                  (SELECT *, row_number() OVER (PARTITION BY shard
                     ORDER BY cnt DESC, tok) AS rn FROM counts)
                 WHERE rn <= 5),
          cand AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS partial_cnt
                   FROM lt GROUP BY tok),
          ex AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS exact_cnt
                 FROM counts GROUP BY tok
                 ORDER BY exact_cnt DESC, tok LIMIT 20)
          SELECT e.tok, e.exact_cnt,
                 COALESCE(c.partial_cnt, CAST(0 AS BIGINT)) AS partial_cnt,
                 CAST(CASE WHEN c.partial_cnt IS NOT NULL THEN 1 ELSE 0 END AS INT)
                   AS recalled,
                 e.exact_cnt - COALESCE(c.partial_cnt, CAST(0 AS BIGINT)) AS undercount
          FROM ex e LEFT JOIN cand c USING (tok) ORDER BY e.tok""",

    "x132_shard_blooms" -> {
      val hexv = "strpos('0123456789abcdef', substring(md5(%s), %d, 1)) - 1"
      def bitExpr(salt: Int, keySql: String) = {
        val key = s"'bf$salt|' || $keySql"
        s"(${hexv.format(key, 1)}) * 4096 + (${hexv.format(key, 2)}) * 256 + " +
          s"(${hexv.format(key, 3)}) * 16 + (${hexv.format(key, 4)})"
      }
      val shardBitUnion = (0 until graft.util.Bloom.NumHashes)
        .map(i => s"SELECT shard, ${bitExpr(i, "tok")} AS bit FROM st")
        .mkString("\n                 UNION ALL ")
      val probeBitUnion = (0 until graft.util.Bloom.NumHashes)
        .map(i => s"SELECT term, ${bitExpr(i, "term")} AS bit FROM terms")
        .mkString("\n                 UNION ALL ")
      s"""WITH $tokCte,
          tk AS (SELECT DISTINCT doc_id, tok
                 FROM (SELECT doc_id, unnest(t) AS tok FROM tok)),
          st AS (SELECT DISTINCT doc_id // 8 AS shard, tok FROM tk),
          terms AS (SELECT tok AS term FROM (SELECT tok, count(*) AS df FROM tk
                    GROUP BY tok ORDER BY df ASC, tok LIMIT 5)),
          bits AS (SELECT DISTINCT shard, bit FROM ($shardBitUnion)),
          pb AS ($probeBitUnion),
          mb AS (SELECT term, count(*) AS n_maybe FROM (
                   SELECT b.shard, p.term FROM bits b JOIN pb p USING (bit)
                   GROUP BY b.shard, p.term
                   HAVING count(*) = ${graft.util.Bloom.NumHashes})
                 GROUP BY term),
          tr AS (SELECT term, CAST(count(DISTINCT shard) AS BIGINT) AS n_true
                 FROM st JOIN terms ON st.tok = terms.term GROUP BY term),
          tot AS (SELECT CAST(count(DISTINCT shard) AS BIGINT) AS n_shards_total
                  FROM st)
          SELECT term, tot.n_shards_total, mb.n_maybe, tr.n_true,
                 mb.n_maybe - tr.n_true AS n_false_pos,
                 (tot.n_shards_total - mb.n_maybe) * 1000000 // tot.n_shards_total
                   AS skip_ppm
          FROM mb JOIN tr USING (term), tot ORDER BY term"""
    },
    // both top-5s replayed with the x11 ranking (cos DESC, vb) over
    // the same 1-in-4 corpus sample; the prefix side re-derives ITS
    // OWN norms over the leading dims
    "x147_matryoshka" ->
      s"""WITH $embCte,
          ep AS (SELECT vec_id, q, pos FROM e WHERE pos <= $MatryoshkaPrefix),
          normsp AS (SELECT vec_id, CAST(SUM(q * q) AS DOUBLE) AS nsq FROM ep GROUP BY vec_id),
          df AS (SELECT a.vec_id AS qid, b.vec_id AS vb, SUM(a.q * b.q) AS dot
                 FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id <> b.vec_id
                 WHERE a.vec_id < 10 AND b.vec_id % 4 = 0 GROUP BY 1, 2),
          rf AS (SELECT qid, vb FROM
                  (SELECT qid, vb, row_number() OVER (PARTITION BY qid
                     ORDER BY CAST(dot AS DOUBLE) / sqrt(x.nsq * y.nsq) DESC, vb) AS rank
                   FROM df JOIN norms x ON x.vec_id = qid JOIN norms y ON y.vec_id = vb)
                 WHERE rank <= 5),
          dp AS (SELECT a.vec_id AS qid, b.vec_id AS vb, SUM(a.q * b.q) AS dot
                 FROM ep a JOIN ep b ON a.pos = b.pos AND a.vec_id <> b.vec_id
                 WHERE a.vec_id < 10 AND b.vec_id % 4 = 0 GROUP BY 1, 2),
          rp AS (SELECT qid, vb FROM
                  (SELECT qid, vb, row_number() OVER (PARTITION BY qid
                     ORDER BY CAST(dot AS DOUBLE) / sqrt(x.nsq * y.nsq) DESC, vb) AS rank
                   FROM dp JOIN normsp x ON x.vec_id = qid JOIN normsp y ON y.vec_id = vb)
                 WHERE rank <= 5),
          ov AS (SELECT f.qid, CAST(COUNT(*) AS BIGINT) AS n
                 FROM rf f JOIN rp p ON f.qid = p.qid AND f.vb = p.vb GROUP BY 1)
          SELECT q.qid,
                 COALESCE(ov.n, 0) AS n_overlap,
                 COALESCE(ov.n, 0) * 20 AS recall_pct
          FROM (SELECT DISTINCT qid FROM rf) q LEFT JOIN ov USING (qid)
          ORDER BY q.qid""",

    // the naive form: full sort by the same all-integer priority (the
    // engine's TakeOrdered top-k is hash-proven ≡)
    "x137_weighted_sample" ->
      s"""WITH $tokCte,
          w AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS w FROM tok WHERE len(t) > 0),
          h AS (SELECT doc_id, w,
                       CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1 AS h
                FROM w),
          p AS (SELECT doc_id, w, (w * 4294967296) // h AS pri FROM h)
          SELECT doc_id, w, pri
          FROM (SELECT * FROM p ORDER BY pri DESC, doc_id LIMIT $SampleTopK)
          ORDER BY doc_id""",
    // the naive weight line: one global window cumsum in md5-shuffle
    // order (the engine's two-phase prefix sum is hash-proven ≡); the
    // stride test is the same all-integer expression
    "x129_pps_sample" ->
      s"""WITH $tokCte,
          w AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS w,
                       md5(CAST(doc_id AS VARCHAR)) AS sk
                FROM tok WHERE len(t) > 0),
          c AS (SELECT doc_id, w,
                       CAST(SUM(w) OVER (ORDER BY sk ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
                FROM w),
          t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w),
          p AS (SELECT doc_id, w, cum_end - w AS cum_start, cum_end,
                       greatest(tw // $PpsSampleN, 1) AS step,
                       greatest(tw // $PpsSampleN, 1) // 2 AS off
                FROM c, t)
          SELECT doc_id, w, cum_start,
                 (cum_end + step - off - 1) // step
                   - (cum_start + step - off - 1) // step AS n_hits
          FROM p
          WHERE (cum_end + step - off - 1) // step
                  - (cum_start + step - off - 1) // step > 0
          ORDER BY doc_id""",
    // three peel rounds unrolled on the verified pair set, then the
    // final core degrees — mirrors Dedup.kcorePeel exactly
    "x131_kcore" ->
      s"""WITH $minhashCte,
          $minhashCandCte,
          $jaccardVerifyCte,
          -- MATERIALIZED: DuckDB inlines CTEs, so without it each peel
          -- round re-evaluates the whole minhash chain exponentially —
          -- the SQL mirror of the engine-side localCheckpoint
          und AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM verified
                  UNION ALL SELECT doc_b, doc_a FROM verified),
          n0 AS (SELECT DISTINCT src AS doc_id FROM und),
          a1 AS MATERIALIZED (SELECT src AS doc_id FROM und
                 GROUP BY src HAVING count(*) >= 2),
          a2 AS MATERIALIZED (SELECT u.src AS doc_id FROM und u
                 JOIN a1 x ON u.src = x.doc_id JOIN a1 y ON u.dst = y.doc_id
                 GROUP BY u.src HAVING count(*) >= 2),
          a3 AS MATERIALIZED (SELECT u.src AS doc_id FROM und u
                 JOIN a2 x ON u.src = x.doc_id JOIN a2 y ON u.dst = y.doc_id
                 GROUP BY u.src HAVING count(*) >= 2),
          cd AS (SELECT u.src AS doc_id, count(*) AS core_deg FROM und u
                 JOIN a3 x ON u.src = x.doc_id JOIN a3 y ON u.dst = y.doc_id
                 GROUP BY u.src)
          SELECT n0.doc_id,
                 CAST(a3.doc_id IS NOT NULL AS INT) AS in_core,
                 COALESCE(cd.core_deg, CAST(0 AS BIGINT)) AS core_deg
          FROM n0 LEFT JOIN a3 USING (doc_id) LEFT JOIN cd USING (doc_id)
          ORDER BY n0.doc_id""",
    // both layouts restated with naive global row_numbers; the scan
    // decision is computed from the zones alone, exactly as the engine
    // does
    "x127_zorder_zonemaps" ->
      s"""WITH b AS (SELECT doc_id,
              least(255, n_chars // 4) AS len_bucket,
              CAST(regexp_extract(source, '([0-9]+)$$', 1) AS BIGINT) % 256 AS src_bucket
            FROM documents),
          kb AS (SELECT max(doc_id) + 1 AS kb FROM b),
          rz AS (SELECT doc_id, len_bucket, src_bucket,
                        row_number() OVER (ORDER BY
                          ${graft.util.ZOrder.zkey2Sql("len_bucket", "src_bucket")}
                            * kb.kb + doc_id) AS rn
                 FROM b, kb),
          rs AS (SELECT doc_id, len_bucket, src_bucket,
                        row_number() OVER (ORDER BY src_bucket * kb.kb + doc_id) AS rn
                 FROM b, kb),
          zones AS (
            SELECT 'zorder' AS layout, (rn - 1) // 64 AS shard,
                   min(len_bucket) AS lmin, max(len_bucket) AS lmax,
                   min(src_bucket) AS smin, max(src_bucket) AS smax,
                   count(*) AS n_rows
            FROM rz GROUP BY 1, 2
            UNION ALL
            SELECT 'source', (rn - 1) // 64,
                   min(len_bucket), max(len_bucket),
                   min(src_bucket), max(src_bucket), count(*)
            FROM rs GROUP BY 1, 2),
          tot AS (SELECT layout, count(*) AS n_shards_total FROM zones GROUP BY 1),
          preds AS (SELECT p_src, lm.len_min
                    FROM (SELECT DISTINCT src_bucket AS p_src FROM b
                          UNION ALL SELECT CAST(-1 AS BIGINT)) s,
                         (VALUES (CAST(64 AS BIGINT)), (CAST(100 AS BIGINT))) lm(len_min)),
          dec AS (SELECT z.layout, p.p_src, p.len_min, z.n_rows,
                         ((p.p_src = -1 OR (z.smin <= p.p_src AND p.p_src <= z.smax))
                          AND z.lmax >= p.len_min) AS scanned
                  FROM zones z CROSS JOIN preds p),
          agg AS (SELECT layout, p_src, len_min,
                         CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT) AS n_shards_scanned,
                         CAST(SUM(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
                  FROM dec GROUP BY 1, 2, 3),
          m AS (SELECT src_bucket AS p_src,
                       CAST(SUM(CASE WHEN len_bucket >= 64 THEN 1 ELSE 0 END) AS BIGINT) AS m64,
                       CAST(SUM(CASE WHEN len_bucket >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS m100
                FROM b GROUP BY 1
                UNION ALL
                SELECT CAST(-1 AS BIGINT),
                       CAST(SUM(CASE WHEN len_bucket >= 64 THEN 1 ELSE 0 END) AS BIGINT),
                       CAST(SUM(CASE WHEN len_bucket >= 100 THEN 1 ELSE 0 END) AS BIGINT)
                FROM b)
          SELECT a.layout, a.p_src AS src_bucket, a.len_min,
                 t.n_shards_total, a.n_shards_scanned, a.rows_scanned,
                 CASE WHEN a.len_min = 64 THEN m.m64 ELSE m.m100 END AS rows_matching
          FROM agg a JOIN tot t USING (layout) JOIN m USING (p_src)
          ORDER BY a.layout, src_bucket, a.len_min""",
    // the ordered two-path wedge closed by the third edge, restated on
    // the verified pair set
    "x123_triangles" ->
      s"""WITH $minhashCte,
          $minhashCandCte,
          $jaccardVerifyCte,
          e AS (SELECT doc_a, doc_b FROM verified),
          tri AS (SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
                  FROM e ab JOIN e bc ON ab.doc_b = bc.doc_a
                            JOIN e ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b),
          pn AS (SELECT doc_id, count(*) AS n_triangles FROM (
                   SELECT a AS doc_id FROM tri
                   UNION ALL SELECT b FROM tri
                   UNION ALL SELECT c FROM tri)
                 GROUP BY 1),
          deg AS (SELECT doc_id, count(*) AS degree FROM (
                   SELECT doc_a AS doc_id FROM e
                   UNION ALL SELECT doc_b FROM e) GROUP BY 1)
          SELECT deg.doc_id, deg.degree,
                 COALESCE(pn.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
                 CAST(CASE WHEN deg.degree >= 2
                      THEN COALESCE(pn.n_triangles, 0) * 2000000
                             // (deg.degree * (deg.degree - 1))
                      ELSE 0 END AS BIGINT) AS clustering_ppm
          FROM deg LEFT JOIN pn USING (doc_id) ORDER BY deg.doc_id""",
    // exact fixed-point moments; the two divisions are the only doubles
    "x124_dim_stats" ->
      s"""WITH $embCte
          SELECT pos, count(*) AS n, min(q) AS min_q, max(q) AS max_q,
                 CAST(CAST(SUM(q) AS DECIMAL(38,0)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_q,
                 CAST(CAST(count(*) AS DECIMAL(38,0)) * CAST(SUM(q * q) AS DECIMAL(38,0))
                      - CAST(SUM(q) AS DECIMAL(38,0)) * CAST(SUM(q) AS DECIMAL(38,0)) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS var_q
          FROM e GROUP BY pos ORDER BY pos""",
    // the dense grid restated: every source's ECDF evaluated at every
    // global step; sup over exact integer cross-products, ONE division
    "x113_ks_drift" ->
      """WITH c AS (SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
          g AS (SELECT n_chars, SUM(c) AS cg FROM c GROUP BY 1),
          gc AS (SELECT n_chars, CAST(SUM(cg) OVER (ORDER BY n_chars
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g FROM g),
          t AS (SELECT CAST(SUM(cg) AS BIGINT) AS n_total FROM g),
          st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src FROM c GROUP BY 1),
          dense AS (SELECT st.source, st.n_src, gc.n_chars, gc.cum_g,
                           COALESCE(c.c, 0) AS c
                    FROM st CROSS JOIN gc
                    LEFT JOIN c ON c.source = st.source AND c.n_chars = gc.n_chars),
          e AS (SELECT source, n_src, cum_g,
                       CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_s
                FROM dense),
          m AS (SELECT source, n_src, n_total,
                       MAX(abs(CAST(cum_s AS DECIMAL(38,0)) * n_total
                               - CAST(cum_g AS DECIMAL(38,0)) * n_src)) AS max_num
                FROM e, t GROUP BY 1, 2, 3)
         SELECT source, n_src,
                CAST(max_num AS DOUBLE)
                  / (CAST(n_src AS DOUBLE) * CAST(n_total AS DOUBLE)) AS ks
         FROM m ORDER BY source""",
    "x1_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM documents GROUP BY fp ORDER BY fp""",
    "x2_jaccard_pairs" ->
      s"""WITH $shingleCte,
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id),
          $jaccardTail""",
    // deliberately the NAIVE full-index form — hash-equality proves the
    // engine's prefix filtering (x81) loses no pair and adds none
    "x81_prefix_pairs" ->
      s"""WITH $shingleCte,
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id),
          $jaccardTail""",
    "x36_jaccard_capped" ->
      s"""WITH $shingleCte,
          keep AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
                   WHERE df <= $JaccardDfCap),
          shc AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep USING (sh)),
          sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                    FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
          FROM inter JOIN sizes x ON x.doc_id = doc_a JOIN sizes y ON y.doc_id = doc_b
          WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
          ORDER BY doc_a, doc_b""",
    // conditional counts over the same verified scores — one pass,
    // never a per-threshold rerun
    "x97_threshold_sweep" ->
      s"""WITH $shingleCte,
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id),
          $jaccardVerifyCte
          SELECT count(*) AS n_050,
                 CAST(SUM(CASE WHEN jaccard >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_060,
                 CAST(SUM(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_070,
                 CAST(SUM(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_080,
                 CAST(SUM(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_090
          FROM verified""",
    "x56_containment" ->
      s"""WITH $shingleCte,
          keep AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
                   WHERE df <= $JaccardDfCap),
          shc AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep USING (sh)),
          sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                    FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT doc_a, doc_b,
                 CAST(i AS DOUBLE) / x.n AS c_ab,
                 CAST(i AS DOUBLE) / y.n AS c_ba
          FROM inter JOIN sizes x ON x.doc_id = doc_a JOIN sizes y ON y.doc_id = doc_b
          WHERE greatest(CAST(i AS DOUBLE) / x.n, CAST(i AS DOUBLE) / y.n)
                >= $ContainmentThreshold
          ORDER BY doc_a, doc_b""",
    "x57_domain_mix" ->
      """WITH c AS (SELECT lang AS domain, count(*) AS n_docs FROM documents GROUP BY 1),
          s AS (SELECT domain, n_docs,
                       CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS s
                FROM c),
          t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                       CAST(sum(s) AS BIGINT) AS stot FROM s)
          SELECT domain, n_docs,
                 CAST(n_docs * 1000000 // total AS BIGINT) AS p_ppm,
                 CAST(s * 1000000 // stot AS BIGINT) AS q_ppm,
                 CAST(((s * 1000000 // stot) * total) // n_docs AS BIGINT) AS weight_ppm
          FROM s, t ORDER BY domain""",
    "x58_collocations" ->
      s"""WITH $tokCte,
          bg AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
                 FROM tok WHERE len(t) >= 2),
          bc AS (SELECT t[i] AS w1, t[i+1] AS w2, CAST(count(*) AS BIGINT) AS c12
                 FROM bg GROUP BY 1, 2),
          u1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bc GROUP BY 1),
          u2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM bc GROUP BY 1),
          n AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM bc)
          SELECT w1, w2, c12,
                 CAST(((c12 * 1000000 // c1) * nb) // c2 AS BIGINT) AS lift_ppm
          FROM bc JOIN u1 USING (w1) JOIN u2 USING (w2), n
          WHERE c12 >= $MinColloCount
          ORDER BY lift_ppm DESC, w1, w2 LIMIT $CollocTopK""",
    "x59_apply_mix" ->
      s"""WITH c AS (SELECT lang AS domain, count(*) AS n_docs FROM documents GROUP BY 1),
          s AS (SELECT domain, n_docs,
                       CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS s
                FROM c),
          t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                       CAST(sum(s) AS BIGINT) AS stot FROM s),
          w AS (SELECT domain,
                       CAST(((s * 1000000 // stot) * total) // n_docs AS BIGINT) AS weight_ppm
                FROM s, t),
          d AS (SELECT doc_id, lang AS domain, md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents),
          dd AS (SELECT doc_id, domain, ${hexVal("h", 1, 8)} % 1000000 AS draw FROM d),
          nc AS (SELECT dd.doc_id, dd.domain,
                        w.weight_ppm // 1000000
                        + CASE WHEN dd.draw < w.weight_ppm % 1000000 THEN 1 ELSE 0 END AS n_copies
                 FROM dd JOIN w USING (domain))
          SELECT doc_id, domain,
                 CAST(unnest(generate_series(1, CAST(n_copies AS INT))) AS INT) AS copy_idx
          FROM nc WHERE n_copies >= 1
          ORDER BY doc_id, copy_idx""",
    "x3_minhash_sigs" ->
      s"""WITH $minhashCte
          SELECT doc_id, h_idx, mh FROM mh ORDER BY doc_id, h_idx""",
    "x4_minhash_neardups" ->
      s"""WITH $minhashCte,
          $minhashCandCte,
          $jaccardTail""",
    // the same verified pair plane, then four UNROLLED damped
    // iterations in pure integer floor division — bit-equality proves
    // the engine's loop exact, isolated docs settling at the teleport
    // floor included
    "x84_dup_pagerank" ->
      s"""WITH $minhashCte,
          $minhashCandCte,
          $jaccardVerifyCte,
          und AS (SELECT doc_a AS src, doc_b AS dst FROM verified
                  UNION ALL
                  SELECT doc_b AS src, doc_a AS dst FROM verified),
          deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
          pr0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM documents),
          ${(1 to 4).map(pagerankIterCte).mkString(",\n          ")}
          SELECT doc_id, pr AS pr_ppm FROM pr4 ORDER BY doc_id""",
    "x17_dedup_clusters" -> clusterOracleSql(),
    // LSS roots components at their minima — x17's unrolled min-label
    // oracle is exactly its contract on the gate corpus
    "x165_cc_lss" -> clusterOracleSql(),
    // cohesion over the same labels + verified pairs
    "x180_cluster_cohesion" ->
      s"""WITH ${clusterCtes(2)},
          members AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
                      FROM l2 GROUP BY component HAVING count(*) >= 2),
          pc AS (SELECT l.component, CAST(count(*) AS BIGINT) AS n_pairs,
                        min(v.jaccard) AS min_jaccard,
                        max(v.jaccard) AS max_jaccard
                 FROM verified v JOIN l2 l ON l.doc_id = v.doc_a
                 GROUP BY l.component)
          SELECT component, n_members, n_pairs,
                 n_pairs * 2000000 // (n_members * (n_members - 1)) AS density_ppm,
                 min_jaccard, max_jaccard
          FROM members JOIN pc USING (component) ORDER BY component""",
    "x38_cluster_keeper" -> clusterKeeperOracleSql(),
    "x156_golden_record" -> goldenRecordOracleSql(),
    "x164_sssp" -> {
      def relax(i: Int): String =
        s"""r$i AS (SELECT u.dst AS doc_id, min(d.dist + u.w) AS nd
                    FROM und u JOIN d${i - 1} d ON u.src = d.doc_id
                    WHERE d.dist IS NOT NULL GROUP BY 1),
            d$i AS (SELECT p.doc_id, least(p.dist, r$i.nd) AS dist
                    FROM d${i - 1} p LEFT JOIN r$i USING (doc_id))"""
      s"""WITH $shingleCte,
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
          edges AS (SELECT doc_a, doc_b, x.n + y.n - 2 * i AS w
                    FROM inter JOIN sizes x ON x.doc_id = doc_a
                               JOIN sizes y ON y.doc_id = doc_b
                    WHERE i * 10 >= (x.n + y.n - i) * 3),
          und AS (SELECT doc_a AS src, doc_b AS dst, w FROM edges
                  UNION ALL SELECT doc_b, doc_a, w FROM edges),
          d0 AS (SELECT doc_id,
                        CASE WHEN doc_id % 50 = 0 THEN CAST(0 AS BIGINT) END AS dist
                 FROM documents),
          ${relax(1)}, ${relax(2)}, ${relax(3)}
          SELECT doc_id, dist, CAST(dist IS NOT NULL AS INT) AS reached
          FROM d3 ORDER BY doc_id"""
    },
    "x43_component_split" ->
      s"""WITH ${clusterCtes(2)},
          assign AS (SELECT doc_id,
                  CASE WHEN (strpos('0123456789abcdef', substring(md5(CAST(component AS VARCHAR)), 1, 1)) - 1) * 16
                            + (strpos('0123456789abcdef', substring(md5(CAST(component AS VARCHAR)), 2, 1)) - 1) < 205 THEN 'train'
                       WHEN (strpos('0123456789abcdef', substring(md5(CAST(component AS VARCHAR)), 1, 1)) - 1) * 16
                            + (strpos('0123456789abcdef', substring(md5(CAST(component AS VARCHAR)), 2, 1)) - 1) < 230 THEN 'val'
                       ELSE 'test' END AS split
                FROM l2)
         SELECT a.split AS split_a, b.split AS split_b, count(*) AS n_pairs
         FROM verified v JOIN assign a ON a.doc_id = v.doc_a
                         JOIN assign b ON b.doc_id = v.doc_b
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "x42_split_leakage" ->
      s"""WITH $minhashCte,
          $minhashCandCte,
          $jaccardVerifyCte,
          assign AS (SELECT doc_id,
                  CASE WHEN (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 205 THEN 'train'
                       WHEN (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 230 THEN 'val'
                       ELSE 'test' END AS split
                FROM documents)
         SELECT a.split AS split_a, b.split AS split_b, count(*) AS n_pairs
         FROM verified v JOIN assign a ON a.doc_id = v.doc_a
                         JOIN assign b ON b.doc_id = v.doc_b
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "x75_source_overlap" ->
      s"""WITH $minhashCte,
          $minhashCandCte,
          $jaccardVerifyCte,
          cells AS (SELECT least(sa.source, sb.source) AS source_a,
                           greatest(sa.source, sb.source) AS source_b,
                           v.doc_a, v.doc_b
                    FROM verified v JOIN documents sa ON sa.doc_id = v.doc_a
                                    JOIN documents sb ON sb.doc_id = v.doc_b),
          ex AS (SELECT source_a, source_b, doc_a AS doc_id FROM cells
                 UNION ALL
                 SELECT source_a, source_b, doc_b AS doc_id FROM cells)
          SELECT source_a, source_b,
                 CAST(count(*) / 2 AS BIGINT) AS n_pairs,
                 count(DISTINCT doc_id) AS n_docs
          FROM ex GROUP BY 1, 2 ORDER BY 1, 2""",
    "x41_minhash_est" ->
      s"""WITH $minhashCte,
          $minhashCandCte,
          agree AS (SELECT c.doc_a, c.doc_b, SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS k
                    FROM cand c
                    JOIN mh x ON x.doc_id = c.doc_a
                    JOIN mh y ON y.doc_id = c.doc_b AND y.h_idx = x.h_idx
                    GROUP BY 1, 2),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
                    FROM cand c JOIN sh p ON p.doc_id = c.doc_a
                                JOIN sh q ON q.doc_id = c.doc_b AND q.sh = p.sh
                    GROUP BY 1, 2),
          rep AS (SELECT a.doc_a, a.doc_b,
                         CAST(a.k AS DOUBLE) / ${Dedup.NumHashes} AS est_jaccard,
                         CAST(COALESCE(i.i, 0) AS DOUBLE)
                           / (x.n + y.n - COALESCE(i.i, 0)) AS jaccard
                  FROM agree a
                  LEFT JOIN inter i ON i.doc_a = a.doc_a AND i.doc_b = a.doc_b
                  JOIN sizes x ON x.doc_id = a.doc_a
                  JOIN sizes y ON y.doc_id = a.doc_b)
         SELECT doc_a, doc_b, est_jaccard, jaccard, est_jaccard - jaccard AS err
         FROM rep ORDER BY doc_a, doc_b""",
    "x40_line_dedup" ->
      s"""WITH $tokCte,
          seg2 AS (SELECT doc_id, i, array_to_string(t[i*8+1:i*8+8], ' ') AS seg
                   FROM (SELECT doc_id, t, unnest(generate_series(0, (len(t)-1)//8)) AS i FROM tok)),
          dfc AS (SELECT seg, count(DISTINCT doc_id) AS df FROM seg2 GROUP BY seg),
          kept AS (SELECT doc_id, i, seg FROM seg2 JOIN dfc USING (seg) WHERE df <= 2),
          reb AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY i) AS clean_text,
                         count(*) AS n_kept FROM kept GROUP BY doc_id),
          tot AS (SELECT doc_id, count(*) AS n_segs FROM seg2 GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
                CAST(COALESCE(tot.n_segs, 0) - COALESCE(reb.n_kept, 0) AS INT) AS n_dropped
         FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)
         ORDER BY d.doc_id""",
    "x39_token_budget" ->
      s"""WITH $tokCte,
          tot AS (SELECT lang, sum(len(t)) AS total
                  FROM tok JOIN documents USING (doc_id) GROUP BY lang),
          cuts AS (SELECT lang, CAST(least(256, ${256L * 4000L} // total) AS INT) AS cut FROM tot),
          b AS (SELECT doc_id, d.lang, cut,
                  (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
                FROM documents d JOIN cuts USING (lang))
         SELECT doc_id, lang, cut FROM b WHERE bucket < cut ORDER BY doc_id""",
    "x37_domain_quota" ->
      """WITH r AS (SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
              FROM documents)
         SELECT doc_id, source, CAST(rnk AS INT) AS rnk
         FROM r WHERE rnk <= 15 ORDER BY doc_id""",
    "x34_dedup_pipeline" ->
      s"""WITH keepers AS (SELECT min(doc_id) AS doc_id FROM (
              SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
              FROM documents) GROUP BY fp),
          docs_kept AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
          ${minhashCteFor("docs_kept")},
          $minhashCandCte,
          $jaccardTail""",
    "x18_token_freq" ->
      """SELECT tok, count(*) AS n FROM
           (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM documents)
         GROUP BY tok ORDER BY n DESC, tok LIMIT 20""",
    // the naive statement of the capped inverted index — list the 20
    // smallest doc ids per term outright; the engine's two-phase
    // sliced rank must produce the identical arrays
    "x101_postings" ->
      s"""WITH $tokCte,
          e AS (SELECT doc_id, unnest(t) AS term FROM tok),
          td AS (SELECT term, doc_id, count(*) AS tf_doc FROM e GROUP BY 1, 2)
         SELECT term, count(*) AS df,
                CAST(SUM(tf_doc) AS BIGINT) AS tf,
                array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',') AS postings
         FROM td GROUP BY term ORDER BY term""",
    "x48_zorder_key" ->
      s"""WITH b AS (SELECT doc_id,
              least(255, n_chars // 4) AS len_bucket,
              CAST(regexp_extract(source, '([0-9]+)$$', 1) AS BIGINT) % 256 AS src_bucket
            FROM documents)
         SELECT doc_id, len_bucket, src_bucket,
                ${graft.util.ZOrder.zkey2Sql("len_bucket", "src_bucket")} AS zkey
         FROM b ORDER BY zkey, doc_id""",
    "x46_oov_rate" ->
      s"""WITH $tokCte,
          occ AS (SELECT doc_id, unnest(t) AS tok FROM tok),
          vocab AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM occ GROUP BY tok
                                     ORDER BY n DESC, tok LIMIT $OovVocabK)),
          agg AS (SELECT o.doc_id, count(*) AS n_tokens,
                         CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
                  FROM occ o LEFT JOIN vocab v USING (tok) GROUP BY o.doc_id)
         SELECT doc_id, n_tokens, n_oov, n_oov * 1000000 // n_tokens AS oov_ppm
         FROM agg ORDER BY doc_id""",
    "x54_delta_neardups" ->
      s"""WITH $minhashCte,
          bands AS (SELECT doc_id, h_idx // ${Dedup.NumHashes / Dedup.NumBands} AS band_idx,
                           md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY h_idx)) AS band_hash
                    FROM mh GROUP BY doc_id, h_idx // ${Dedup.NumHashes / Dedup.NumBands}),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM bands a JOIN bands b
                     ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                   WHERE a.doc_id >= $DeltaSplitId AND b.doc_id < $DeltaSplitId),
          $jaccardTail""",
    "x53_rrf_fusion" ->
      s"""WITH dtok AS (SELECT DISTINCT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
                        FROM documents),
          keep AS (SELECT tok FROM (SELECT tok, count(*) AS df FROM dtok GROUP BY tok)
                   WHERE df <= $JaccardDfCap),
          idx AS (SELECT d.doc_id, d.tok FROM dtok d JOIN keep USING (tok)),
          qt AS (SELECT doc_id AS qid, tok FROM idx WHERE doc_id < $HybridNumQueries),
          ov AS (SELECT q.qid, i.doc_id AS cand, count(*) AS overlap
                 FROM qt q JOIN idx i USING (tok) WHERE i.doc_id <> q.qid GROUP BY 1, 2),
          lex AS (SELECT qid, cand, lex_rank FROM
                    (SELECT qid, cand, CAST(row_number() OVER
                       (PARTITION BY qid ORDER BY overlap DESC, cand) AS INT) AS lex_rank FROM ov)
                  WHERE lex_rank <= $HybridKEach),
          $embCte,
          dots AS (SELECT a.vec_id AS qid, b.vec_id AS cand, SUM(a.q * b.q) AS dot
                   FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id <> b.vec_id
                   WHERE a.vec_id < $HybridNumQueries GROUP BY 1, 2),
          vs AS (SELECT qid, cand, CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) AS cos
                 FROM dots JOIN norms nx ON nx.vec_id = qid JOIN norms ny ON ny.vec_id = cand),
          vec AS (SELECT qid, cand, vec_rank FROM
                    (SELECT qid, cand, CAST(row_number() OVER
                       (PARTITION BY qid ORDER BY cos DESC, cand) AS INT) AS vec_rank FROM vs)
                  WHERE vec_rank <= $HybridKEach),
          fused AS (SELECT COALESCE(l.qid, v.qid) AS qid, COALESCE(l.cand, v.cand) AS cand,
                           COALESCE(l.lex_rank, 0) AS lex_rank, COALESCE(v.vec_rank, 0) AS vec_rank,
                           CAST(CASE WHEN l.lex_rank IS NOT NULL
                                     THEN 1000000 // (${graft.sim.Hybrid.RrfK} + l.lex_rank) ELSE 0 END
                              + CASE WHEN v.vec_rank IS NOT NULL
                                     THEN 1000000 // (${graft.sim.Hybrid.RrfK} + v.vec_rank) ELSE 0 END
                                AS BIGINT) AS rrf
                    FROM lex l FULL JOIN vec v ON l.qid = v.qid AND l.cand = v.cand)
          SELECT qid, cand, lex_rank, vec_rank, rrf, final_rank FROM
            (SELECT *, CAST(row_number() OVER
               (PARTITION BY qid ORDER BY rrf DESC, cand) AS INT) AS final_rank FROM fused)
          WHERE final_rank <= $HybridFinalK ORDER BY qid, final_rank""",
    "x51_bigram_lm" ->
      s"""WITH $tokCte,
          bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
                 FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                       FROM tok WHERE len(t) >= 2)),
          docbg AS (SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3),
          model AS (SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS cb FROM docbg GROUP BY 1, 2),
          prefix AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cp FROM model GROUP BY 1),
          vocab AS (SELECT count(DISTINCT w2) AS v FROM model),
          probs AS (SELECT w1, w2, (cb + 1) * 1000000 // (cp + v) AS p_ppm
                    FROM model JOIN prefix USING (w1), vocab),
          per_doc AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
                             CAST(SUM(k * p_ppm) AS BIGINT) AS sum_ppm
                      FROM docbg JOIN probs USING (w1, w2) GROUP BY 1)
          SELECT d.doc_id, COALESCE(p.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
                 COALESCE(p.sum_ppm // p.n_bigrams, CAST(0 AS BIGINT)) AS lm_score_ppm
          FROM documents d LEFT JOIN per_doc p USING (doc_id) ORDER BY d.doc_id""",
    "x5_simhash" ->
      s"""WITH $simhashSelect
          SELECT doc_id, simhash FROM sims ORDER BY doc_id""",
    "x6_simhash_neardups" ->
      s"""WITH $simhashSelect,
          chunks AS (SELECT doc_id, simhash, ci AS chunk_idx, (simhash >> (ci * 8)) & 255 AS chunk
                     FROM sims CROSS JOIN generate_series(0, 3) AS g(ci)),
          pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           a.simhash AS sa, b.simhash AS sb
                    FROM chunks a JOIN chunks b
                      ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming FROM pairs
          WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY doc_a, doc_b""",
    "x10_winnow_fp" ->
      s"""WITH $posShingleCte,
          w AS (SELECT doc_id, min(md5(sh)) OVER
                  (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                FROM shp)
          SELECT DISTINCT doc_id, fp FROM w ORDER BY doc_id, fp""",
    "x60_dup_spans" ->
      s"""WITH $posShingleCte,
          dup AS (SELECT sh FROM (SELECT sh, count(*) AS df
                                  FROM (SELECT DISTINCT doc_id, sh FROM shp) GROUP BY sh)
                  WHERE df > 1),
          fl AS (SELECT doc_id, i FROM shp JOIN dup USING (sh)),
          brks AS (SELECT doc_id, i,
                          CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 3
                               THEN 0 ELSE 1 END AS brk
                   FROM fl),
          isl AS (SELECT doc_id, i,
                         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
                  FROM brks)
          SELECT doc_id, CAST(min(i) AS INT) AS span_start,
                 CAST(max(i) + 2 AS INT) AS span_end,
                 count(*) AS n_shingles
          FROM isl GROUP BY doc_id, island
          ORDER BY doc_id, span_start""",
    "x7_lang_id" -> langIdSql,
    "x19_quality_filter" -> {
      val markers = TextFunctions.LangMarkers.flatMap(_._2).map(w => s"'$w'").mkString("[", ", ", "]")
      val hitCols = TextFunctions.LangMarkers.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(t, x -> list_contains($lst, x))) AS h_$lang"
      }.mkString(", ")
      val best = TextFunctions.LangMarkers.map { case (l, _) => s"h_$l" }.mkString("greatest(", ", ", ")")
      val cases = TextFunctions.LangMarkers.map { case (l, _) =>
        s"WHEN h_$l > 0 AND h_$l = $best THEN '$l'"
      }.mkString(" ")
      s"""WITH $tokCte,
         hits AS (SELECT doc_id, t, $hitCols FROM tok),
         m AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang_detected,
                      CAST(len(h.t) AS INT) AS n_tokens,
                      round(0.4 * least(CAST(len(h.t) AS DOUBLE) / 100.0, 1.0)
                          + 0.4 * (1.0 - CAST(length(d.text) - length(regexp_replace(d.text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                                         / greatest(length(d.text), 1))
                          + 0.2 * (CAST(len(list_filter(h.t, x -> list_contains($markers, x))) AS DOUBLE)
                                   / greatest(len(h.t), 1)), 6) AS quality
               FROM hits h JOIN documents d USING (doc_id))
         SELECT doc_id, lang_detected, quality, n_tokens FROM m
         WHERE lang_detected IN ('en', 'es', 'de', 'fr')
           AND quality >= 0.5 AND n_tokens BETWEEN 20 AND 200
         ORDER BY doc_id"""
    },
    // x13 resolves adaptive width (annTopK's r15 default); x35 is the
    // same resolution at targetBucket=4 — identical at the sf0.01 floor,
    // divergent (and both checked) at sf0.1
    "x13_ann_topk" -> annAdaptiveOracleSql(),
    "x55_ann_recall" -> annRecallOracleSql(),
    "x35_ann_adaptive" -> annAdaptiveOracleSql(targetBucket = 4),
    "x13b_ann_bounded" -> annBoundedOracleSql(),
    // SQ8 two-stage retrieval: codebook (per-dim min/max), round-half-up
    // integer quantization ((x·510 + r) // 2r — mirrors sq8Codes), code
    // dots → top-20 shortlist, exact fixed-point re-rank to top-5
    "x49_sq8_topk" ->
      s"""WITH $embCte,
          rng AS (SELECT pos, min(q) AS mn, max(q) AS mx FROM e GROUP BY pos),
          codes AS (SELECT vec_id, e.pos,
                           CASE WHEN mx = mn THEN 0
                                ELSE ((q - mn) * 510 + (mx - mn)) // (2 * (mx - mn)) END AS code
                    FROM e JOIN rng USING (pos)),
          qd AS (SELECT a.vec_id AS qid, b.vec_id AS vb, SUM(a.code * b.code) AS qdot
                 FROM codes a JOIN codes b ON b.pos = a.pos AND b.vec_id <> a.vec_id
                 WHERE a.vec_id < 10 GROUP BY 1, 2),
          short AS (SELECT qid, vb FROM
                      (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, vb) AS rn
                       FROM qd)
                    WHERE rn <= 20),
          dots AS (SELECT s.qid, s.vb, SUM(x.q * y.q) AS dot
                   FROM short s JOIN e x ON x.vec_id = s.qid
                                JOIN e y ON y.vec_id = s.vb AND y.pos = x.pos
                   GROUP BY 1, 2),
          scored AS (SELECT qid, vb, CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) AS cos
                     FROM dots JOIN norms nx ON nx.vec_id = qid
                               JOIN norms ny ON ny.vec_id = vb)
          SELECT qid, vb, cos, rank FROM
            (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vb) AS INT) AS rank
             FROM scored)
          WHERE rank <= 5 ORDER BY qid, rank""",
    "x20_strip_markup" ->
      """WITH unescaped AS (SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(
                            '<html><p class="x">' || text || ' &amp; tail</p>&nbsp;</html>',
                            '<[^>]*>', ' ', 'g'),
                          '&amp;', '&', 'g'),
                        '&lt;', '<', 'g'),
                      '&gt;', '>', 'g'),
                    '&quot;', '"', 'g'),
                  '&nbsp;', ' ', 'g') AS x
              FROM documents)
         SELECT doc_id, trim(regexp_replace(x, '\s+', ' ', 'g')) AS clean
         FROM unescaped ORDER BY doc_id""",
    "x21_url_canon" ->
      """WITH u AS (SELECT doc_id,
                  'HTTPS://Example.COM/' || source || '/doc/' || doc_id
                  || '/?utm_source=feed&id=' || doc_id || '#section' AS url
                FROM documents),
           s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS x FROM u),
           s2 AS (SELECT doc_id, regexp_replace(x, '([?&])(utm_[a-z]+|ref|fbclid)=[^&]*', '\1', 'g') AS x FROM s1),
           s3 AS (SELECT doc_id, regexp_replace(regexp_replace(x, '[?&]+$', ''), '\?&', '?') AS x FROM s2)
         SELECT doc_id,
                regexp_replace(
                  lower(regexp_extract(x, '^([A-Za-z]+://[^/]*)', 1))
                    || regexp_replace(x, '^[A-Za-z]+://[^/]*', ''),
                  '/$', '') AS canon_url
         FROM s3 ORDER BY doc_id""",
    "x16_ivf_topk" -> ivfOracleSql(),
    // the SAME unrolled k-means; majority map + exact-ppm kappa chain,
    // final kappa one IEEE division of two exact integers
    "x91_label_kappa" ->
      s"""WITH ${ivfKmeansCtes(16, 2)},
          j AS (SELECT a.vec_id, a.cluster, emb.label
                FROM a2 a JOIN embeddings emb ON emb.vec_id = a.vec_id),
          mc AS (SELECT cluster, label, count(*) AS cnt FROM j GROUP BY 1, 2),
          mp AS (SELECT cluster, label AS pred_label FROM (
                   SELECT cluster, label,
                          row_number() OVER (PARTITION BY cluster
                            ORDER BY cnt DESC, label) AS rn
                   FROM mc) WHERE rn = 1),
          p AS (SELECT j.vec_id, j.label, mp.pred_label
                FROM j JOIN mp USING (cluster)),
          t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN label = pred_label THEN 1 ELSE 0 END) AS BIGINT) AS n_match
                FROM p),
          r AS (SELECT label, CAST(count(*) AS BIGINT) AS r FROM p GROUP BY 1),
          c AS (SELECT pred_label AS label, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1),
          pe AS (SELECT CAST(COALESCE(SUM(
                   ((r.r * 1000000 // t.n) * (c.c * 1000000 // t.n)) // 1000000), 0) AS BIGINT) AS pe_ppm
                 FROM r JOIN c USING (label), t)
          SELECT t.n, t.n_match,
                 t.n_match * 1000000 // t.n AS po_ppm,
                 pe.pe_ppm,
                 CAST(t.n_match * 1000000 // t.n - pe.pe_ppm AS DOUBLE)
                   / CAST(1000000 - pe.pe_ppm AS DOUBLE) AS kappa
          FROM t, pe""",
    "x47_cluster_profile" -> ivfProfileOracleSql(),
    "x126_kmeans_inertia" -> ivfInertiaOracleSql(),
    "x61_semdedup" -> semDedupOracleSql(SemDedupThreshold),
    "x74_semantic_decontam" -> semContamOracleSql(SemContamThreshold),
    "x62_pq_topk" -> pqOracleSql(),
    "x65_bpe_pairs" ->
      s"""WITH $tokCte,
          w AS (SELECT unnest(t) AS word FROM tok),
          words AS (SELECT word, count(*) AS wc FROM w
                    WHERE length(word) >= 2 GROUP BY word),
          p AS (SELECT word, wc, unnest(generate_series(1, length(word) - 1)) AS i
                FROM words),
          pc AS (SELECT substring(word, i, 1) AS c1,
                        substring(word, i + 1, 1) AS c2,
                        CAST(SUM(wc) AS BIGINT) AS pair_count
                 FROM p GROUP BY 1, 2)
          SELECT c1, c2, pair_count FROM pc
          WHERE pair_count >= $MinBpePairCount
          ORDER BY pair_count DESC, c1, c2 LIMIT $BpeTopK""",
    "x73_bloom_screen" -> {
      val hexv = "strpos('0123456789abcdef', substring(md5(%s), %d, 1)) - 1"
      def bitExpr(salt: Int) = {
        val key = s"'bf$salt|' || sh"
        s"(${hexv.format(key, 1)}) * 4096 + (${hexv.format(key, 2)}) * 256 + " +
          s"(${hexv.format(key, 3)}) * 16 + (${hexv.format(key, 4)})"
      }
      val bitUnion = (0 until graft.util.Bloom.NumHashes)
        .map(i => s"SELECT doc_id, sh, ${bitExpr(i)} AS bit FROM train")
        .mkString("\n                 UNION ALL ")
      s"""WITH $tokCte,
          xg AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-4)) AS i
                 FROM tok WHERE len(t) >= 5),
          sh5 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh FROM xg),
          bench AS (SELECT DISTINCT sh FROM sh5 WHERE doc_id % 20 = 0),
          train AS (SELECT doc_id, sh FROM sh5 WHERE doc_id % 20 <> 0),
          bits AS (${(0 until graft.util.Bloom.NumHashes)
            .map(i => s"SELECT DISTINCT ${bitExpr(i)} AS bit FROM bench")
            .mkString("\n                 UNION ")}),
          probes AS ($bitUnion),
          pass AS (SELECT doc_id, sh FROM probes
                   WHERE bit IN (SELECT bit FROM bits)
                   GROUP BY doc_id, sh
                   HAVING count(*) = ${graft.util.Bloom.NumHashes}),
          nb AS (SELECT doc_id, count(*) AS nb FROM pass GROUP BY doc_id),
          ne AS (SELECT doc_id, count(*) AS ne FROM train
                 WHERE sh IN (SELECT sh FROM bench) GROUP BY doc_id)
          SELECT d.doc_id, COALESCE(nb.nb, 0) AS n_bloom_hits,
                 COALESCE(ne.ne, 0) AS n_exact_hits,
                 COALESCE(nb.nb, 0) - COALESCE(ne.ne, 0) AS n_false_positives
          FROM documents d LEFT JOIN nb USING (doc_id) LEFT JOIN ne USING (doc_id)
          WHERE d.doc_id % 20 <> 0 ORDER BY d.doc_id"""
    },
    "x72_cms_heavy_hitters" ->
      s"""WITH $tokCte,
          w AS (SELECT unnest(t) AS tok FROM tok),
          counts AS (SELECT tok, count(*) AS cnt FROM w
                     WHERE length(tok) >= 1 GROUP BY tok),
          hashes AS (SELECT tok, cnt, i,
                       (strpos('0123456789abcdef', substring(md5('cms' || i || '|' || tok), 1, 1)) - 1) * 16
                       + (strpos('0123456789abcdef', substring(md5('cms' || i || '|' || tok), 2, 1)) - 1) AS bucket
                     FROM counts CROSS JOIN generate_series(0, 3) AS g(i)),
          ctrs AS (SELECT i, bucket, CAST(SUM(cnt) AS BIGINT) AS c
                   FROM hashes GROUP BY 1, 2),
          top AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok LIMIT 20),
          est AS (SELECT h.tok, CAST(MIN(c.c) AS BIGINT) AS est
                  FROM hashes h JOIN ctrs c USING (i, bucket)
                  WHERE h.tok IN (SELECT tok FROM top)
                  GROUP BY h.tok)
          SELECT t.tok, t.cnt AS exact, e.est, e.est - t.cnt AS overcount
          FROM top t JOIN est e USING (tok)
          ORDER BY exact DESC, tok""",
    "x71_fixed_sample" ->
      s"""SELECT doc_id FROM
            (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k FROM documents
             ORDER BY k, doc_id LIMIT $FixedSampleK)
          ORDER BY doc_id""",
    "x70_dedup_agreement" ->
      s"""WITH $minhashCte,
          $minhashCandCte,
          $jaccardVerifyCte,
          $simhashSelect,
          chunks AS (SELECT doc_id, simhash, ci AS chunk_idx,
                            (simhash >> (ci * 8)) & 255 AS chunk
                     FROM sims CROSS JOIN generate_series(0, 3) AS g(ci)),
          spairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.simhash AS sa, b.simhash AS sb
                     FROM chunks a JOIN chunks b
                       ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
                          AND a.doc_id < b.doc_id),
          sdup AS (SELECT doc_a, doc_b FROM spairs
                   WHERE bit_count(xor(sa, sb)) <= 3),
          u AS (SELECT (m.doc_a IS NOT NULL) AS in_mh,
                       (s.doc_a IS NOT NULL) AS in_sh
                FROM verified m FULL OUTER JOIN sdup s
                  ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b)
          SELECT CAST(SUM(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
                 CAST(SUM(CASE WHEN in_mh AND NOT in_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_only,
                 CAST(SUM(CASE WHEN in_sh AND NOT in_mh THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash_only
          FROM u""",
    "x69_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id,
                       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
                     FROM documents WHERE doc_id % 10 <> 0),
          v2 AS (SELECT doc_id,
                   md5(trim(regexp_replace(lower(
                     CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END),
                     '\s+', ' ', 'g'))) AS fp
                 FROM documents WHERE doc_id % 10 <> 1)
          SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
                 CASE WHEN v1.fp IS NULL THEN 'added'
                      WHEN v2.fp IS NULL THEN 'removed'
                      WHEN v1.fp = v2.fp THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
          ORDER BY doc_id""",
    "x76_snapshot_drift" ->
      """WITH v1 AS (SELECT source, count(*) AS n, CAST(SUM(length(text)) AS BIGINT) AS chars
                     FROM documents WHERE doc_id % 10 <> 0 GROUP BY source),
          v2 AS (SELECT source, count(*) AS n,
                        CAST(SUM(length(CASE WHEN doc_id % 7 = 0
                                             THEN text || ' [edited]'
                                             ELSE text END)) AS BIGINT) AS chars
                 FROM documents WHERE doc_id % 10 <> 1 GROUP BY source),
          c1 AS (SELECT source, n AS n_v1, chars AS chars_v1,
                        n * 1000000 // (SELECT SUM(n) FROM v1) AS share_ppm_v1 FROM v1),
          c2 AS (SELECT source, n AS n_v2, chars AS chars_v2,
                        n * 1000000 // (SELECT SUM(n) FROM v2) AS share_ppm_v2 FROM v2)
          SELECT coalesce(c1.source, c2.source) AS source,
                 CAST(coalesce(n_v1, 0) AS BIGINT) AS n_v1,
                 CAST(coalesce(n_v2, 0) AS BIGINT) AS n_v2,
                 coalesce(chars_v1, 0) AS chars_v1,
                 coalesce(chars_v2, 0) AS chars_v2,
                 CAST(coalesce(share_ppm_v1, 0) AS BIGINT) AS share_ppm_v1,
                 CAST(coalesce(share_ppm_v2, 0) AS BIGINT) AS share_ppm_v2,
                 CAST(coalesce(share_ppm_v2, 0) - coalesce(share_ppm_v1, 0) AS BIGINT) AS delta_ppm
          FROM c1 FULL OUTER JOIN c2 ON c1.source = c2.source
          ORDER BY source""",
    "x67_bpe_merges" -> bpeMergesOracleSql(BpeMergeRounds),
    "x68_bpe_fertility" -> bpeFertilityOracleSql(BpeMergeRounds),
    "x66_dsir_weights" ->
      s"""WITH $tokCte,
          bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
                 FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                       FROM tok WHERE len(t) >= 2)),
          db AS (SELECT doc_id,
                        (strpos('0123456789abcdef', substring(md5(w1 || ' ' || w2), 1, 1)) - 1) * 16
                        + (strpos('0123456789abcdef', substring(md5(w1 || ' ' || w2), 2, 1)) - 1) AS b,
                        count(*) AS k
                 FROM bg GROUP BY 1, 2),
          tgt AS (SELECT doc_id, (lang = '$DsirTargetLang') AS is_t FROM documents),
          bk AS (SELECT b, SUM(CASE WHEN is_t THEN k ELSE 0 END) AS t, SUM(k) AS r
                 FROM db JOIN tgt USING (doc_id) GROUP BY b),
          tot AS (SELECT SUM(t) AS tt, SUM(r) AS rt FROM bk),
          ratios AS (SELECT b,
                       (((t + 1) * 1000000000 // (tt + 256)) * 1000000)
                       // ((r + 1) * 1000000000 // (rt + 256)) AS ratio_ppm
                     FROM bk CROSS JOIN tot),
          pd AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
                        CAST(SUM(k * (ratio_ppm - 1000000)) AS BIGINT) AS imp_score
                 FROM db JOIN ratios USING (b) GROUP BY doc_id)
          SELECT d.doc_id, coalesce(pd.n_bigrams, 0) AS n_bigrams,
                 coalesce(pd.imp_score, 0) AS imp_score
          FROM documents d LEFT JOIN pd USING (doc_id)
          ORDER BY d.doc_id""",
    "x63_hard_negatives" ->
      s"""WITH $embCte,
          lab AS (SELECT vec_id, label FROM embeddings),
          cand AS (SELECT q.vec_id AS qid, b.vec_id AS vb, b.label AS neg_label
                   FROM lab q JOIN lab b ON q.label <> b.label
                   WHERE q.vec_id < 10),
          dots AS (SELECT c.qid, c.vb, SUM(x.q * y.q) AS dot
                   FROM cand c JOIN e x ON x.vec_id = c.qid
                               JOIN e y ON y.vec_id = c.vb AND y.pos = x.pos
                   GROUP BY 1, 2),
          scored AS (SELECT qid, vb, CAST(dot AS DOUBLE) / sqrt(nx.nsq * ny.nsq) AS cos
                     FROM dots JOIN norms nx ON nx.vec_id = qid
                               JOIN norms ny ON ny.vec_id = vb)
          SELECT qid, vb, neg_label, cos, rank FROM
            (SELECT s.qid, s.vb, c.neg_label, s.cos,
                    CAST(row_number() OVER (PARTITION BY s.qid ORDER BY s.cos DESC, s.vb) AS INT) AS rank
             FROM scored s JOIN cand c ON c.qid = s.qid AND c.vb = s.vb)
          WHERE rank <= 5 ORDER BY qid, rank""",
    "x64_label_errors" ->
      s"""WITH $embCte,
          lab AS (SELECT vec_id, label FROM embeddings),
          proto AS (SELECT l.label AS plab, e.pos, CAST(round(avg(e.q)) AS BIGINT) AS cq
                    FROM e JOIN lab l USING (vec_id) GROUP BY 1, 2),
          pn AS (SELECT plab, CAST(SUM(cq * cq) AS DOUBLE) AS pnsq FROM proto GROUP BY 1),
          dots AS (SELECT e.vec_id, p.plab, SUM(e.q * p.cq) AS dot
                   FROM e JOIN proto p USING (pos) GROUP BY 1, 2),
          scored AS (SELECT d.vec_id, d.plab,
                            CAST(dot AS DOUBLE) / sqrt(n.nsq * pn.pnsq) AS pcos
                     FROM dots d JOIN pn USING (plab)
                                 JOIN norms n ON n.vec_id = d.vec_id),
          best AS (SELECT vec_id, plab AS pred_label, pcos AS best_cos FROM
                     (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY pcos DESC, plab) AS rn FROM scored)
                   WHERE rn = 1)
          SELECT b.vec_id, l.label, b.pred_label, o.pcos AS own_cos, b.best_cos,
                 (b.pred_label <> l.label) AS suspect
          FROM best b JOIN lab l USING (vec_id)
            JOIN scored o ON o.vec_id = b.vec_id AND o.plab = l.label
          ORDER BY vec_id""",
    "x8_quality_score" ->
      s"""WITH $tokCte,
          m AS (SELECT doc_id, t, text,
                  CAST(len(t) AS DOUBLE) AS ntok,
                  CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS np,
                  CAST(len(list_filter(t, x -> list_contains(${TextFunctions.LangMarkers.flatMap(_._2).map(w => s"'$w'").mkString("[", ", ", "]")}, x))) AS DOUBLE) AS nstop
                FROM tok JOIN documents USING (doc_id))
          SELECT doc_id,
                 round(0.4 * least(ntok / 100.0, 1.0)
                     + 0.4 * (1.0 - np / greatest(length(text), 1))
                     + 0.2 * (nstop / greatest(len(t), 1)), 6) AS quality
          FROM m ORDER BY doc_id""",
    // identical planted lines; the gate verifies split + 5% df cut +
    // ORDER BY pos reassembly (string_agg with explicit ordering)
    "x79_line_dedup" ->
      """WITH planted AS (
            SELECT doc_id,
                   substr(text, 1, 60)
                   || chr(10) || 'subscribe to our newsletter today'
                   || CASE WHEN doc_id % 2 = 0
                           THEN chr(10) || 'follow us on social media'
                           ELSE '' END
                   || chr(10) || 'signature of doc ' || CAST(doc_id AS VARCHAR) AS text
            FROM documents),
          larr AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM planted),
          lines AS (SELECT doc_id, i - 1 AS pos, arr[i] AS line
                    FROM larr, unnest(range(1, len(arr) + 1)) AS u(i)),
          df AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM lines GROUP BY 1),
          tot AS (SELECT count(*) AS n_docs FROM documents)
          SELECT doc_id,
                 string_agg(line, chr(10) ORDER BY pos) AS clean,
                 count(*) AS n_kept
          FROM lines JOIN df USING (line), tot
          WHERE line_df * 20 <= n_docs
          GROUP BY doc_id ORDER BY doc_id""",
    // identical planted text, identical pattern strings (single-sourced
    // from PiiScrub) — the hash gate verifies the scrub itself
    "x78_pii_scrub" -> {
      import graft.text.PiiScrub._
      s"""WITH planted AS (
            SELECT doc_id,
                   substr(text, 1, 80)
                   || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' or mail' || CAST(doc_id % 100 AS VARCHAR) || '@site.org'
                           ELSE '' END
                   || CASE WHEN doc_id % 2 = 0
                           THEN ', call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                           ELSE '' END
                   || ' end' AS text
            FROM documents)
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '$EmailPattern')) AS INT) AS n_emails,
                 CAST(len(regexp_extract_all(text, '$IpPattern')) AS INT) AS n_ips,
                 CAST(len(regexp_extract_all(text, '$PhonePattern')) AS INT) AS n_phones,
                 regexp_replace(regexp_replace(regexp_replace(text,
                   '$EmailPattern', '<EMAIL>', 'g'),
                   '$IpPattern', '<IP>', 'g'),
                   '$PhonePattern', '<PHONE>', 'g') AS clean
          FROM planted ORDER BY doc_id"""
    },
    "x9_token_stats" ->
      """SELECT doc_id,
                CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS INT) AS n_ws_tokens,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens,
                length(text) AS n_chars_calc,
                length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS n_punct
         FROM documents ORDER BY doc_id""",
    "x11_sim_topk" ->
      s"""WITH $embCte,
          dots AS (SELECT a.vec_id AS qid, b.vec_id AS vb, SUM(a.q * b.q) AS dot
                   FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id <> b.vec_id
                   WHERE a.vec_id < 10 GROUP BY 1, 2),
          scored AS (SELECT qid, vb, CAST(dot AS DOUBLE) / sqrt(x.nsq * y.nsq) AS cos
                     FROM dots JOIN norms x ON x.vec_id = qid JOIN norms y ON y.vec_id = vb)
          SELECT qid, vb, cos, rank FROM
            (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vb) AS INT) AS rank
             FROM scored)
          WHERE rank <= 5 ORDER BY qid, rank""",
    "x12_embcos_blocked" ->
      s"""WITH $embCte,
          lab AS (SELECT vec_id, label FROM embeddings),
          el AS (SELECT e.vec_id, label, q, pos FROM e JOIN lab USING (vec_id)),
          dots AS (SELECT a.label AS label, a.vec_id AS va, b.vec_id AS vb, SUM(a.q * b.q) AS dot
                   FROM el a JOIN el b ON a.pos = b.pos AND a.label = b.label AND a.vec_id < b.vec_id
                   GROUP BY 1, 2, 3)
          SELECT label, va, vb, CAST(dot AS DOUBLE) / sqrt(x.nsq * y.nsq) AS cos
          FROM dots JOIN norms x ON x.vec_id = va JOIN norms y ON y.vec_id = vb
          WHERE CAST(dot AS DOUBLE) / sqrt(x.nsq * y.nsq) >= 0.3
          ORDER BY va, vb""",
    "x22_stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang,
                  (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
              FROM documents)
         SELECT doc_id, lang FROM b
         WHERE bucket < (CASE WHEN lang = 'en' THEN 64 ELSE 256 END)
         ORDER BY doc_id""",
    "x23_det_shuffle" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
         FROM documents ORDER BY shuffle_key""",
    "x31_doc_chunks" ->
      s"""WITH $tokCte,
          c AS (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // 24)) AS i
                FROM tok)
         SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                CAST(least(32, len(t) - i * 24) AS INT) AS n_chunk_tokens,
                array_to_string(t[i*24 + 1 : i*24 + 32], ' ') AS chunk_text
         FROM c ORDER BY doc_id, chunk_idx""",
    "x29_rand_proj" -> {
      val outDim = 8
      val w = Similarity.planeWeights(64, outDim)
      val rows = (0 until outDim).map { p =>
        s"($p, ${(0 until 64).map(d => w(p)(d).toLong).mkString("[", ", ", "]")})"
      }.mkString(", ")
      s"""WITH $embCte,
          planes AS (SELECT p, unnest(wts) AS wt, unnest(generate_series(1, 64)) AS pos
                     FROM (VALUES $rows) AS t(p, wts))
         SELECT e.vec_id, p AS proj_dim, CAST(SUM(e.q * wt) AS BIGINT) AS v
         FROM e JOIN planes USING (pos) GROUP BY 1, 2 ORDER BY vec_id, proj_dim"""
    },
    "x30_token_rarity" ->
      """WITH dtok AS (SELECT DISTINCT doc_id,
                         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                       FROM documents),
          dfv AS (SELECT tok, count(DISTINCT doc_id) AS df FROM dtok GROUP BY tok)
         SELECT doc_id, count(*) AS n_distinct_tokens,
                round(CAST(SUM(df) AS DOUBLE) / count(*), 6) AS mean_df,
                min(df) AS min_df
         FROM dtok JOIN dfv USING (tok) GROUP BY doc_id ORDER BY doc_id""",
    "x32_salient_terms" ->
      """WITH utok AS (SELECT doc_id,
                         unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                       FROM documents),
          tf AS (SELECT doc_id, tok, count(*) AS tf FROM utok GROUP BY 1, 2),
          dfv AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
          n AS (SELECT count(*) AS n_docs FROM documents),
          scored AS (SELECT doc_id, tok, tf, df, tf * 1000000 * n_docs // df AS score
                     FROM tf JOIN dfv USING (tok) CROSS JOIN n),
          r AS (SELECT *, CAST(row_number() OVER
                  (PARTITION BY doc_id ORDER BY score DESC, tok) AS INT) AS rank
                FROM scored)
         SELECT doc_id, rank, tok, tf, df, score FROM r
         WHERE rank <= 5 ORDER BY doc_id, rank""",
    "x33_emb_neardups" -> annNearDupOracleSql(0.3),
    "x24_pii_redact" ->
      """SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      text || ' contact user' || doc_id || '@mail.example.com or +1-555-'
                           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7',
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '\+\d[\d-]{6,}\d', '<PHONE>', 'g') AS clean
         FROM documents ORDER BY doc_id""",
    "x25_repetition" ->
      s"""WITH $posShingleCte,
          agg AS (SELECT doc_id, count(*) AS total, count(DISTINCT sh) AS dn
                  FROM shp GROUP BY doc_id)
         SELECT d.doc_id,
                round(CASE WHEN a.total > 0
                           THEN CAST(a.total - a.dn AS DOUBLE) / CAST(a.total AS DOUBLE)
                           ELSE 0.0 END, 6) AS rep_ratio
         FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""",
    // the 3-sigma test restated verbatim on the same exact integer
    // sums — identical double op sequence, so the flag hash-matches
    "x82_length_outliers" ->
      s"""WITH $tokCte,
          dd AS (SELECT tok.doc_id, d.lang, CAST(len(tok.t) AS BIGINT) AS n_tokens
                 FROM tok JOIN documents d USING (doc_id)),
          g AS (SELECT lang, count(*) AS n,
                       CAST(SUM(n_tokens) AS BIGINT) AS sx,
                       CAST(SUM(n_tokens * n_tokens) AS BIGINT) AS sxx
                FROM dd GROUP BY lang)
          SELECT dd.doc_id, dd.lang, dd.n_tokens,
                 CAST((CAST(n AS DOUBLE) * CAST(n_tokens AS DOUBLE) - CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(n_tokens AS DOUBLE) - CAST(sx AS DOUBLE))
                    > 9.0 * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS INT) AS is_outlier
          FROM dd JOIN g USING (lang) ORDER BY dd.doc_id""",
    // exact percentiles recomputed outright; the GK rank-error verdicts
    // must be TRUE or the sketch drifted past twice its guarantee
    "x83_quantile_audit" ->
      """SELECT count(*) AS n_rows,
                quantile_cont(l_extendedprice, 0.5) AS exact_p50,
                quantile_cont(l_extendedprice, 0.9) AS exact_p90,
                quantile_cont(l_extendedprice, 0.99) AS exact_p99,
                1 AS p50_within, 1 AS p90_within, 1 AS p99_within
         FROM lineitem""",
    "x26_quality_rules" ->
      s"""WITH $tokCte,
          m AS (SELECT doc_id,
                  CAST(len(t) AS INT) AS n_tokens,
                  CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                    / CAST(greatest(len(t), 1) AS DOUBLE) AS mean_len,
                  CAST(len(list_filter(t, x -> regexp_full_match(x, '[0-9]+'))) AS DOUBLE)
                    / CAST(greatest(len(t), 1) AS DOUBLE) AS num_frac
                FROM tok),
          p AS (SELECT doc_id,
                  CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS np
                FROM documents)
         SELECT m.doc_id,
                round(mean_len, 6) AS mean_tok_len,
                round(num_frac, 6) AS numeric_frac,
                round(np / CAST(greatest(m.n_tokens, 1) AS DOUBLE), 6) AS symbol_per_tok,
                m.n_tokens AS n_tokens,
                CAST(mean_len BETWEEN 3.0 AND 10.0
                     AND np / CAST(greatest(m.n_tokens, 1) AS DOUBLE) < 1.0
                     AND num_frac < 0.3 AND m.n_tokens >= 10 AS INT) AS keep
         FROM m JOIN p USING (doc_id) ORDER BY m.doc_id""",
    "x27_seq_pack" ->
      """WITH b AS (SELECT doc_id,
                  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS INT) AS n_tokens,
                  md5(CAST(doc_id AS VARCHAR)) AS sk
                FROM documents),
          s AS (SELECT doc_id, n_tokens,
                  SUM(n_tokens) OVER (ORDER BY sk ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
                FROM b)
         SELECT doc_id, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
                CAST(start_offset // 512 AS BIGINT) AS bin_id
         FROM s ORDER BY doc_id""",
    // x27's packing CTE + x42's split assignment; the bin-kind rollup
    // must classify every bin identically
    "x182_pack_leakage" ->
      """WITH b AS (SELECT doc_id,
                  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS INT) AS n_tokens,
                  md5(CAST(doc_id AS VARCHAR)) AS sk
                FROM documents),
          s AS (SELECT doc_id,
                  SUM(n_tokens) OVER (ORDER BY sk ROWS UNBOUNDED PRECEDING) - n_tokens AS so
                FROM b),
          p AS (SELECT doc_id, CAST(so // 512 AS BIGINT) AS bin_id FROM s),
          assign AS (SELECT doc_id,
                  CASE WHEN (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 205 THEN 'train'
                       WHEN (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 230 THEN 'val'
                       ELSE 'test' END AS split
                FROM documents),
          k AS (SELECT bin_id, count(*) AS nd,
                  SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS nt,
                  SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS nv,
                  SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS ns
                FROM p JOIN assign USING (doc_id) GROUP BY bin_id),
          c AS (SELECT nd, nv, ns,
                  CASE WHEN (CASE WHEN nt > 0 THEN 1 ELSE 0 END
                           + CASE WHEN nv > 0 THEN 1 ELSE 0 END
                           + CASE WHEN ns > 0 THEN 1 ELSE 0 END) > 1 THEN 'mixed'
                       WHEN nt > 0 THEN 'pure_train'
                       WHEN nv > 0 THEN 'pure_val'
                       ELSE 'pure_test' END AS bin_kind
                FROM k)
         SELECT bin_kind, CAST(count(*) AS BIGINT) AS n_bins,
                CAST(SUM(nd) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN bin_kind = 'mixed' THEN nv + ns ELSE 0 END) AS BIGINT)
                  AS n_eval_docs_at_risk
         FROM c GROUP BY bin_kind ORDER BY bin_kind""",
    "x45_doc_novelty" ->
      s"""WITH $tokCte,
          xg AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-4)) AS i
                 FROM tok WHERE len(t) >= 5),
          sh5 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh FROM xg),
          dfc AS (SELECT sh, count(*) AS df FROM sh5 GROUP BY sh),
          agg AS (SELECT doc_id, count(*) AS n_shingles,
                         SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_unique
                  FROM sh5 JOIN dfc USING (sh) GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(COALESCE(a.n_shingles, 0) AS BIGINT) AS n_shingles,
                CAST(COALESCE(a.n_unique, 0) AS BIGINT) AS n_unique,
                round(CAST(COALESCE(a.n_unique, 0) AS DOUBLE)
                      / greatest(COALESCE(a.n_shingles, 0), 1), 6) AS novelty
         FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""",
    "x44_shard_manifest" ->
      """WITH b AS (SELECT doc_id,
                  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS INT) AS n_tokens,
                  md5(CAST(doc_id AS VARCHAR)) AS sk
                FROM documents),
          s AS (SELECT doc_id, n_tokens,
                  SUM(n_tokens) OVER (ORDER BY sk ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
                FROM b),
          p AS (SELECT doc_id, n_tokens, start_offset,
                  CAST(start_offset // 512 AS BIGINT) AS bin_id FROM s),
          f AS (SELECT doc_id,
                  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
                FROM documents)
         SELECT bin_id, count(*) AS n_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
                md5(string_agg(fp, '|' ORDER BY start_offset)) AS shard_md5
         FROM p JOIN f USING (doc_id)
         GROUP BY bin_id ORDER BY bin_id""",
    // the same verified pair plane + the same 5-gram seeds (renamed
    // CTEs — the minhash chain already owns tok/xg/sh), then two
    // unrolled min-distance relaxations; least() NULL semantics match
    "x96_contam_spread" ->
      s"""WITH $minhashCte,
          $minhashCandCte,
          $jaccardVerifyCte,
          xg5 AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-4)) AS i
                  FROM tok WHERE len(t) >= 5),
          sh5 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh FROM xg5),
          bench5 AS (SELECT DISTINCT sh FROM sh5 WHERE doc_id % 20 = 0),
          seeds AS (SELECT DISTINCT doc_id FROM sh5
                    WHERE doc_id % 20 <> 0 AND sh IN (SELECT sh FROM bench5)),
          tp AS (SELECT doc_a, doc_b FROM verified
                 WHERE doc_a % 20 <> 0 AND doc_b % 20 <> 0),
          und AS (SELECT doc_a AS src, doc_b AS dst FROM tp
                  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM tp),
          d0 AS (SELECT d.doc_id, CASE WHEN s.doc_id IS NOT NULL THEN 0 END AS dist
                 FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
                 LEFT JOIN seeds s USING (doc_id)),
          r1 AS (SELECT u.dst AS doc_id, min(d.dist + 1) AS nd
                 FROM und u JOIN d0 d ON u.src = d.doc_id
                 WHERE d.dist IS NOT NULL GROUP BY 1),
          d1 AS (SELECT d0.doc_id, least(d0.dist, r1.nd) AS dist
                 FROM d0 LEFT JOIN r1 USING (doc_id)),
          r2 AS (SELECT u.dst AS doc_id, min(d.dist + 1) AS nd
                 FROM und u JOIN d1 d ON u.src = d.doc_id
                 WHERE d.dist IS NOT NULL GROUP BY 1),
          d2 AS (SELECT d1.doc_id, least(d1.dist, r2.nd) AS dist
                 FROM d1 LEFT JOIN r2 USING (doc_id))
         SELECT doc_id, dist AS hop_dist,
                CAST(dist IS NOT NULL AS INT) AS is_suspect
         FROM d2 ORDER BY doc_id""",
    "x28_decontam" ->
      s"""WITH $tokCte,
          xg AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-4)) AS i
                 FROM tok WHERE len(t) >= 5),
          sh5 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh FROM xg),
          bench AS (SELECT DISTINCT sh FROM sh5 WHERE doc_id % 20 = 0),
          hits AS (SELECT doc_id, count(*) AS n_hits FROM sh5
                   WHERE doc_id % 20 <> 0 AND sh IN (SELECT sh FROM bench)
                   GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
                CAST(COALESCE(h.n_hits, 0) > 0 AS INT) AS is_contaminated
         FROM documents d LEFT JOIN hits h USING (doc_id)
         WHERE d.doc_id % 20 <> 0 ORDER BY d.doc_id""",
    // winnow-fingerprint overlap screen (x10's fingerprint CTE, x28's
    // split/semi-join shape); flagged at ≥2 shared fingerprints
    "x50_contam_fp" ->
      s"""WITH $posShingleCte,
          w AS (SELECT doc_id, min(md5(sh)) OVER
                  (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                FROM shp),
          fps AS (SELECT DISTINCT doc_id, fp FROM w),
          bench AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 20 = 0),
          hits AS (SELECT doc_id, count(*) AS n_shared FROM fps
                   WHERE doc_id % 20 <> 0 AND fp IN (SELECT fp FROM bench)
                   GROUP BY doc_id)
          SELECT d.doc_id, COALESCE(h.n_shared, 0) AS n_shared,
                 CAST(COALESCE(h.n_shared, 0) >= 2 AS INT) AS is_flagged
          FROM documents d LEFT JOIN hits h USING (doc_id)
          WHERE d.doc_id % 20 <> 0 ORDER BY d.doc_id""",
    // hex-arithmetic decode oracle: byte k of frame i is read out of the
    // payload's hex string (two nibbles → 0-255), then the per-frame
    // (mean, min, max) statistics reproduce the stub decode exactly —
    // mean = sum/64 divides by a power of two, so the double is exact.
    "x15_mm_decode" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
                    FROM documents),
          fr AS (SELECT doc_id, n, unnest(generate_series(0, (n - 64) // 48)) AS i
                 FROM b WHERE n >= 64),
          byt AS (SELECT f.doc_id, f.i,
                    (strpos('0123456789ABCDEF', substring(b.hx, (f.i*48 + k.k - 1)*2 + 1, 1)) - 1) * 16
                  + (strpos('0123456789ABCDEF', substring(b.hx, (f.i*48 + k.k - 1)*2 + 2, 1)) - 1) AS v
                  FROM fr f JOIN b USING (doc_id) CROSS JOIN generate_series(1, 64) AS k(k)),
          agg AS (SELECT doc_id, i, SUM(v) / 64.0 AS fmean,
                         CAST(MIN(v) AS DOUBLE) AS fmin, CAST(MAX(v) AS DOUBLE) AS fmax
                  FROM byt GROUP BY 1, 2),
          flat AS (SELECT doc_id, CAST(i*3 + j.j AS INT) AS feat_idx,
                          CASE j.j WHEN 0 THEN fmean WHEN 1 THEN fmin ELSE fmax END AS val
                   FROM agg CROSS JOIN generate_series(0, 2) AS j(j)),
          hdr AS (SELECT doc_id, CAST(n AS INT) AS n_bytes,
                         CAST(CASE WHEN n >= 64 THEN (n - 64) // 48 + 1 ELSE 0 END AS INT) AS n_frames
                  FROM b)
         SELECT h.doc_id, h.n_bytes, h.n_frames, f.feat_idx, f.val
         FROM hdr h LEFT JOIN flat f USING (doc_id)
         ORDER BY doc_id, feat_idx""",
    // identical decimation recomputed from the hex encoding
    "x80_mm_resize" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
                           octet_length(encode(text)) AS n
                    FROM documents),
          p AS (SELECT doc_id, hx, n, greatest(1, n // 16) AS stride FROM b),
          idx AS (SELECT doc_id, hx, stride,
                         unnest(generate_series(0, least(15, (n - 1) // stride))) AS i
                  FROM p WHERE n > 0),
          th AS (SELECT doc_id,
                        string_agg(lower(substring(hx, i * stride * 2 + 1, 2)), '' ORDER BY i) AS thumb_hex
                 FROM idx GROUP BY doc_id)
         SELECT b.doc_id, CAST(b.n AS INT) AS n_bytes,
                coalesce(th.thumb_hex, '') AS thumb_hex
         FROM b LEFT JOIN th USING (doc_id) ORDER BY doc_id""",
    // the same stride fingerprints, chunk-blocked candidates, and exact
    // per-byte agreement restated over the hex encoding
    "x173_media_neardups" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
                           octet_length(encode(text)) AS n
                    FROM documents),
          p AS (SELECT doc_id, hx, n, greatest(1, n // 16) AS stride
                FROM b WHERE n >= 16),
          idx AS (SELECT doc_id, hx, stride,
                         unnest(generate_series(0, least(15, (n - 1) // stride))) AS i
                  FROM p),
          th AS (SELECT doc_id,
                        string_agg(lower(substring(hx, i * stride * 2 + 1, 2)), ''
                                   ORDER BY i) AS thumb
                 FROM idx GROUP BY doc_id),
          tf AS (SELECT doc_id, thumb FROM th WHERE length(thumb) = 32),
          ch AS (SELECT doc_id, thumb, ci, substring(thumb, ci * 8 + 1, 8) AS chunk
                 FROM tf CROSS JOIN generate_series(0, 3) AS g(ci)),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          a.thumb AS ta, b.thumb AS tb
                   FROM ch a JOIN ch b
                     ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
          eq AS (SELECT doc_a, doc_b,
                        CAST(SUM(CASE WHEN substring(ta, i * 2 + 1, 2)
                                         = substring(tb, i * 2 + 1, 2)
                                      THEN 1 ELSE 0 END) AS INT) AS n_equal_bytes
                 FROM cand CROSS JOIN generate_series(0, 15) AS h(i)
                 GROUP BY doc_a, doc_b)
         SELECT doc_a, doc_b, n_equal_bytes FROM eq
         WHERE n_equal_bytes >= 12 ORDER BY doc_a, doc_b""",

    "x174_dedup_horizon" ->
      """WITH g AS (SELECT epoch_us(ts) AS us,
                           lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                                   ORDER BY ts, event_id) AS prev
                    FROM events),
          r AS (SELECT us - prev AS gap_us FROM g WHERE prev IS NOT NULL),
          bk AS (SELECT CASE WHEN gap_us <= 60000000 THEN 'a_1m'
                             WHEN gap_us <= 3600000000 THEN 'b_1h'
                             WHEN gap_us <= 21600000000 THEN 'c_6h'
                             WHEN gap_us <= 86400000000 THEN 'd_1d'
                             ELSE 'e_more' END AS bucket FROM r),
          pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_repeats
                 FROM bk GROUP BY bucket),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM bk)
         SELECT bucket, n_repeats,
                (CAST(SUM(n_repeats) OVER (ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) * 1000000) // total
                  AS captured_ppm
         FROM pb, tot ORDER BY bucket""",

    "x14_mm_features" ->
      """SELECT doc_id,
                octet_length(encode(text)) AS n_bytes,
                'text/plain' AS mime,
                lower(substring(hex(encode(text)), 1, 32)) AS head_hex,
                md5(text) AS content_md5,
                CASE WHEN octet_length(encode(text)) >= 64
                     THEN (octet_length(encode(text)) - 64) // 48 + 1 ELSE 0 END AS n_frames
         FROM documents ORDER BY doc_id""")
}
