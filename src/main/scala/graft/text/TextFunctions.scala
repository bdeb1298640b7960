package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline extensions
  * (builder prompt: dedup / language-ID / quality scoring / token counting /
  * fingerprinting). All pure Column expressions — codegen'd, no UDFs — so
  * they vectorize inside WholeStageCodegen at 100 TB.
  */
object TextFunctions {

  /** Whitespace tokens of the lower-cased, trimmed text. */
  def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** BPE-ish lexer tokens: letter runs, digit runs, single punctuation.
    * (Both Spark and DuckDB expose regexp_extract_all with RE2-compatible
    * syntax, so this stays oracle-checkable.) */
  def bpeTokens(c: Column): Column =
    regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Contiguous n-token shingles ("a b c") over the token array.
    * Empty when the document has fewer than n tokens. */
  def shingles(tok: Column, n: Int = 3): Column =
    when(size(tok) >= n,
      transform(sequence(lit(1), size(tok) - (n - 1)),
        i => concat_ws(" ", slice(tok, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Number of tokens that appear in `words` (duplicates counted). */
  def hitCount(tok: Column, words: Seq[String]): Column =
    size(filter(tok, t => t.isin(words.map(w => w: Any): _*)))

  /** Punctuation characters (anything outside [A-Za-z0-9 whitespace]). */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[^A-Za-z0-9\\s]", ""))

  /** Canonical form for exact-dedup fingerprinting: lower, collapse runs
    * of whitespace, trim. Collapse-then-trim, not the reverse: `trim`
    * strips only spaces, so a trailing tab would survive it, collapse to
    * a trailing space, and break idempotence (property-tested). */
  def normalized(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** 128-bit content fingerprint of the canonical form (md5 is available
    * verbatim in the DuckDB oracle; for pure speed xxhash64 is the
    * in-engine alternative). */
  def fingerprint(c: Column): Column = md5(normalized(c))

  /** Small per-language marker-word lists for the n-gram/stopword
    * language-ID heuristic. Deterministic, priority-ordered. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "y", "que", "los", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "pour"),
    "zh" -> Seq("的", "是", "不", "了", "在"))

  /** Language-ID: argmax of marker hits with fixed priority-order
    * tie-breaking; 'und' when nothing matches.
    *
    * Composition form only — the `when`-chain duplicates every hit-count
    * subtree (HOFs get no codegen and no cross-expression CSE), so over
    * an *unmaterialized* token expression the tokenizer re-runs dozens
    * of times per row. For anything hot, use [[withTextSignals]], which
    * names the token array and the hit counts first; this form is fine
    * when `tok` is already a plain column reference AND the result is
    * consumed once. */
  def langId(tok: Column): Column =
    langIdOver(LangMarkers.map { case (lang, words) => lang -> hitCount(tok, words) })

  /** Argmax of pre-computed (lang, hitCount) columns — cheap when the
    * hit counts are named columns (the `when`-chain then duplicates only
    * bound references). */
  private def langIdOver(hits: Seq[(String, Column)]): Column = {
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und"): Column) { case ((lang, h), acc) =>
      when(h > 0 && h === best, lit(lang)).otherwise(acc)
    }
  }

  /** One-pass DataFrame form of [[langId]] / [[qualityScore]] /
    * token counting: tokenize ONCE into a named column, compute ALL six
    * marker hit counts (five languages + combined stopwords) in ONE
    * codegen'd array traversal ([[graft.functions.MarkerHits]] — the
    * HOF form walked the array six times, interpreted), then argmax/
    * score over the named counts. Named non-cheap columns are
    * multi-referenced, so CollapseProject keeps them un-inlined — each
    * stage runs once per row instead of once per `when`-arm (the same
    * lesson as `Dedup.docShingles`; without it the x19 curation filter
    * was a 10× per-row CPU regression). Pass None to skip an output;
    * `tokensCol` keeps the token array under that name for callers that
    * derive more per-row signals from it. */
  def withTextSignals(df: DataFrame, textCol: String = "text",
                      langCol: Option[String] = Some("lang_detected"),
                      qualityCol: Option[String] = Some("quality"),
                      nTokensCol: Option[String] = Some("n_tokens"),
                      tokensCol: Option[String] = None): DataFrame = {
    val T = "__graft_tok"
    val H = "__graft_hits"
    val hitName = LangMarkers.map { case (lang, _) => lang -> s"__graft_h_$lang" }.toMap
    val AllHits = "__graft_h_all"
    // NO ensureParallelism here (r16): the r15 widen keyed the
    // repartition on the full TEXT column — an exchange that ships
    // every document — and the driver measured x7_lang_id 2.1× over
    // the host band for it, while no withTextSignals consumer was ever
    // credited a win (x117 read flat in the r15 A/B log). Locally
    // confirmed: x7 0.66 s with the widen vs 0.29 s anchor.
    var out = df.withColumn(T, tokens(col(textCol)))
    val tok = col(T)
    if (langCol.isDefined || qualityCol.isDefined) {
      // the combined marker list overlaps across languages ("la" ∈ es∩fr),
      // so the stopword count is its own membership test, not Σ h_lang —
      // it rides the same single traversal as a sixth set
      val allLists = LangMarkers.map(_._2) :+ LangMarkers.flatMap(_._2)
      out = out.withColumn(H, graft.functions.MarkerHits.marker_hits(tok, allLists))
      LangMarkers.zipWithIndex.foreach { case ((lang, _), i) =>
        out = out.withColumn(hitName(lang), col(H).getItem(i))
      }
      out = out.withColumn(AllHits, col(H).getItem(LangMarkers.size))
    }
    langCol.foreach { c =>
      out = out.withColumn(c,
        langIdOver(LangMarkers.map { case (lang, _) => lang -> col(hitName(lang)) }))
    }
    qualityCol.foreach { c =>
      val nTok = size(tok).cast("double")
      val lenScore = least(nTok / 100.0, lit(1.0))
      val punctRatio = punctCount(col(textCol)).cast("double") /
        greatest(length(col(textCol)), lit(1)).cast("double")
      val stopRatio = col(AllHits).cast("double") / greatest(size(tok), lit(1)).cast("double")
      out = out.withColumn(c,
        round(lit(0.4) * lenScore + lit(0.4) * (lit(1.0) - punctRatio) + lit(0.2) * stopRatio, 6))
    }
    nTokensCol.foreach(c => out = out.withColumn(c, size(tok)))
    tokensCol.foreach(c => out = out.withColumn(c, tok))
    out.drop(T +: H +: AllHits +: LangMarkers.map(m => hitName(m._1)): _*)
  }

  /** Markup stripping for web-corpus cleaning: drop tags, then unescape
    * the common entities. Regex tag-stripping is the standard first pass
    * (a full HTML parser is a UDF-shaped cost — this stays codegen'd). */
  def stripMarkup(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val unescaped = Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (acc, (e, r)) => regexp_replace(acc, e, r) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** URL canonicalization for web-scale dedup: lower-case scheme+host,
    * drop the fragment and tracking query parameters, trim dangling
    * separators and a trailing slash. Pure regex passes — one projection
    * per billion URLs. */
  def canonicalUrl(c: Column): Column = {
    val noFrag = regexp_replace(c, "#.*$", "")
    val noUtm = regexp_replace(noFrag, "([?&])(utm_[a-z]+|ref|fbclid)=[^&]*", "$1")
    val clean = regexp_replace(regexp_replace(noUtm, "[?&]+$", ""), "\\?&", "?")
    val prefix = lower(regexp_extract(clean, "^([A-Za-z]+://[^/]*)", 1))
    val rest = regexp_replace(clean, "^[A-Za-z]+://[^/]*", "")
    regexp_replace(concat(prefix, rest), "/$", "")
  }

  /** PII redaction for training-corpus scrubbing: emails, IPv4 addresses
    * and +-prefixed phone numbers replaced by typed placeholders. Pure
    * regex passes (RE2-compatible, so the oracle reproduces them); order
    * matters — emails first (their local part may contain digits), then
    * IPs, then phones (anchored on the leading '+' so they cannot eat
    * IP octets). */
  def redactPii(c: Column): Column = {
    val noEmail = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val noIp = regexp_replace(noEmail,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(noIp, "\\+\\d[\\d-]{6,}\\d", "<PHONE>")
  }

  /** Within-document repetition: fraction of positional n-gram shingles
    * that are duplicates (1 - distinct/total) — the repetition signal
    * boilerplate-heavy documents trip in curation rule sets. 0 for
    * documents too short to shingle. Pure per-row expressions — but
    * composition-form only: pass a NAMED token column, never a raw
    * `tokens(text)` expression (the shingle transform would re-run the
    * regex split once per shingle per row; the x25 query materializes
    * tokens and shingles as columns first). */
  def repetitionRatio(tok: Column, n: Int = 3): Column =
    repetitionRatioOfShingles(shingles(tok, n))

  /** [[repetitionRatio]] over an already-built positional shingle array
    * (pass a NAMED column, duplicates kept): for callers that keep the
    * shingles for other uses, so they are built once. */
  def repetitionRatioOfShingles(sh: Column): Column = {
    val total = size(sh)
    round(when(total > 0,
      (total - size(array_distinct(sh))).cast("double") / total.cast("double"))
      .otherwise(0.0), 6)
  }

  /** Heuristic quality score in [0,1]: rewards length (up to 100 tokens),
    * penalizes punctuation density, rewards stopword naturalness.
    * Composition form — tokenizes `text` inline (3× per row); hot paths
    * use [[withTextSignals]], which shares one named token column. */
  def qualityScore(text: Column): Column = {
    val tok = tokens(text)
    val nTok = size(tok).cast("double")
    val lenScore = least(nTok / 100.0, lit(1.0))
    val punctRatio = punctCount(text).cast("double") / greatest(length(text), lit(1)).cast("double")
    val stopRatio = hitCount(tok, LangMarkers.flatMap(_._2)).cast("double") /
      greatest(size(tok), lit(1)).cast("double")
    round(lit(0.4) * lenScore + lit(0.4) * (lit(1.0) - punctRatio) + lit(0.2) * stopRatio, 6)
  }
}
