package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Artifacts
import graft.Tables

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table: token counting, quality scoring, language-ID and document
  * fingerprinting. All but langId are pure `functions._` column expressions
  * (whole-stage codegen'd, no UDFs) so they hold up on 100 TB of text.
  */
object TextFunctions {

  /** Whitespace spelled as an explicit character class — the SAME pattern
    * text compiles identically in Java regex (Spark) and RE2 (DuckDB
    * oracles). Bare `\s` is a dialect trap: Java's includes vertical tab
    * \x0B, RE2's does not, so a document containing a VT would tokenize
    * differently on the two sides of the hash-compare gate (the PhoneRe
    * hazard, applied to every shared tokenizer). Oracle SQL strings inline
    * the same class; RepoHygieneSpec rejects any bare `\s` creeping back
    * into registered oracle SQL. */
  val WsChars = " \\t\\n\\x0B\\f\\r"
  val Ws = s"[$WsChars]"

  /** Single-space-normalized, lowercased text — the canonical form every
    * dedup/fingerprint operator keys on. */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, Ws + "+", " ")))

  /** Driver-side twin of [[normText]] for per-row kernels (winnowing, the
    * portable polynomial fingerprint). */
  def normString(t: String): String =
    t.toLowerCase.replaceAll(Ws + "+", " ").trim

  /** Whitespace token count: non-empty pieces of a whitespace split.
    * (Counting non-empty pieces, rather than trim-then-split, is robust to
    * leading tabs/newlines — Spark's `trim` strips only spaces.) */
  def tokenCount(c: Column): Column =
    size(filter(split(c, Ws + "+"), t => length(t) > 0))

  /** Token array (lowercased, whitespace-split). */
  def tokens(c: Column): Column =
    filter(split(normText(c), " "), t => length(t) > 0)

  /** String n-grams over a token array (1-based sliding window, joined with
    * a space); empty when fewer than n tokens. The ONE windowing
    * implementation string-level consumers share (`Dedup.docShingles` keeps
    * its hashed variant — same window, xxhash64 combiner, long output). */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  // ------------------------------------------------------------ quality
  /** Heuristic document-quality metrics: length, token stats, alpha/digit/
    * punct ratios, and a clamped composite score. Mirrors the ratio-based
    * quality filters used by public LLM-corpus pipelines (C4/Gopher-style
    * rules); every term is plain column arithmetic. */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val len = length(t).cast("double")
    val nTok = tokenCount(t).cast("double")
    // raw (unrounded) ratios — the composite score MUST be computed from
    // these, not the rounded display columns, so Spark and the DuckDB oracle
    // perform bit-identical IEEE arithmetic before the final round
    val alphaRatio = length(regexp_replace(t, "[^A-Za-z]", "")) / nullif(len, lit(0.0))
    val digitRatio = length(regexp_replace(t, "[^0-9]", "")) / nullif(len, lit(0.0))
    val avgTokLen = length(regexp_replace(t, Ws + "+", "")) / nullif(nTok, lit(0.0))
    df
      .withColumn("n_chars_m", length(t))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("alpha_ratio", round(alphaRatio, 6))
      .withColumn("digit_ratio", round(digitRatio, 6))
      .withColumn("avg_token_len", round(avgTokLen, 6))
      .withColumn("quality_score",
        round(least(lit(1.0), greatest(lit(0.0),
          alphaRatio * 0.5
            + least(nTok / 100.0, lit(1.0)) * 0.3
            + least(avgTokLen / 10.0, lit(1.0)) * 0.2)), 6))
  }

  /** The exploded corpus token stream (doc_id, lang, term), a session
    * artifact: in production a MATERIALIZED per-ingest table, read by the
    * sketch family and the TF-IDF ranker instead of re-running the
    * tokenizer over the full corpus. */
  def tokenInstances(spark: SparkSession, dir: String): DataFrame =
    Artifacts.tokenInstances(spark, dir) {
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          explode(tokens(col("text"))).as("term"))
    }

  /** The per-doc quality columns, a session artifact: in production
    * MATERIALIZED metadata columns written once per ingest, so no
    * consumer re-runs four full-text regex passes. */
  def qualityQuery(spark: SparkSession, dir: String): DataFrame =
    Artifacts.qualityCols(spark, dir) {
      qualityMetrics(Tables.documents(spark, dir), "text")
        .select("doc_id", "n_chars_m", "n_tokens", "alpha_ratio", "digit_ratio",
          "avg_token_len", "quality_score")
    }

  /** DuckDB oracle for the quality metrics. regexp_replace carries the 'g'
    * flag (DuckDB replaces only the first match by default; Spark replaces
    * all). */
  val qualityQuerySql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    LENGTH(text) AS n_chars_m,
      |    CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
      |         x -> x <> '')) AS INT) AS n_tokens,
      |    LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
      |    LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
      |    LENGTH(regexp_replace(text, '[ \t\n\x0B\f\r]+', '', 'g')) AS n_nonspace
      |  FROM documents)
      |SELECT doc_id, n_chars_m, n_tokens,
      |  ROUND(n_alpha / NULLIF(CAST(n_chars_m AS DOUBLE), 0.0), 6) AS alpha_ratio,
      |  ROUND(n_digit / NULLIF(CAST(n_chars_m AS DOUBLE), 0.0), 6) AS digit_ratio,
      |  ROUND(n_nonspace / NULLIF(CAST(n_tokens AS DOUBLE), 0.0), 6) AS avg_token_len,
      |  ROUND(LEAST(1.0, GREATEST(0.0,
      |    (n_alpha / NULLIF(CAST(n_chars_m AS DOUBLE), 0.0)) * 0.5
      |    + LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
      |    + LEAST((n_nonspace / NULLIF(CAST(n_tokens AS DOUBLE), 0.0)) / 10.0, 1.0) * 0.2)), 6)
      |    AS quality_score
      |FROM base""".stripMargin

  // ------------------------------------------------------------ lang-ID
  /** Tiny per-language stopword profiles (public, common function words).
    * Deterministic n-gram-free heuristic: score = fraction of tokens hitting
    * each language's stopword set; argmax wins, 'und' (undetermined) when
    * nothing scores. */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
      "was", "for", "on", "with", "as", "at", "by", "it", "this", "that"),
    "fr" -> Seq("le", "la", "les", "un", "une", "des", "et", "ou", "de", "du",
      "en", "est", "sont", "pour", "sur", "avec", "au", "par", "ce", "que"),
    "de" -> Seq("der", "die", "das", "ein", "eine", "und", "oder", "von", "zu",
      "im", "ist", "sind", "für", "auf", "mit", "als", "bei", "es", "dies", "dass"),
    "es" -> Seq("el", "la", "los", "las", "un", "una", "y", "o", "de", "del",
      "en", "es", "son", "para", "sobre", "con", "al", "por", "este", "que"))

  /** Reference (spec) form of the per-language score: fraction of tokens
    * hitting the language's stopword set, as an interpreted higher-order
    * lambda. Kept ONLY as the executable specification the fast relational
    * [[langIdQuery]] is regression-tested against — do not use in a hot
    * path (it cost 15.6 s at sf0.1 in round 1). */
  def langScores(tokCol: Column): Map[String, Column] =
    stopwords.map { case (lang, words) =>
      val wordArr = array(words.map(lit): _*)
      lang -> (size(filter(tokCol, t => array_contains(wordArr, t))).cast("double")
        / nullif(size(tokCol).cast("double"), lit(0.0)))
    }

  /** Language-ID as pure relational ops (the 100 TB shape): explode tokens
    * once (explode_outer keeps empty docs), left-join the broadcast
    * (lang, word) stopword table, conditional-sum hits per (doc, lang) in a
    * single hash aggregate, then argmax with a greatest+CASE cascade. All
    * codegen'd; the shuffle carries one 4-counter row per doc (partial aggs
    * collapse the token fan-out map-side). */
  def langIdQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val langs = stopwords.keys.toSeq.sorted
    val langWords = stopwords.toSeq
      .flatMap { case (l, ws) => ws.map(w => (l, w)) }
      .toDF("sw_lang", "sw_word")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")))
    val hits = docs
      .select(col("doc_id"), col("lang"), col("n_toks"),
        explode_outer(col("toks")).as("tok"))
      .join(broadcast(langWords), col("tok") === col("sw_word"), "left")
      .groupBy("doc_id", "lang", "n_toks")
      .agg(
        sum(when(col("sw_lang") === langs.head, 1L).otherwise(0L)).as(s"hits_${langs.head}"),
        langs.tail.map(l =>
          sum(when(col("sw_lang") === l, 1L).otherwise(0L)).as(s"hits_$l")): _*)
    val scored = langs.foldLeft(hits) { (d, l) =>
      d.withColumn(s"score_$l",
        round(coalesce(col(s"hits_$l").cast("double")
          / nullif(col("n_toks").cast("double"), lit(0.0)), lit(0.0)), 6))
    }
    val best = greatest(langs.map(l => col(s"score_$l")): _*)
    val pred = langs.foldRight(lit("und")) { (l, acc) =>
      when(col(s"score_$l") === best && best > 0.0, lit(l)).otherwise(acc)
    }
    scored
      .withColumn("pred_lang", pred)
      .select(Seq(col("doc_id"), col("lang"), col("pred_lang"))
        ++ langs.map(l => col(s"score_$l")): _*)
  }

  /** DuckDB oracle for lang-ID: the same scoring via scalar list expressions
    * (list_filter + list_contains mirror the Spark spec lambda exactly);
    * scores rounded to 6 dp BEFORE the argmax cascade on both sides. */
  def langIdQuerySql: String = {
    val langs = stopwords.keys.toSeq.sorted
    def wordList(l: String): String =
      stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
    val scoreExprs = langs.map { l =>
      s"""ROUND(COALESCE(CAST(len(list_filter(toks, t -> list_contains(${wordList(l)}, t))) AS DOUBLE)
         |      / NULLIF(CAST(len(toks) AS DOUBLE), 0.0), 0.0), 6) AS score_$l""".stripMargin
    }.mkString(",\n    ")
    val bestExpr = langs.map(l => s"score_$l").mkString("GREATEST(", ", ", ")")
    val predCascade = langs.map(l =>
      s"WHEN score_$l = $bestExpr AND $bestExpr > 0.0 THEN '$l'").mkString("\n    ")
    s"""WITH toked AS (
       |  SELECT doc_id, lang,
       |    list_filter(str_split(lower(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))), ' '),
       |                x -> x <> '') AS toks
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, lang,
       |    $scoreExprs
       |  FROM toked)
       |SELECT doc_id, lang,
       |  CASE $predCascade ELSE 'und' END AS pred_lang,
       |  ${langs.map(l => s"score_$l").mkString(", ")}
       |FROM scored""".stripMargin
  }

  // ----------------------------------------------- shared oracle SQL parts
  // DuckDB mirrors of the portable kernels, each generated in ONE place so
  // the SQL cannot silently drift from the Scala it must stay
  // bit-equivalent to (parity findings: four sites used to carry private
  // copies of the fold / tokenizer).

  /** The whitespace tokenizer as a CTE over any (doc_id, text) relation:
    * one (doc_id, tok) row per non-empty token — mirrors [[tokens]]. */
  def tokedCteSqlOver(rel: String): String =
    raw"""toked AS (
      |  SELECT doc_id,
      |    UNNEST(list_filter(str_split(lower(trim(regexp_replace(text,
      |      '[ \t\n\x0B\f\r]+', ' ', 'g'))), ' '), t -> len(t) > 0)) AS tok
      |  FROM $rel)""".stripMargin

  /** [[tokedCteSqlOver]] instantiated on `documents`. */
  val tokedCteSql: String = tokedCteSqlOver("documents")

  /** The whitespace tokenizer kept as a token LIST per document — the
    * n-gram/window consumers' shape of [[tokedCteSql]], same normalization. */
  val tokListCteSql: String =
    raw"""toklist AS (
      |  SELECT doc_id,
      |    list_filter(str_split(lower(trim(regexp_replace(text,
      |      '[ \t\n\x0B\f\r]+', ' ', 'g'))), ' '), t -> len(t) > 0) AS toks
      |  FROM documents)""".stripMargin

  /** The bare polynomial fold of `expr`'s characters (mirrors
    * [[polyHash]]), unsigned HUGEINT mod 2^64. */
  def polyFoldSql(expr: String): String =
    s"""list_reduce(list_prepend(0::HUGEINT,
       |        list_transform(split($expr, ''), c -> CAST(unicode(c) AS HUGEINT))),
       |      (acc, ch) -> (acc * 1000000007 + ch) % 18446744073709551616::HUGEINT)""".stripMargin

  /** Fold × xorshift* finisher (mirrors `Dedup.portableTokenHash` and the
    * split hash — the constant is < 2^62 so the HUGEINT product of a
    * mod-2^64 value stays inside INT128), unsigned HUGEINT mod 2^64. */
  def polyMixSql(expr: String): String =
    s"""(${polyFoldSql(expr)}
       |      * 2685821657736338717::HUGEINT) % 18446744073709551616::HUGEINT""".stripMargin

  /** Two's-complement wrap of an unsigned HUGEINT expression to BIGINT. */
  def wrapSignedSql(expr: String): String =
    s"""CAST(CASE WHEN $expr >= 9223372036854775808::HUGEINT
       |     THEN $expr - 18446744073709551616::HUGEINT ELSE $expr END AS BIGINT)""".stripMargin

  /** Unsigned mod-2^64 reinterpretation of a signed BIGINT expression —
    * the inverse of [[wrapSignedSql]], needed wherever a DuckDB mirror
    * feeds stored/derived signed hash values back into the fold. */
  def unsignedSql(expr: String): String =
    s"""(CASE WHEN $expr < 0
       |      THEN CAST($expr AS HUGEINT) + 18446744073709551616::HUGEINT
       |      ELSE CAST($expr AS HUGEINT) END)""".stripMargin

  /** One fold step over UNSIGNED HUGEINT values — the DuckDB twin of the
    * codegen'd `PolyStep` expression (acc·1000000007 + x mod 2^64). Both
    * operands must already be < 2^64: the INT128 intermediate acc·B + x
    * stays < 2^95. */
  def polyStepSql(acc: String, x: String): String =
    s"""(($acc * 1000000007::HUGEINT + $x)
       |       % 18446744073709551616::HUGEINT)""".stripMargin

  /** The golden-ratio finisher over an UNSIGNED HUGEINT value — the
    * DuckDB twin of `PolyFinish` (constant < 2^62, so the INT128 product
    * of a mod-2^64 value cannot overflow). */
  def polyFinishSql(expr: String): String =
    s"""(($expr * 2685821657736338717::HUGEINT)
       |       % 18446744073709551616::HUGEINT)""".stripMargin

  // ------------------------------------------------------------ fingerprint
  /** 64-bit document fingerprint: xxhash64 over the normalized text — the
    * exact-dup key that survives whitespace/case jitter. Codegen'd built-in
    * hash, no UDF. The SCALE-path fingerprint. */
  def fingerprint(c: Column): Column = xxhash64(normText(c))

  /** Polynomial 64-bit hash (base 1e9+7, natural Long wraparound) over a
    * string — the engine-portable fingerprint: the same fold is expressible
    * in DuckDB HUGEINT mod-2^64 arithmetic, so unlike xxhash64 it can be
    * hash-oracled. Shares the winnowing scheme's hash family.
    *
    * CHARSET CONTRACT: this fold (and the codegen'd [[PolyHash]]
    * expression) iterates UTF-16 units (`charAt`), while the DuckDB mirror
    * ([[polyFoldSql]]) iterates Unicode code points — they agree on the
    * Basic Multilingual Plane and diverge on astral characters (surrogate
    * pairs fold as two values vs one). The corpus the oracles run over is
    * pinned printable-ASCII by the MultimodalSpec precondition test; a
    * deployment hashing astral text keeps self-consistent values but must
    * not expect DuckDB parity on those rows. */
  def polyHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = h * 1000000007L + s.charAt(i); i += 1 }
    h
  }

  /** Registered fingerprint query: md5 of the raw text plus the portable
    * polynomial fingerprint of the NORMALIZED text — both recomputable by
    * the DuckDB oracle, giving the fingerprint family a full hash gate
    * (the xxhash64 [[fingerprint]] column stays API-only; its collision
    * behavior is cross-checked in TextSpec against md5 groups). Since r6
    * the fold is the native codegen'd [[PolyHash]] expression over the
    * [[normText]] column — `normText` ≡ the old UDF's `normString`
    * (collapse-whitespace then trim then lower commute), so values are
    * unchanged. */
  def fingerprintQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        HashExpressions.poly_hash(normText(col("text"))).as("poly_fp"),
        md5(col("text")).as("md5_hex"))

  val fingerprintQuerySql: String =
    raw"""WITH norm AS (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS s
      |  FROM documents)
      |SELECT doc_id,
      |  ${wrapSignedSql("hu")} AS poly_fp,
      |  md5(text) AS md5_hex
      |FROM (SELECT doc_id, text,
      |  ${polyFoldSql("s")} AS hu
      |  FROM norm)""".stripMargin

  // ------------------------------------------------------------ BPE-ish
  /** BPE-ish pre-tokenization (the GPT-2-style split simplified to its
    * ASCII core so the regex is portable between Java and RE2): letter runs,
    * digit runs, and single non-space punctuation each become one
    * pre-token. Counts approximate LLM token budgets far better than
    * whitespace words (punctuation and numbers tokenize separately). */
  val BpeIshPattern = s"[A-Za-z]+|[0-9]+|[^A-Za-z0-9$WsChars]"

  def bpeTokens(c: Column): Column = regexp_extract_all(c, lit(BpeIshPattern), lit(0))

  def bpeTokenCount(c: Column): Column = size(bpeTokens(c))

  def bpeCountQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        tokenCount(col("text")).as("n_ws_tokens"))

  val bpeCountQuerySql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS INT)
      |    AS n_bpe_tokens,
      |  CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS INT)
      |    AS n_ws_tokens
      |FROM documents""".stripMargin

  // ------------------------------------------------------------ search
  /** Keyword search over documents — the relational stand-in for the
    * reference's ES full-text query facet (`.keyword` vs `text` mapping,
    * `to_elasticsearch.py:121-129`): case-insensitive containment + a
    * leading snippet. LIKE on a lowered column pushes to the scan as a
    * string-contains filter. */
  def keywordSearch(spark: SparkSession, dir: String, term: String = "window"): DataFrame =
    Tables.documents(spark, dir)
      .filter(lower(col("text")).contains(term.toLowerCase))
      .select(col("doc_id"), col("lang"), col("source"),
        substring(col("text"), 1, 60).as("snippet"))

  def keywordSearchSql(term: String = "window"): String = {
    // escape LIKE metacharacters and SQL quotes so the pattern matches the
    // Spark side's literal contains() for ANY term (%, _, ', \)
    val esc = term.toLowerCase
      .replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
      .replace("'", "''")
    s"""SELECT doc_id, lang, source, substr(text, 1, 60) AS snippet
       |FROM documents
       |WHERE lower(text) LIKE '%$esc%' ESCAPE '\\'""".stripMargin
  }

  // ------------------------------------------------------------ BM25 search
  /** BM25-scored full-text search — the relational equivalent of the
    * reference's scored ES `match` query over the analyzed `text` mapping
    * (`scripts/indexing/to_elasticsearch.py:121-129`): Okapi BM25 with
    * k1=1.2, b=0.75 and the Lucene idf = ln(1 + (N−df+0.5)/(df+0.5)).
    *
    * Scale shape: one scan+explode, the term filter prunes the exploded
    * stream to query-term rows BEFORE any shuffle, per-(doc,term) tf is a
    * partial+final hash agg, df is a broadcast of |query| rows, and doc
    * length joins on doc_id. N and Σdl are exact integer driver scalars
    * (bit-identical in any engine), so the oracle can recompute them.
    * Ranking sorts by the ROUNDED score so the top-k cut is grid-stable
    * across engines, with a doc_id tiebreak. */
  def textSearchScored(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("window", "merge", "vector"),
      k: Int = 20): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    // both passes derive from the memoized corpus token stream (r19):
    // the old form re-ran the tokenizer's regex + explode TWICE per call
    // (lengths and tf) when [[tokenInstances]] — the same tokenizer, the
    // same multiset per doc — is the warm per-ingest instance table five
    // other queries already read. n must count ALL documents (token-free
    // docs carry dl 0 into avgdl's denominator), so it comes from the
    // documents footer count, not the instance stream; Σdl is the
    // instance count. Both are the same exact integers the old stats
    // collect produced, so every BM25 term is bit-identical.
    val inst = tokenInstances(spark, dir).select(col("doc_id"), col("term"))
    val n = math.max(Tables.documents(spark, dir).count(), 1L).toDouble
    val avgdl = inst.count().toDouble / n
    val dl = inst.groupBy("doc_id").agg(count(lit(1)).cast("int").as("dl"))
    val tf = inst
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
      .cache()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .withColumn("contrib",
        log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          * (col("tf") * (k1 + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0 - b) + col("dl").cast("double") * b / avgdl)))
      .groupBy("doc_id")
      .agg(round(sum("contrib"), 6).as("bm25"),
        count(lit(1)).as("n_terms_matched"))
      .orderBy(col("bm25").desc_nulls_last, col("doc_id").asc)
      .limit(k)
  }

  def textSearchScoredSql(terms: Seq[String] = Seq("window", "merge", "vector"),
      k: Int = 20): String = {
    val inList = terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH toked AS (
       |  SELECT doc_id,
       |    list_filter(str_split(lower(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))), ' '),
       |                x -> x <> '') AS toks
       |  FROM documents),
       |dl AS (SELECT doc_id, len(toks) AS dl FROM toked),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |                 CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
       |terms AS (SELECT doc_id, UNNEST(toks) AS term FROM toked),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
       |       FROM terms WHERE term IN ($inList) GROUP BY 1, 2),
       |dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id AS doc_id,
       |    LN((CAST(stats.n_docs AS DOUBLE) - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
       |      * (tf.tf * (1.2 + 1.0))
       |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE)
       |          / (CAST(stats.sum_dl AS DOUBLE) / CAST(stats.n_docs AS DOUBLE)))) AS contrib
       |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
       |SELECT doc_id, ROUND(SUM(contrib), 6) AS bm25,
       |       COUNT(*) AS n_terms_matched
       |FROM scored GROUP BY doc_id
       |ORDER BY bm25 DESC NULLS LAST, doc_id ASC LIMIT $k""".stripMargin
  }

  // ------------------------------------------------------------ PII redaction
  /** PII scrubbing — the redaction pass every public training corpus runs
    * (emails, IPv4 addresses, phone-like digit runs → typed placeholder
    * tokens). Pure `regexp_replace`/`regexp_extract_all` column expressions
    * (codegen'd, embarrassingly parallel); patterns are ASCII-only so the
    * Java (Spark) and RE2 (DuckDB) dialects agree. Counts are measured on
    * the ORIGINAL text per pattern; replacement order email → ip → phone is
    * fixed on both sides. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  // whitespace spelled as an explicit class: Java `\s` includes vertical tab
  // (\x0B), RE2's does not — the explicit form means the same runs match in
  // both engines (VT intentionally excluded on both)
  val PhoneRe = "\\+?\\d[\\d(). \\t\\n\\r\\f-]{7,}\\d"

  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  def redactQuery(spark: SparkSession, dir: String): DataFrame =
    // spread: regex-heavy per-row work must not run in the single-row-group
    // scan task; compute the redacted text ONCE and derive len+md5 from it
    Tables.spread(spark, Tables.documents(spark, dir))
      .withColumn("__red", redactPii(col("text")))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).as("n_ips"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
        length(col("__red")).as("redacted_len"),
        md5(col("__red")).as("redacted_md5"))

  def redactQuerySql: String = {
    // DuckDB standard string literals do NOT process backslash escapes —
    // the regex must ship with SINGLE backslashes (doubling them would turn
    // \d into a literal-backslash match and make the oracle a vacuous
    // no-op); only quotes need escaping
    def esc(re: String) = re.replace("'", "''")
    val e = esc(EmailRe); val i = esc(Ipv4Re); val p = esc(PhoneRe)
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$e')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$i')) AS INT) AS n_ips,
       |  CAST(len(regexp_extract_all(text, '$p')) AS INT) AS n_phones,
       |  LENGTH(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'), '$p', '<PHONE>', 'g'))
       |    AS redacted_len,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'), '$p', '<PHONE>', 'g'))
       |    AS redacted_md5
       |FROM documents""".stripMargin
  }

  // ------------------------------------------------------------ repetition
  /** Gopher-style within-document repetition metrics: duplicate token-bigram
    * fraction and duplicate non-empty line fraction — the filters public
    * corpus pipelines use to drop boilerplate/templated text. All column
    * expressions, no shuffle. */
  def repetitionQuery(spark: SparkSession, dir: String): DataFrame = {
    // spread: the bigram lambda is per-row heavy and this query has no
    // shuffle of its own to widen the single-row-group scan. The arrays are
    // staged through their own projections: lambda-bearing expressions are
    // excluded from whole-stage codegen AND from subexpression elimination,
    // so inlining `bigrams` into its five consumers re-tokenizes every row
    // five times; a multiply-referenced non-cheap alias survives
    // CollapseProject and is computed once (same rule Dedup.bandSignatureRows
    // relies on).
    Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"),
        tokens(col("text")).as("toks"),
        filter(split(col("text"), "\n"), l => length(l) > 0).as("lines"))
      .select(col("doc_id"), col("toks"), col("lines"),
        ngrams(col("toks"), 2).as("bigrams"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(col("bigrams")).as("n_bigrams"),
        size(array_distinct(col("bigrams"))).as("n_distinct_bigrams"),
        size(col("lines")).as("n_lines"),
        (size(col("lines")) - size(array_distinct(col("lines"))))
          .as("n_dup_lines"))
      .select(col("doc_id"), col("n_tokens"), col("n_bigrams"),
        col("n_distinct_bigrams"),
        round(coalesce(
          (col("n_bigrams") - col("n_distinct_bigrams")).cast("double")
            / nullif(col("n_bigrams").cast("double"), lit(0.0)), lit(0.0)), 6)
          .as("dup_bigram_frac"),
        col("n_lines"), col("n_dup_lines"))
  }

  val repetitionQuerySql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_filter(str_split(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))), ' '),
      |                x -> x <> '') AS toks,
      |    list_filter(str_split(text, chr(10)), x -> x <> '') AS lines
      |  FROM documents),
      |bi AS (
      |  SELECT doc_id, toks, lines,
      |    CASE WHEN len(toks) >= 2
      |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |      ELSE CAST([] AS VARCHAR[]) END AS bigrams
      |  FROM base)
      |SELECT doc_id,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  CAST(len(bigrams) AS INT) AS n_bigrams,
      |  CAST(len(list_distinct(bigrams)) AS INT) AS n_distinct_bigrams,
      |  ROUND(COALESCE(CAST(len(bigrams) - len(list_distinct(bigrams)) AS DOUBLE)
      |    / NULLIF(CAST(len(bigrams) AS DOUBLE), 0.0), 0.0), 6) AS dup_bigram_frac,
      |  CAST(len(lines) AS INT) AS n_lines,
      |  CAST(len(lines) - len(list_distinct(lines)) AS INT) AS n_dup_lines
      |FROM bi""".stripMargin

  // ------------------------------------------------------------ winnowing
  /** Winnowing document fingerprints (the rolling-hash scheme from the
    * published MOSS/winnowing algorithm): polynomial rolling hash over char
    * k-grams of the normalized text, then the minimum hash in each sliding
    * window of w k-grams (rightmost-min tie-break), deduplicated in order.
    * Guarantees: any shared substring of length ≥ w+k−1 between two docs
    * yields ≥ 1 shared fingerprint — the basis of local (substring-level)
    * near-dup detection, complementing MinHash's global Jaccard.
    * Per-doc kernel → Scala UDF (never in a relational hot path). */
  def winnow(text: String, k: Int = 8, w: Int = 12): Array[Long] = {
    if (text == null) return Array.empty
    val s = normString(text)
    if (s.length < k) return if (s.isEmpty) Array.empty else Array(s.hashCode.toLong)
    val B = 1000000007L
    val n = s.length - k + 1
    val hashes = new Array[Long](n)
    var h = 0L
    var pow = 1L
    var i = 0
    while (i < k) { h = h * B + s.charAt(i); if (i < k - 1) pow *= B; i += 1 }
    hashes(0) = h
    i = 1
    while (i < n) {
      h = (h - s.charAt(i - 1) * pow) * B + s.charAt(i + k - 1)
      hashes(i) = h
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var prevPick = -1
    var start = 0
    val lastStart = math.max(0, n - w)
    while (start <= lastStart) {
      var minIdx = start
      var j = start + 1
      val end = math.min(n, start + w)
      while (j < end) { if (hashes(j) <= hashes(minIdx)) minIdx = j; j += 1 }
      if (minIdx != prevPick) { out += hashes(minIdx); prevPick = minIdx }
      start += 1
    }
    out.toArray
  }

  def winnowUdf(k: Int = 8, w: Int = 12) = udf((t: String) => winnow(t, k, w))

  /** Per-doc winnowing fingerprint summary. The fingerprint list is
    * signed, order-preserving, and fully deterministic, so it is summarized
    * as md5 of its comma-joined decimal rendering — which the DuckDB oracle
    * reproduces by re-running the whole winnowing algorithm in SQL (k-gram
    * polynomial hashes, rightmost-min sliding windows, consecutive-pick
    * dedup). */
  def winnowQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir))
      .withColumn("fps", winnowUdf()(col("text")))
      .select(col("doc_id"), size(col("fps")).as("n_fingerprints"),
        md5(concat_ws(",", transform(col("fps"), x => x.cast("string"))))
          .as("fp_sig"))

  /** Full SQL re-implementation of [[winnow]] (k=8, w=12) for the oracle:
    * per-position k-gram hashes via the same mod-2^64 polynomial fold,
    * window minima via a frame aggregate keyed on (signed hash, rightmost
    * position) packed into one HUGEINT, consecutive-pick dedup via lag.
    * Valid while every normalized doc has ≥ k chars (min observed: 44;
    * shorter docs would take the Scala kernel's hashCode fallback). */
  val winnowQuerySql: String =
    raw"""WITH norm AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS s
      |  FROM documents),
      |pos AS (SELECT doc_id, s, unnest(range(1, length(s) - 8 + 2)) AS p FROM norm),
      |gh AS (SELECT doc_id, p,
      |    CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
      |         THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS h,
      |    ((hu + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT)
      |      * 4294967296::HUGEINT + (4294967296::HUGEINT - p) AS mk
      |  FROM (SELECT doc_id, p,
      |    list_reduce(list_prepend(0::HUGEINT,
      |        list_transform(split(substr(s, p, 8), ''), c -> CAST(unicode(c) AS HUGEINT))),
      |      (acc, ch) -> (acc * 1000000007 + ch) % 18446744073709551616::HUGEINT) AS hu
      |    FROM pos)),
      |ng AS (SELECT doc_id, count(*) AS n FROM gh GROUP BY doc_id),
      |wins AS (SELECT doc_id, p AS start,
      |    arg_min(h, mk) OVER fr AS mh,
      |    arg_min(p, mk) OVER fr AS pick
      |  FROM gh WINDOW fr AS (
      |    PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING)),
      |kept AS (SELECT w.doc_id, start, mh, pick,
      |    lag(pick) OVER (PARTITION BY w.doc_id ORDER BY start) AS prev
      |  FROM wins w JOIN ng USING (doc_id) WHERE start <= greatest(1, n - 11)),
      |fps AS (SELECT doc_id, list(mh ORDER BY start) AS l
      |  FROM kept WHERE prev IS NULL OR pick != prev GROUP BY doc_id)
      |SELECT doc_id, CAST(len(l) AS INT) AS n_fingerprints,
      |  md5(array_to_string(l, ',')) AS fp_sig
      |FROM fps""".stripMargin

  // ------------------------------------------------------------ token stats
  def tokenStatsQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(tokenCount(col("text"))), 6).as("avg_tokens"),
        round(avg(length(col("text"))), 6).as("avg_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))

  val tokenStatsQuerySql: String =
    """SELECT lang,
      |  COUNT(*) AS n_docs,
      |  ROUND(AVG(CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
      |        x -> x <> '')) AS DOUBLE)), 6) AS avg_tokens,
      |  ROUND(AVG(CAST(LENGTH(text) AS DOUBLE)), 6) AS avg_chars,
      |  MIN(n_chars) AS min_chars,
      |  MAX(n_chars) AS max_chars
      |FROM documents GROUP BY lang""".stripMargin

  // ----------------------------------------------------- readability
  /** Flesch reading-ease per language — the classic readability gate
    * (word/sentence length + vowel-group syllable proxy, the same
    * approximation both engines compute identically: zero-vowel words
    * count 0 syllables, sentence count floors at 1). All three counts
    * are single regexp passes over the doc — row-local, then one
    * combinable aggregate. */
  def readability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(tokens(col("text"))).as("words"),
        greatest(lit(1), expr("regexp_count(text, '[.!?]+')")).as("sentences"),
        expr("regexp_count(lower(text), '[aeiouy]+')").as("syllables"))
      .filter(col("words") > 0)
      .withColumn("flesch",
        lit(206.835) -
          lit(1.015) * (col("words").cast("double") / col("sentences")) -
          lit(84.6) * (col("syllables").cast("double") / nullif(col("words"), lit(0))))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("flesch"), 6).as("avg_flesch"),
        sum(when(col("flesch") >= 60.0, 1L).otherwise(0L)).as("n_easy"))

  val readabilitySql: String =
    raw"""WITH d AS (
      |  SELECT lang,
      |    len(list_filter(str_split(lower(trim(regexp_replace(text,
      |      '[ \t\n\x0B\f\r]+', ' ', 'g'))), ' '), t -> len(t) > 0)) AS words,
      |    GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS sentences,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
      |  FROM documents),
      |f AS (
      |  SELECT lang, 206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
      |         - 84.6 * (CAST(syllables AS DOUBLE) / NULLIF(words, 0)) AS flesch
      |  FROM d WHERE words > 0)
      |SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(flesch), 6) AS avg_flesch,
      |       CAST(SUM(CASE WHEN flesch >= 60.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_easy
      |FROM f GROUP BY 1""".stripMargin

  // ------------------------------------------------- lexical diversity
  /** Per-source lexical diversity: type-token ratio and the Guiraud index
    * (types/√tokens — the length-robust form; raw TTR collapses as the
    * corpus grows, which is why both are reported). A low-diversity
    * source is boilerplate/template text — a standing curation signal
    * next to [[qualityQuery]] and the repetition metrics. One explode +
    * one (source)-keyed aggregate; COUNT(DISTINCT) shuffles (source,
    * term) pairs — at lake scale that is the vocabulary per source, Zipf-
    * bounded far below token volume. */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_types"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        round(col("n_types") / col("n_tokens"), 6).as("ttr"),
        round(col("n_types") / sqrt(col("n_tokens")), 6).as("guiraud"))

  val lexicalDiversitySql: String =
    s"""WITH ${tokedCteSqlOver("documents")},
       |t2 AS (SELECT d.source, tk.tok
       |       FROM toked tk JOIN documents d ON d.doc_id = tk.doc_id),
       |agg AS (SELECT source, COUNT(*) AS n_tokens,
       |               COUNT(DISTINCT tok) AS n_types
       |        FROM t2 GROUP BY 1)
       |SELECT source, n_tokens, n_types,
       |       ROUND(n_types / n_tokens, 6) AS ttr,
       |       ROUND(n_types / SQRT(n_tokens), 6) AS guiraud
       |FROM agg""".stripMargin
}
