package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Artifacts
import graft.Tables
import graft.functions.TextFunctions

/** Byte-pair-encoding APPLICATION (the tokenize step): encode the corpus
  * with a merge table trained by [[BpeTrain]] — the missing middle of the
  * tokenizer story (train → ENCODE → chunk/pack) that turns "token count"
  * from a whitespace/regex proxy into the count a real BPE tokenizer
  * would bill.
  *
  * Scale design — the encode is a PURE MAP over the corpus:
  *  - the merge table is vocabulary-sized (tens of thousands of rows at
  *    production scale, 20 here), broadcast once via
  *    `sparkContext.broadcast` — never joined;
  *  - each document encodes row-locally: its words run through the
  *    rank-ordered merge loop (the standard BPE apply: repeatedly merge
  *    the LOWEST-rank adjacent pair, all occurrences left-to-right —
  *    [[BpeTrain]]'s training-side `mergeUdf` pass per pair, so encoding
  *    the training corpus reproduces training's final word states
  *    whenever no two distinct merges fuse to the same symbol string
  *    (base symbols are single chars, merged ones length ≥ 2, so a
  *    collision needs two multi-char merges with equal concatenations —
  *    absent here and rare anywhere; BpeSpec asserts the reproduction
  *    and the fixed point empirically rather than assuming it);
  *  - a per-task memo caches word → tokens (Zipf: a task sees the same
  *    words over and over), so the merge loop amortizes to
  *    O(distinct words per task) without the shuffle a distinct-word
  *    encode-then-join would cost. Zero exchanges in the whole plan:
  *    every document expands where it already lives.
  *
  * The per-word merge loop is a Scala UDF by design (same adjudication as
  * training's merge application): replacing ranked adjacent pairs inside
  * a symbol array is a stateful per-row scan — the genuine imperative-
  * kernel case — while everything corpus-shaped stays relational.
  *
  * Correctness is anchored two ways:
  *  - `q_bpe_encode_roundtrip` (hash-oracled): BPE tokens of a word
  *    concatenate back to the word exactly and merges never cross word
  *    boundaries, so re-assembling the encoded output (concat tokens
  *    within a word, join words with a space) must reproduce the
  *    normalized text byte-for-byte; the md5 is recomputed by DuckDB
  *    from the RAW text, so a dropped/duplicated/reordered symbol
  *    anywhere in the encode fails the hash.
  *  - BpeSpec pins the fixed point (no adjacent pair in the encoded
  *    corpus is still a trained merge), the bounds
  *    (n_words ≤ n_tokens ≤ n_chars), hand-built merge cases, and
  *    determinism across partitionings.
  *
  * Charset: both sides split words into CODE POINTS — training's
  * `split(word, "")` (Java regex zero-width matches never split a
  * surrogate pair) and [[encodeWord]]'s explicit code-point iteration —
  * so the "must split identically" fixed-point contract holds off the
  * BMP too (BpeSpec pins an emoji word through both sides). */
object BpeEncode {

  /** Encode one word under rank-ordered merges. `ranks` maps the adjacent
    * pair "l r" (space-joined: symbols never contain spaces, tokens() is
    * a whitespace split) to its training rank; lower rank merges first.
    * Each round merges ALL occurrences of the chosen pair left-to-right —
    * the same pass [[BpeTrain]] applies during training.
    *
    * The base split iterates CODE POINTS, matching training's
    * `split(word, "")` exactly (Java regex zero-width matches never land
    * inside a surrogate pair, so Spark's split is code-point aware) — a
    * UTF-16-unit split here would break the "both sides split
    * identically" fixed-point contract on astral characters (emoji);
    * BpeSpec pins a non-BMP word through both sides. */
  private[graft] def encodeWord(word: String,
      ranks: Map[String, Int]): Seq[String] = {
    var syms: Vector[String] = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < word.length) {
        val n = Character.charCount(word.codePointAt(i))
        b += word.substring(i, i + n)
        i += n
      }
      b.result()
    }
    var done = syms.length < 2
    while (!done) {
      // lowest-rank adjacent pair present in the word
      var bestL: String = null
      var bestR: String = null
      var bestRank = Int.MaxValue
      var i = 0
      while (i + 1 < syms.length) {
        val r = ranks.getOrElse(syms(i) + " " + syms(i + 1), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestL = syms(i); bestR = syms(i + 1) }
        i += 1
      }
      if (bestL == null) done = true
      else {
        // merge ALL occurrences left-to-right — the training-side pass
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var p = 0
        while (p < syms.length) {
          if (p + 1 < syms.length && syms(p) == bestL && syms(p + 1) == bestR) {
            out += (bestL + bestR); p += 2
          } else { out += syms(p); p += 1 }
        }
        syms = out.toVector
        if (syms.length < 2) done = true
      }
    }
    syms
  }

  /** doc_id → per-word token arrays (word boundaries preserved so the
    * roundtrip can re-assemble the text), over any (doc_id, text) frame.
    * `merges` must carry (rank, left, right) as trained. */
  def encodeOf(spark: SparkSession, docs: DataFrame,
      merges: DataFrame): DataFrame = {
    val ranks: Map[String, Int] = merges
      .select(col("left"), col("right"), col("rank"))
      .collect()
      .map(r => (r.getString(0) + " " + r.getString(1)) -> r.getInt(2))
      .toMap
    val bc = spark.sparkContext.broadcast(ranks)
    // per-task memo: the CLOSURE captures the (empty) map, each task
    // deserializes its own copy once and shares it across all its rows —
    // declared OUTSIDE the lambda body, where it would be rebuilt per row
    // and the Zipf amortization would silently never happen. Tasks are
    // single-threaded over their own copy, so no synchronization.
    val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
    val enc = udf { (words: Seq[String]) =>
      words.map(w => memo.getOrElseUpdate(w, encodeWord(w, bc.value)))
    }
    docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("words"))
      .withColumn("word_toks", enc(col("words")))
      .drop("words")
  }

  /** Token-stream signature over a `word_toks` column (array of per-word
    * token arrays): each token rendered as `<length>:<token>`, tokens
    * within a word joined by '\u0001', words joined by a space, then md5.
    * The length prefix makes the rendering a prefix code — after
    * consuming the declared length the next character is always a
    * structural separator — so the signature is injective over
    * tokenizations of ARBITRARY text, including documents that contain
    * U+0001 itself (tokens() is a whitespace split, so a control char in
    * the raw text lands inside a token; a bare-separator join would let
    * token "a\u0001b" collide with tokens "a","b"). Signing boundaries
    * is the point: two different tokenizations of the same text hash
    * differently (BpeSpec pins this), unlike the roundtrip's text_sig
    * which deliberately erases boundaries to reproduce the raw text. */
  private[graft] def tokSig(wordToks: Column): Column =
    md5(concat_ws(" ", transform(wordToks, w =>
      concat_ws("\u0001", transform(w, t => concat(length(t), lit(":"), t))))))

  /** Per-document encode summary on the corpus: word/char/token counts
    * and the token-stream signature. n_tokens is the REAL BPE bill (vs
    * `q_bpe_token_count`'s regex proxy). Fully hash-oracled since r17 via
    * [[encodeSql]] — see [[encodedCtes]] for why the training replay's
    * final word states ARE the encode of the training corpus. */
  def encodeQuery(spark: SparkSession, dir: String): DataFrame =
    encodedWordToks(spark, dir)
      .select(col("doc_id"),
        size(col("word_toks")).as("n_words"),
        aggregate(col("word_toks"), lit(0),
          (acc, w) => acc + size(w)).as("n_tokens"),
        aggregate(col("word_toks"), lit(0),
          (acc, w) => acc + length(concat_ws("", w))).as("n_chars"),
        tokSig(col("word_toks")).as("tok_sig"))

  /** Hash-oracled roundtrip: re-assemble the encoded stream (concat a
    * word's tokens, join words with a space) and md5 it; DuckDB computes
    * the same md5 from the raw text's normalization. Exact because BPE
    * merges are intra-word concatenations — any encode defect that
    * drops, duplicates, splits or reorders a symbol breaks the hash. */
  def roundtripQuery(spark: SparkSession, dir: String): DataFrame =
    encodedWordToks(spark, dir)
      .select(col("doc_id"),
        md5(concat_ws(" ",
          transform(col("word_toks"), w => concat_ws("", w)))).as("text_sig"))

  def roundtripSql: String =
    raw"""SELECT doc_id,
      |  md5(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')))) AS text_sig
      |FROM documents""".stripMargin

  // ------------------------------------------------------- full-loop oracle
  /** Shared encode-side CTEs (r17), extending [[BpeTrain.oracleCtes]]'s
    * training replay: `enc` re-assembles each word's FINAL symbol list
    * from the last training stage, and `wtoks` looks up every word
    * occurrence per document (positional unnest keeps word order;
    * sub-2-char words — never trained — fall back to the single-symbol
    * identity, exactly [[encodeWord]]'s `syms.length < 2` early-out).
    *
    * Validity: the oracle's per-word decomposition is training's final
    * word state, and q_bpe_encode runs on exactly the training corpus —
    * [[encodeWord]]'s lowest-rank-first application reproduces training's
    * rank-order evolution whenever no two distinct merges fuse to the
    * same symbol string (see the class comment; BpeSpec asserts the
    * reproduction). If that assumption ever broke, this oracle would
    * fail LOUDLY on the tok_sig hashes — the right failure mode. */
  private[graft] def encodedCtes(merges: Int = 20): String =
    BpeTrain.oracleCtes(merges) +
      s""",
         |enc AS MATERIALIZED (SELECT word, list(sym ORDER BY pos ASC) AS toks FROM w$merges GROUP BY word),
         |docw AS (
         |  SELECT doc_id, u.i, u.word
         |  FROM (SELECT doc_id, UNNEST(list_transform(range(len(toks)),
         |          i -> struct_pack(i := i + 1, word := toks[i + 1]))) AS u
         |        FROM toked)),
         |wtoks AS MATERIALIZED (
         |  SELECT d.doc_id, d.i, COALESCE(e.toks, [d.word]) AS toks
         |  FROM docw d LEFT JOIN enc e ON d.word = e.word)""".stripMargin

  /** Full oracle for [[encodeQuery]] (r17): per-doc word/token/char counts
    * and the `<length>:<token>` prefix-code stream signature, re-derived
    * from the DuckDB training replay. The documents LEFT JOIN restores
    * zero-word documents (empty after normalization) that the per-word
    * unnest drops — Spark's encode keeps them with empty aggregates. */
  def encodeSql(merges: Int = 20): String =
    encodedCtes(merges) +
      """,
        |perdoc AS (
        |  SELECT doc_id,
        |    CAST(COUNT(*) AS INT) AS n_words,
        |    CAST(SUM(len(toks)) AS INT) AS n_tokens,
        |    CAST(SUM(length(array_to_string(toks, ''))) AS INT) AS n_chars,
        |    md5(string_agg(array_to_string(list_transform(toks,
        |      x -> CAST(length(x) AS VARCHAR) || ':' || x), chr(1)), ' ' ORDER BY i ASC)) AS tok_sig
        |  FROM wtoks GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(p.n_words, 0) AS n_words,
        |  COALESCE(p.n_tokens, 0) AS n_tokens,
        |  COALESCE(p.n_chars, 0) AS n_chars,
        |  COALESCE(p.tok_sig, md5('')) AS tok_sig
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id""".stripMargin

  /** The corpus encode under the trained merges, a session artifact read
    * by the summary and roundtrip queries and the BPE-chunking twin
    * (`Packing.chunkDocumentsBpe`). */
  private[graft] def encodedWordToks(spark: SparkSession, dir: String): DataFrame =
    Artifacts.bpeTokenIds(spark, dir) {
      encodeOf(spark, Tables.spread(spark, Tables.documents(spark, dir)),
        BpeTrain.train(spark, dir))
    }
}
