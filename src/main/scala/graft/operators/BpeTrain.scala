package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Artifacts
import graft.Tables
import graft.functions.TextFunctions

/** Byte-pair-encoding vocabulary TRAINING (Sennrich et al. 2016,
  * arXiv:1508.07909) — the tokenizer-construction step of a training-data
  * pipeline, distributed the classic scalable way:
  *
  *  - the corpus is scanned ONCE into a (word, count) frequency table
  *    (Zipf: distinct words ≪ corpus tokens — at 100 TB the word table is
  *    maybe tens of millions of rows, trivially partitionable);
  *  - every merge round runs on that compact table only: count adjacent
  *    symbol pairs weighted by word frequency (one small shuffle), pick
  *    the argmax pair (a one-row scalar collect, like `ivfTrain`'s SSE),
  *    apply the merge to each word's symbol array (row-local);
  *  - `localCheckpoint` per round truncates the growing lineage — the
  *    same iterative-DataFrame pattern as connected components and Lloyd.
  *
  * Determinism: the argmax tiebreak is (count DESC, left ASC, right ASC),
  * so training is reproducible across runs/partitionings — BpeSpec pins
  * run-to-run equality and the first merge is independently hash-oracled
  * (`q_bpe_first_merge` — DuckDB recomputes the weighted pair argmax).
  *
  * The per-word merge application is a Scala UDF by design: replacing an
  * adjacent symbol pair inside an array is a stateful per-row scan (the
  * genuine imperative-kernel case), while everything corpus-shaped around
  * it stays relational.
  *
  * CHARSET CONTRACT: Spark's `split(word, "")` walks CODE POINTS — Java
  * regex zero-width matches never land inside a surrogate pair (JDK 8+)
  * — and DuckDB's `substr` walks code points too, so base symbols agree
  * on and off the BMP (an emoji is ONE symbol on both sides; BpeSpec
  * pins this against [[BpeEncode.encodeWord]]'s explicit code-point
  * split). The oracle corpus is pinned printable-ASCII by the
  * MultimodalSpec precondition regardless. */
object BpeTrain {

  /** (word, wc) frequency table — the ONE corpus scan. */
  private def wordTable(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir))
      .select(explode(TextFunctions.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))

  /** Initial symbol sequence of a word: its characters. */
  private def charSymbols(word: org.apache.spark.sql.Column) =
    filter(split(word, ""), s => length(s) > 0)

  private def mergeUdf(left: String, right: String) =
    udf((syms: Seq[String]) => {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == left && syms(i + 1) == right) {
          out += (left + right); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    })

  /** Adjacent-pair counts of the current symbol table, weighted by word
    * frequency; zip_with over (syms, tail) keeps the pairing row-local. */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("wc"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("wc").as("cnt"))

  /** Train `merges` BPE merges; returns (rank, left, right, merged,
    * pair_count) ordered by rank — the merge table a tokenizer ships.
    * Memoized per (session, dir, merges): training runs once and its
    * merge table is shared by `q_bpe_train` and [[BpeEncode]]'s encode
    * queries (same materialized-artifact contract as
    * `Similarity.ivfTrain`). */
  def train(spark: SparkSession, dir: String, merges: Int = 20): DataFrame =
    Artifacts.bpeMerges(spark, (dir, merges))(trainImpl(spark, dir, merges))

  /** The un-memoized training run — spec surface for determinism tests
    * (the public [[train]] would satisfy run-to-run equality trivially
    * via the memo). */
  private[graft] def trainImpl(spark: SparkSession, dir: String, merges: Int): DataFrame = {
    import spark.implicits._
    var words = wordTable(spark, dir)
      .filter(length(col("word")) >= 2)
      .select(col("wc"), charSymbols(col("word")).as("syms"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= merges && !exhausted) {
      // deterministic argmax: one tiny sorted head over the pair counts
      val best = pairCounts(words)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += ((rank, l, r, l + r, c))
        words = words
          .select(col("wc"), mergeUdf(l, r)(col("syms")).as("syms"))
          .localCheckpoint(true)
        rank += 1
      }
    }
    out.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Test probe: the exact frame a training round aggregates — pairCounts
    * over the checkpointed word table. ScaleSpec pins that its plan is
    * corpus-free (no parquet scan): the 20-round loop must only ever
    * touch the compact word table, never re-read the lake. */
  private[graft] def roundPlanProbe(spark: SparkSession, dir: String): DataFrame =
    pairCounts(wordTable(spark, dir)
      .filter(length(col("word")) >= 2)
      .select(col("wc"), charSymbols(col("word")).as("syms"))
      .localCheckpoint(true))

  /** The FIRST merge decision, standalone and fully oracled: the weighted
    * adjacent-character pair argmax over the word table — the anchor that
    * pins [[train]]'s counting and tiebreak against an independent engine
    * (BpeSpec additionally asserts train()'s row 1 equals this). */
  def firstMerge(spark: SparkSession, dir: String): DataFrame =
    pairCounts(wordTable(spark, dir)
        .filter(length(col("word")) >= 2)
        .select(col("wc"), charSymbols(col("word")).as("syms")))
      .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
      .limit(1)
      .select(col("l").as("left"), col("r").as("right"),
        col("cnt").as("pair_count"))

  // ------------------------------------------------------- full-loop oracle
  /** One DuckDB replay stage of a training round (r17). The whole merge
    * loop is a deterministic integer fold, so the oracle unrolls it as a
    * CHAINED CTE — stage k recomputes round k's weighted pair argmax from
    * the stage-(k-1) symbol table and applies the merge with window
    * functions (recursive CTEs can't aggregate over the recursive table,
    * but a 20-deep chain has no such restriction; `AS MATERIALIZED` stops
    * DuckDB inlining each doubly-referenced stage, which would otherwise
    * expand 2^20 ways).
    *
    * The greedy left-to-right non-overlapping merge application is exact
    * relationally: a position is a CANDIDATE when (sym, next sym) =
    * (l, r); candidates only interfere when consecutive (the merge at p
    * consumes p+1), so within each maximal run of consecutive candidates
    * the greedy scan selects the 1st, 3rd, 5th... — `grp` buckets the
    * runs (pos − row_number over candidates), `sel` keeps odd in-run
    * ranks, `dropped` removes each selected pair's right symbol, and the
    * outer row_number re-packs positions for the next stage.
    *
    * Early exhaustion (r18 ADVICE): if the corpus runs out of mergeable
    * pairs before round k, `b$k` is EMPTY — Spark's trainer stops and
    * emits fewer decision rows, and the replay must mirror that, not
    * collapse. A CROSS JOIN against the empty `b$k` would empty `w$k`
    * (and every later stage, silently degrading the encode oracle to
    * identity tokens); the LEFT JOIN ON true instead passes `w${k-1}`
    * through unchanged (NULL l/r ⇒ cand=false everywhere), so the word
    * states freeze exactly as Spark's do and the unioned decision list
    * naturally shortens to match the trainer's early stop. */
  private def mergeStage(k: Int): String = {
    val prev = s"w${k - 1}"
    s"""p$k AS (
       |  SELECT l, r, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
       |    SELECT sym AS l, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r, wc FROM $prev)
       |  WHERE r IS NOT NULL GROUP BY 1, 2),
       |b$k AS MATERIALIZED (SELECT $k AS rank, l, r, cnt FROM p$k ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
       |w$k AS MATERIALIZED (
       |  SELECT word, wc, row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
       |         CASE WHEN sel THEN l || r ELSE sym END AS sym
       |  FROM (
       |    SELECT word, wc, pos, sym, l, r, sel,
       |           COALESCE(lag(sel) OVER (PARTITION BY word ORDER BY pos), false) AS dropped
       |    FROM (
       |      SELECT word, wc, pos, sym, l, r,
       |             COALESCE(cand AND (row_number() OVER (PARTITION BY word, cand, grp ORDER BY pos) % 2 = 1), false) AS sel
       |      FROM (
       |        SELECT word, wc, pos, sym, l, r, cand,
       |               pos - row_number() OVER (PARTITION BY word, cand ORDER BY pos) AS grp
       |        FROM (
       |          SELECT w.word, w.wc, w.pos, w.sym, b.l, b.r,
       |                 COALESCE(w.sym = b.l AND lead(w.sym) OVER (PARTITION BY w.word ORDER BY w.pos) = b.r, false) AS cand
       |          FROM $prev w LEFT JOIN b$k b ON true))))
       |  WHERE NOT dropped)""".stripMargin
  }

  /** WITH-clause prefix shared by the three BPE oracles (train / encode /
    * BPE-chunk — one text, so they cannot drift): tokenization identical
    * to [[firstMergeSql]] but keeping doc_id for the encode consumers,
    * the (word, wc) table, the exploded char-symbol state `w0`, and the
    * `merges` unrolled rounds ending at `w<merges>` with decisions in
    * `b1..b<merges>`. */
  private[graft] def oracleCtes(merges: Int = 20): String =
    raw"""WITH toked AS (
      |  SELECT doc_id,
      |    list_filter(str_split(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))), ' '),
      |                x -> x <> '') AS toks
      |  FROM documents),
      |words AS (
      |  SELECT word, COUNT(*) AS wc
      |  FROM (SELECT UNNEST(toks) AS word FROM toked) GROUP BY 1),
      |w0 AS MATERIALIZED (
      |  SELECT word, wc, CAST(i AS BIGINT) AS pos, substr(word, CAST(i AS INT), 1) AS sym
      |  FROM (SELECT word, wc, UNNEST(range(1, length(word) + 1)) AS i
      |        FROM words WHERE length(word) >= 2)),
      |""".stripMargin +
      (1 to merges).map(mergeStage).mkString(",\n")

  /** Full-loop oracle for [[train]] (r17): all `merges` rounds replayed in
    * DuckDB, decisions unioned in rank order. */
  def trainSql(merges: Int = 20): String =
    oracleCtes(merges) + "\n" +
      (1 to merges).map(k =>
        s"""SELECT rank, l AS "left", r AS "right", l || r AS merged, cnt AS pair_count FROM b$k""")
        .mkString(" UNION ALL ") +
      "\nORDER BY rank"

  val firstMergeSql: String =
    raw"""WITH toked AS (
      |  SELECT list_filter(str_split(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))), ' '),
      |                     x -> x <> '') AS toks
      |  FROM documents),
      |words AS (
      |  SELECT word, COUNT(*) AS wc
      |  FROM (SELECT UNNEST(toks) AS word FROM toked)
      |  GROUP BY 1),
      |pairs AS (
      |  SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r, wc
      |  FROM (SELECT word, wc, UNNEST(range(1, length(word))) AS i
      |        FROM words WHERE length(word) >= 2))
      |SELECT l AS "left", r AS "right", CAST(SUM(wc) AS BIGINT) AS pair_count
      |FROM pairs GROUP BY 1, 2
      |ORDER BY pair_count DESC, l ASC, r ASC
      |LIMIT 1""".stripMargin
}
