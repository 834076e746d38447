package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Sketches

/** Ingest-time sketch maintenance — the streaming twin of the batch
  * count-min build (`Sketches.cmsEstimates`): the per-language CMS is
  * kept current as documents land, instead of waiting for the next
  * full-corpus pass.
  *
  * CMS is the ideal streaming sketch because its merge is a POINTWISE SUM
  * — fully order- and grouping-invariant — so the streamed grid equals
  * the one-pass batch grid BIT-FOR-BIT, the strongest streamed ≡ batch
  * contract in the streaming tier (the other twins settle for
  * same-decisions; StreamSketchSpec asserts exact grid equality).
  *
  * Replay safety without read-modify-write: a naive `grid += batch`
  * double-counts on replay, so each micro-batch commits its PARTIAL grid
  * keyed (lang, part_id = batch id) via a TxTable MERGE stamped by
  * [[TxStream.drain]] — a crash-replayed batch is a no-op, and any other
  * re-merge of a batch overwrites its own partial, never adds twice. The
  * assembled sketch is the pointwise sum over partials, linear in (#languages × #batches) rows of fixed
  * depth×width grids; a compaction that sums partials into one row per
  * language is the same MERGE one step further.
  *
  * At 100 TB: each partition of each batch ships one fixed-size grid
  * (partial aggregation), each batch commits #languages rows — the
  * ingest-time cost is O(batch tokens), never corpus-scale. Hashing and
  * grid layout come from `Sketches.cmsPerLang` — shared with the batch
  * queries, so the two sides cannot drift. */
object StreamSketch {

  /** The (doc_id, lang, text) drop-stream contract (the sketch is keyed
    * by language, so drops carry it — same pinned-schema rationale as
    * `Tables.DocTextSchemaDdl`). */
  val DocLangTextSchemaDdl: String = "doc_id LONG, lang STRING, text STRING"

  /** One micro-batch's partial grids: (lang, sketch). */
  def sketchBatch(docs: DataFrame, depth: Int = Sketches.CmsDepth,
      width: Int = Sketches.CmsWidth): DataFrame =
    Sketches.cmsPerLang(
      docs.select(col("lang"),
        explode(TextFunctions.tokens(col("text"))).as("term")),
      depth, width)

  /** Streaming deployment: replay (doc_id, lang, text) parquet drops from
    * `inDir`, commit each micro-batch's partial grids into the TxTable at
    * `tablePath` keyed (lang, part_id) — one atomic log commit per batch,
    * stamped by [[TxStream.drain]]. */
  def sketchStreamTx(spark: SparkSession, inDir: String, tablePath: String,
      checkpoint: String, depth: Int = Sketches.CmsDepth,
      width: Int = Sketches.CmsWidth, maxFilesPerTrigger: Int = 1): Unit = {
    val stream = spark.readStream.schema(DocLangTextSchemaDdl)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
    TxStream.drain(stream, checkpoint) { (batch, stamp) =>
      val part = sketchBatch(batch, depth, width)
        .withColumn("part_id", lit(stamp._2))
        .select("lang", "part_id", "sketch")
      graft.serve.TxTable.merge(batch.sparkSession, part, tablePath,
        Seq("lang", "part_id"), txn = Some(stamp))
    }
  }

  /** The assembled per-language grid: pointwise sum over the committed
    * partials (the CMS merge, run as a relational aggregate — posexplode
    * to (lang, pos) sums, re-assemble in position order). */
  def readSketch(spark: SparkSession, tablePath: String): DataFrame =
    graft.serve.TxTable.read(spark, tablePath)
      .select(col("lang"), posexplode(col("sketch")).as(Seq("pos", "v")))
      .groupBy("lang", "pos").agg(sum("v").as("v"))
      .groupBy("lang")
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(col("lang"),
        transform(col("pv"), p => p.getField("v")).as("sketch"))
}
