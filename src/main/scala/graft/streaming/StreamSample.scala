package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Sampling

/** Ingest-time budget sampling — the streaming twin of the batch
  * `Sampling.budgetSample`: each language's budget-capped sample is kept
  * current as documents land, so an eval-set draw or mixture cap never
  * waits for a full-corpus pass.
  *
  * Why this sampler streams EXACTLY: selection is "the `budget` smallest
  * (portableHash(doc_id, seed), doc_id) per language" — a pure function of
  * the document SET. k-smallest-of-a-union = k-smallest of per-batch
  * k-smallests, so maintaining per-batch candidate top-ks and reducing at
  * read time reproduces the batch answer on the ingested prefix
  * ROW-FOR-ROW (the CMS-grade streamed ≡ batch contract — most stream
  * twins settle for same-decisions; StreamSampleSpec asserts exact set
  * equality). A crash-replayed batch is a no-op under the
  * [[TxStream.drain]] stamp; re-delivery from a fresh checkpoint is
  * harmless by construction: a replayed doc contributes the identical
  * (hash, doc_id), and the TxTable MERGE keyed (lang, doc_id) overwrites
  * rather than duplicates.
  *
  * At 100 TB: each micro-batch ships ≤ budget rows per language present
  * in the batch (the bounded-heap partial aggregation), and the stored
  * candidate table is ≤ budget × #batches rows per language — metadata
  * scale; a compaction that re-tops the candidates into one batch's worth
  * is the same MERGE one step further. The selection kernel is
  * [[Sampling.budgetSampleOf]] — shared with the batch query, so the two
  * sides cannot hash or tie-break differently. */
object StreamSample {

  /** One micro-batch's candidate rows: the batch-local budget-capped
    * sample, ≤ budget rows per language per batch. Only (lang, doc_id)
    * is stored — the read side recomputes the rank hash from
    * (doc_id, seed), which is both cheap (the codegen'd portable hash over a
    * metadata-scale table) and safe: persisting the hash would invite a
    * read with a different seed to trust stored ranks that no longer
    * match the recomputed ones. */
  def sampleBatch(docs: DataFrame, budget: Int, seed: Int = 42): DataFrame =
    Sampling.budgetSampleOf(docs.select(col("doc_id"), col("lang")),
        "lang", budget, seed)
      .select(col("lang"), col("doc_id"))

  /** Streaming deployment: replay (doc_id, lang, text) parquet drops from
    * `inDir`, MERGE each micro-batch's candidate top-k into the TxTable
    * at `tablePath` keyed (lang, doc_id) — one atomic log commit per
    * batch, stamped by [[TxStream.drain]] (a doc redelivered from a fresh
    * checkpoint overwrites its own row with identical content). */
  def sampleStreamTx(spark: SparkSession, inDir: String, tablePath: String,
      checkpoint: String, budget: Int = 50, seed: Int = 42,
      maxFilesPerTrigger: Int = 1): Unit = {
    recordParams(spark, tablePath, budget, seed)
    val stream = spark.readStream.schema(StreamSketch.DocLangTextSchemaDdl)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
    TxStream.drain(stream, checkpoint) { (batch, stamp) =>
      graft.serve.TxTable.merge(batch.sparkSession,
        sampleBatch(batch, budget, seed), tablePath, Seq("lang", "doc_id"),
        txn = Some(stamp))
    }
  }

  /** The assembled sample: re-top the stored candidates — the same
    * bounded-heap kernel over ≤ budget × #batches rows per language, so
    * the result equals the batch sampler run over every ingested doc.
    *
    * The streamed ≡ batch contract only holds under the PARAMETERS the
    * candidates were streamed with: the stored table holds at most
    * stream-budget rows per language per batch (a larger read budget
    * would need candidates the stream already discarded), and the rank
    * order is portableHash(doc_id, STREAM seed) (a different read seed would
    * re-rank candidates that were selected under the old order — a
    * sample of a sample, not the batch answer). `sampleStreamTx` records
    * (budget, seed) in a `_sample_params` sidecar at the table path;
    * this read refuses a seed mismatch or a budget above the streamed
    * one. Since r15 a table holding candidates WITHOUT a sidecar is
    * refused too (pre-sidecar ⇒ pre-r15 rank order — see the in-method
    * comment); only an empty/nonexistent table reads unguarded. */
  def readSample(spark: SparkSession, tablePath: String,
      budget: Int = 50, seed: Int = 42): DataFrame = {
    // a candidate table WITHOUT a sidecar is a pre-sidecar stream —
    // necessarily ranked under the pre-r15 xxhash64 order, with nothing
    // to verify the read against. It must be refused like an old-hash
    // sidecar, not read unguarded: the unguarded read was r14's
    // documented soft spot and silently re-ranks candidates whose
    // per-batch top-ks discarded exactly the rows the new order might
    // rank first (re-stream the source to regenerate).
    require(storedParams(spark, tablePath).nonEmpty ||
        !holdsCandidates(spark, tablePath),
      s"candidate table at $tablePath has no _sample_params sidecar: it " +
      "was streamed by a pre-sidecar build under a different rank order; " +
      "re-ranking it is a sample of a sample — re-stream the source")
    storedParams(spark, tablePath).foreach { case (sb, ss) =>
      val sh = storedHashId(spark, tablePath)
      require(sh == RankHashId,
        s"candidates at $tablePath were ranked by '$sh' but this build " +
        s"ranks by '$RankHashId': re-ranking rows another order selected " +
        "is a sample of a sample, not the batch answer")
      require(seed == ss,
        s"readSample seed=$seed but candidates were streamed with seed=$ss: " +
        "stored candidates were selected under the old seed's hash order, so " +
        "re-ranking them is a sample of a sample, not the batch answer")
      require(budget <= sb,
        s"readSample budget=$budget exceeds the streamed budget=$sb: the " +
        "candidate table only holds the stream-budget top rows per language " +
        "per batch, so ranks beyond it were already discarded at ingest")
    }
    Sampling.budgetSampleOf(
      graft.serve.TxTable.read(spark, tablePath).select("doc_id", "lang"),
      "lang", budget, seed)
  }

  /** True iff the table exists AND holds at least one candidate ROW. The
    * no-sidecar refusals key on this, not on mere version existence (r16):
    * a deliberately pre-seeded EMPTY table — a schema-fixing seed commit,
    * the StreamMv idiom — contains nothing that was selected under any
    * rank order, so there is nothing a re-rank could corrupt; refusing it
    * with "re-stream the source" would be a misleading dead end. The
    * emptiness probe is a limit-1 job over a metadata-scale table. */
  private def holdsCandidates(spark: SparkSession, tablePath: String): Boolean =
    graft.serve.TxTable.latestVersion(spark, tablePath).isDefined &&
      !graft.serve.TxTable.read(spark, tablePath).isEmpty

  private def paramsPath(tablePath: String) = new Path(tablePath, "_sample_params")

  private def hfs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Pin (budget, seed) at the table path before the first commit; a
    * re-stream into the same table with different parameters fails loudly
    * here instead of silently mixing two selection orders.
    *
    * Rename is the atomic publish (HDFS refuses an existing target). When
    * it FAILS, a concurrent first-stream won the race — and this stream
    * must re-check the WINNER'S params against its own BEFORE proceeding:
    * deferring the check to the next recordParams/readSample would let two
    * concurrent first-streams with different (budget, seed) interleave
    * commits into the very mixed table this guard exists to prevent. The
    * re-check is a bounded retry of the whole read-or-publish step (the
    * pathological lose-then-find-nothing case — winner's sidecar vanished
    * between the rename and the re-read — re-attempts the publish).
    *
    * `publish` is injectable so the lost-race path is spec-testable: the
    * test's publish plants a winner's sidecar and returns false, exactly
    * the interleaving a real race produces. */
  private[graft] def recordParams(spark: SparkSession, tablePath: String,
      budget: Int, seed: Int,
      publish: (FileSystem, Path, Path) => Boolean = _.rename(_, _)): Unit = {
    val fs = hfs(spark, tablePath)
    var attempts = 3
    var done = false
    while (!done) {
      storedParams(spark, tablePath) match {
        case Some((sb, ss)) =>
          require(sb == budget && ss == seed,
            s"table at $tablePath was streamed with (budget=$sb, seed=$ss); " +
            s"refusing to append candidates selected under (budget=$budget, " +
            s"seed=$seed) — the mixed table would satisfy neither contract")
          val sh = storedHashId(spark, tablePath)
          require(sh == RankHashId,
            s"table at $tablePath holds candidates ranked by '$sh' but this " +
            s"build ranks by '$RankHashId' — appending would mix two " +
            "selection orders (same refusal class as a seed change)")
          done = true
        case None =>
          // never stamp a FRESH sidecar over a table that already holds
          // candidates: those rows were selected by a pre-sidecar build
          // (old rank order), and blessing them with hash=poly-bs would
          // launder the exact mixed-order table this guard refuses
          require(!holdsCandidates(spark, tablePath),
            s"table at $tablePath holds candidates but no _sample_params " +
            "sidecar (pre-sidecar stream, old rank order); refusing to " +
            "stamp fresh params over them — re-stream into a new table")
          val p = paramsPath(tablePath)
          val tmp = new Path(tablePath, s"_sample_params.tmp-${java.util.UUID.randomUUID()}")
          val out = fs.create(tmp, false)
          try out.write(
            s"budget=$budget\nseed=$seed\nhash=$RankHashId\n".getBytes("UTF-8"))
          finally out.close()
          if (publish(fs, tmp, p)) done = true
          else {
            fs.delete(tmp, false)
            attempts -= 1
            require(attempts > 0,
              s"could not publish or read _sample_params at $tablePath " +
              "after repeated attempts — refusing to stream unpinned")
          }
      }
    }
  }

  /** Identifier of the rank-hash kernel this build selects with. r15
    * switched [[Sampling.budgetSampleOf]] from xxhash64 to the portable
    * polynomial hash (membership became SQL-oracle-able) — a candidate
    * table streamed under the OLD order must be refused, not silently
    * re-ranked: its per-batch top-ks discarded exactly the rows the new
    * order might rank first, so a re-read would be a sample of a sample.
    * A sidecar without the field is a pre-r15 xxhash64 table. */
  private[graft] val RankHashId: String = "poly-bs"

  private def storedHashId(spark: SparkSession, tablePath: String): String =
    storedKv(spark, tablePath).flatMap(_.get("hash")).getOrElse("xxhash64")

  /** The streamed (budget, seed), if the sidecar exists. */
  def storedParams(spark: SparkSession, tablePath: String): Option[(Int, Int)] =
    storedKv(spark, tablePath).flatMap { kv =>
      for (b <- kv.get("budget"); s <- kv.get("seed")) yield (b.toInt, s.toInt)
    }

  private def storedKv(spark: SparkSession,
      tablePath: String): Option[Map[String, String]] = {
    val fs = hfs(spark, tablePath)
    val p = paramsPath(tablePath)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      Some(text.linesIterator.flatMap { l =>
        l.split("=", 2) match { case Array(k, v) => Some(k -> v.trim); case _ => None }
      }.toMap)
    }
  }
}
