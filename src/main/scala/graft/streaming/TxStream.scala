package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** The one streaming-to-TxTable adapter: every `*StreamTx` sink (and
  * `StreamFormat.upsertStream`, `StreamMv.maintainToTx`) drains its source
  * through [[drain]], so the checkpointed AvailableNow skeleton and the
  * exactly-once stamp exist once.
  *
  * Exactly-once story: each micro-batch reaches the sink's body with its
  * stamp `(appId, batchId)` — the Delta txnAppId recipe, where appId is
  * the checkpoint's persisted identity (one writer per checkpoint is the
  * Structured Streaming contract). Every sink threads the stamp to its
  * commit as `txn = Some(stamp)`. A crash BETWEEN the TxTable commit and
  * the checkpoint commit replays the batch, and [[graft.serve.TxTable
  * .merge]]'s idempotent-writer guard turns the replay into a no-op: a
  * replayed batch burns no version and changes no row, whether or not the
  * sink's operator is a pure function of its rows (TxStreamReplaySpec
  * pins this for every sink). A replay from a FRESH checkpoint — a new
  * path, or the same path wiped — mints a new appId, so there the sink's
  * own keyed-merge idempotence is what converges the table. */
object TxStream {

  /** Drain `source` to completion (AvailableNow) under `checkpoint`,
    * handing each micro-batch to `body` with its `(appId, batchId)` stamp.
    * The appId is resolved once, BEFORE the query starts: only then does
    * the checkpoint still show whether earlier runs left batches in it
    * (see [[txnAppId]]). Returns after the (finite) run completes. */
  def drain(source: DataFrame, checkpoint: String)(
      body: (DataFrame, (String, Long)) => Unit): Unit = {
    val appId = txnAppId(
      source.sparkSession.sparkContext.hadoopConfiguration, checkpoint)
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, (appId, batchId))
      }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** Stable writer id for the txn stamp, PERSISTED in the checkpoint
    * directory (`_graft_app_id`) on first use and READ BACK on every later
    * call: the identity lives WITH the checkpoint state it guards, so any
    * spelling of the same directory (`.`/`..`, a re-pointed symlink, a
    * moved mount) sees the same id, and no future change to the minting
    * recipe can re-key an existing stream across a crash-restart.
    *
    * The mint depends on what the checkpoint already holds:
    *  - a NEW (or wiped) checkpoint gets a random id. Spark restarts its
    *    batch ids at 0 there, so an id reused from an earlier checkpoint on
    *    the same path would make the replay guard skip every batch up to
    *    that run's last one — dropping files that landed since.
    *  - a LEGACY checkpoint — one with `offsets/` or `commits/` entries but
    *    no id file, written before the id was persisted — gets the id
    *    hashed from its canonical path, the recipe `StreamMv` used then
    *    (kept byte-for-byte), so such a stream upgrades stamp-continuously.
    * All file I/O goes through the Hadoop FileSystem resolved from the
    * checkpoint URI: a checkpoint on hdfs:// or s3a:// keeps its identity
    * file WITH its state, not in a CWD-relative local directory. */
  private[graft] def txnAppId(conf: org.apache.hadoop.conf.Configuration,
      checkpoint: String): String = {
    // the checkpoint is a Spark checkpointLocation and can be ANY Hadoop
    // URI (hdfs://, s3a://), so the identity must be resolved through the
    // SAME FileSystem the checkpoint state lives on (the
    // StreamSample._sample_params pattern)
    val cp = new Path(checkpoint)
    val fs = cp.getFileSystem(conf)
    val f = new Path(cp, "_graft_app_id")
    if (fs.exists(f)) readId(fs, f)
    else {
      def hasEntries(dir: String): Boolean = {
        val d = new Path(cp, dir)
        fs.exists(d) && fs.listStatus(d).nonEmpty
      }
      val minted =
        if (hasEntries("offsets") || hasEntries("commits")) {
          // legacy seed = the canonical spelling: local paths keep the
          // java.io canonical-path recipe (symlink-resolving); remote URIs
          // use the fs-qualified form
          val qualified = fs.makeQualified(cp)
          val seed =
            if (qualified.toUri.getScheme == "file")
              new java.io.File(qualified.toUri.getPath).getCanonicalPath
            else qualified.toString
          "stream_mv_" + java.lang.Long.toHexString(
            scala.util.hashing.MurmurHash3.stringHash(seed) & 0xffffffffL)
        } else
          "stream_mv_" + java.util.UUID.randomUUID().toString.replace("-", "")
      fs.mkdirs(cp)
      val tmp = new Path(cp, s"_graft_app_id.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      try out.write((minted + "\n").getBytes("UTF-8")) finally out.close()
      // atomic publish (HDFS rename refuses an existing target); if a
      // concurrent first-start won the race, adopt its id
      if (!fs.rename(tmp, f)) fs.delete(tmp, false)
      if (fs.exists(f)) readId(fs, f) else minted
    }
  }

  /** Read-back with validation: an empty or control-character-bearing id
    * would either silently disarm per-stream identity (appId "") or make
    * every later [[graft.serve.TxTable.merge]] throw its appId-charset
    * `require` with no hint of WHERE the bad id came from. A poisoned
    * `_graft_app_id` must fail loudly, naming the file, at stream start. */
  private def readId(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    val id = (try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()).trim
    require(graft.serve.TxTable.validAppId(id),
      s"checkpoint identity file $p holds an invalid app id " +
      s"'${id.take(40)}' (empty or contains one of ':', '=', tab, CR, LF) " +
      "— the file is corrupt; restore it from the stream's commit stamps " +
      "or delete it to re-mint, rather than stamping merges with a bad id")
    id
  }
}
