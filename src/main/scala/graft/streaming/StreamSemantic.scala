package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions.cosine_sim
import graft.operators.Similarity

/** Ingest-time SEMANTIC dedup gate — the IVF twin of
  * [[StreamCurate]]'s LSH text gate, closing the streaming symmetry: the
  * text family gates arriving docs against the stored band-signature
  * index; this gates arriving VECTORS against the stored IVF layout
  * (`Similarity.writeIvfIndex`: centroids + single-nearest-cell
  * assignments as TxTables).
  *
  * Per batch the work is exactly [[Similarity.semanticProbeStored]]'s
  * shape: route each new vector to its `nprobe` nearest stored centroids
  * (k×dim — broadcast at any corpus scale), exact-cosine-verify against
  * only those cells' index vectors — batch×cell compute, never
  * index×index, never batch×batch. The per-vector verdict collapse
  * (argmax over hits) is micro-batch-scoped, so the deployment drains
  * through [[TxStream.drain]] and commits each batch's decisions as ONE
  * atomic, stamped TxTable MERGE (the `curateStreamTx` contract: a
  * crash-replay is a no-op, a fresh-checkpoint replay converges). */
object StreamSemantic {

  /** Per-batch decisions for `newVecs` (vec_id, emb) against a stored
    * layout snapshot (`cents`: (c_label, centroid), `cells`: (cell,
    * index_id, i_emb)). One row per new vector: `near_dup` when any
    * probed-cell index vector scores ≥ `threshold`, with the best hit
    * (max rounded cosine, smaller index_id on ties) and the distinct hit
    * count; vectors with no hit keep nulls and `keep = true`. */
  def semanticGate(newVecs: DataFrame, cents: DataFrame, cells: DataFrame,
      threshold: Double = 0.4, nprobe: Int = 2): DataFrame = {
    val vecs = newVecs.select(col("vec_id"), col("emb"))
    val probing = Similarity.nearestCells(vecs, cents, nprobe)
      .select(col("cell"), col("vec_id").as("new_id"), col("emb").as("b_emb"))
    val hits = probing.join(cells, "cell")
      .withColumn("cosine", round(cosine_sim(col("b_emb"), col("i_emb")), 6))
      .filter(col("cosine") >= threshold)
      // a pair reachable through two probed cells appears twice with
      // identical bits — countDistinct and the argmax are both exact
      .groupBy("new_id")
      .agg(max(struct(col("cosine"), (-col("index_id")).as("neg_id"))).as("top"),
        countDistinct("index_id").as("n_hits"))
      .select(col("new_id").as("vec_id"),
        col("top.cosine").as("max_cosine"),
        (-col("top.neg_id")).cast("long").as("nearest_index_id"),
        col("n_hits"))
    vecs.select("vec_id").join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("max_cosine").isNotNull.as("near_dup"),
        col("max_cosine"), col("nearest_index_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("max_cosine").isNull.as("keep"))
  }

  /** Streaming deployment: replay `(vec_id, emb)` parquet drops from
    * `inDir`, gate each micro-batch against ONE stored-index snapshot
    * (resolved at start — TxTable versioning keeps it consistent while a
    * concurrent ingest appends), MERGE decisions into the TxTable at
    * `tablePath` (idempotent by vec_id, one commit per batch).
    * AvailableNow + checkpoint: resumes exactly where it stopped. */
  def semanticStreamTx(spark: SparkSession, inDir: String, indexPath: String,
      tablePath: String, checkpoint: String,
      threshold: Double = 0.4, nprobe: Int = 2): Unit = {
    val cents = graft.serve.TxTable.read(spark, s"$indexPath/centroids")
    val cells = graft.serve.TxTable.read(spark, s"$indexPath/cells")
    val stream = spark.readStream.schema(graft.Tables.VecSchemaDdl)
      .parquet(inDir)
    TxStream.drain(stream, checkpoint) { (batch, stamp) =>
      graft.serve.TxTable.merge(batch.sparkSession,
        semanticGate(batch, cents, cells, threshold, nprobe), tablePath,
        Seq("vec_id"), txn = Some(stamp))
    }
  }
}
