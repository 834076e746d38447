package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Super-scale probe (r13 verdict task 5): the 100 TB claims ride scale
  * exponents measured sf0.01 → sf0.1 — ONE decade. This tool stretches the
  * measurement to 50× for the three heaviest linear families (MinHash-LSH
  * near-dup, IVF search, n-gram-LM scoring) by materializing an
  * sf0.5-equivalent corpus and pinning that the exponent still clears the
  * same 1.5 gate over both the 50× (sf0.01 → sf0.5) and the 5×
  * (sf0.1 → sf0.5) spans. A hidden superlinear constant — e.g. banded-join
  * bucket-collision growth that one decade's fixed overhead can mask —
  * shows up as the 5× leg drifting above the 0.3-0.5 exponents the r13
  * probe measured, long before it breaches the gate.
  *
  * The corpus is DERIVED, deterministically, from the driver's sf0.1
  * tables (never regenerated driver data, never /root/testdata writes):
  *  - documents ×5: each replica row inherits its base row's (lang,
  *    source, word count) — so the length/language mixture is exactly the
  *    base distribution — and draws FRESH text word-by-word from the base
  *    corpus vocabulary via xxhash64(doc_id, pos). Fresh text (not copies)
  *    is load-bearing: replicated text would plant 5-way exact/near-dup
  *    cliques and quadratic-in-replica bucket growth the real corpus does
  *    not have, turning the probe into a different workload.
  *  - embeddings ×5: replica vectors are the base vector plus a small
  *    hash-derived perturbation — cluster structure (what IVF cost depends
  *    on) is preserved, near-identical pairs are not created.
  * Everything is Column-expression hashing — no Random, no driver loops —
  * so the corpus is reproducible bit-for-bit and builds distributed.
  *
  * Usage: `sbt 'runMain graft.tools.SuperScale'` (env SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SUPER_DIR, SPARK_GRAFT_SUPER_FACTOR override defaults).
  * Emits one JSON line per leg plus a summary; exits non-zero on breach.
  * Committed report: PROBE_super.json. */
object SuperScale {

  val ExponentGate = 1.5

  /** Materialize the ×`factor` corpus under `outDir` if absent (the build
    * is deterministic, so presence ⇒ validity for a given factor). */
  def generate(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val done = new org.apache.hadoop.fs.Path(s"$outDir/_built_x$factor")
    if (fs.exists(done)) return

    // ---- documents: fresh text from the base vocabulary ----
    val baseDocs = spark.read.parquet(s"$baseDir/documents.parquet")
    val nBase = baseDocs.count()
    val vocab = baseDocs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
      .orderBy("w").collect().map(_.getString(0)) // metadata-scale: base vocab
    val vocabArr = array(vocab.map(lit(_)): _*)
    val v = vocab.length
    val reps = spark.range(factor.toLong).select(col("id").as("rep"))
    val docs = baseDocs
      .select(col("doc_id").as("base_id"), col("lang"), col("source"),
        size(split(col("text"), " ")).as("n_words"))
      .crossJoin(reps)
      .select((col("base_id") + col("rep") * nBase).as("doc_id"),
        col("lang"), col("source"), col("n_words"))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(0), col("n_words") - 1),
          (p: Column) => element_at(vocabArr,
            (pmod(xxhash64(col("doc_id"), p), lit(v.toLong)) + 1).cast("int")))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    // ---- embeddings: perturbed replicas, cluster structure preserved ----
    val baseVecs = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val nVecs = baseVecs.count()
    val vecs = baseVecs.crossJoin(reps)
      .select((col("vec_id") + col("rep") * nVecs).as("vec_id"),
        col("embedding"), col("label"))
      .withColumn("embedding",
        transform(col("embedding"), (x: Column, i: Column) =>
          (x + (pmod(xxhash64(col("vec_id") * 64 + i), lit(1000L))
            .cast("double") / 1000.0 - 0.5) * 0.05).cast("float")))
      .select("vec_id", "embedding", "label")
    vecs.repartition(4).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    fs.create(done, true).close()
  }

  /** The three heaviest linear families (by r13 bench share), plus — r17,
    * extending 50× membership beyond them (r16 verdict task 5) — the
    * composed curation funnel (source gate → dedup → quality →
    * decontamination, the heaviest multi-stage consumer), RAG retrieval
    * (chunk → embed → top-k), and the sketch family's two verified frames
    * (Misra-Gries heavy hitters, CMS certification), whose 100 TB claims
    * previously rode 10× probes alone. Every leg re-runs COLD (caches and
    * session memos dropped), so composed funnels pay their full chain. */
  private def legs: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("q_dedup_minhash_pairs", "documents",
      (s: SparkSession, d: String) => graft.operators.Dedup.minhashNearDups(s, d)),
    ("q_ann_ivf", "embeddings",
      (s: SparkSession, d: String) => graft.operators.Similarity.ivfTopK(s, d)),
    ("q_ngram_lm_score", "documents",
      (s: SparkSession, d: String) => graft.operators.NgramLm.scoreQuery(s, d)),
    ("q_curation_pipeline", "documents",
      (s: SparkSession, d: String) => graft.operators.Curation.curationPipeline(s, d)),
    ("q_rag_retrieve", "documents",
      (s: SparkSession, d: String) => graft.operators.Rag.ragRetrieve(s, d)),
    ("q_heavy_hitters", "documents",
      (s: SparkSession, d: String) => graft.operators.Sketches.heavyTermsVerified(s, d)),
    ("q_cms_estimates", "documents",
      (s: SparkSession, d: String) => graft.operators.Sketches.cmsVerified(s, d)),
    // r18 (r17 verdict task 5): the two families that gained REAL per-row
    // compute in r17/r18 — the multimodal codec path (PNG encode→decode
    // per image row, WAV per audio row: cost ∝ payload bytes, claimed
    // linear) and the BPE train+encode chain (20 argmax rounds over the
    // compact word table + the corpus encode; vocabulary grows
    // sub-linearly, so the claim is linear-in-corpus) — previously probed
    // only across the one sf0.01→sf0.1 decade
    ("q_media_features", "documents",
      (s: SparkSession, d: String) => graft.operators.Multimodal.featuresQuery(s, d)),
    ("q_bpe_encode", "documents",
      (s: SparkSession, d: String) => graft.operators.BpeEncode.encodeQuery(s, d)))

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sfSmall = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val sfMid = sys.env.getOrElse("SPARK_GRAFT_SF_BIG", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SUPER_FACTOR", "5").toInt
    val superDir = sys.env.getOrElse("SPARK_GRAFT_SUPER_DIR",
      s"/tmp/graft_superscale/x$factor")
    val quietThreshold =
      sys.env.getOrElse("SPARK_GRAFT_LOADAVG_MAX", "1.0").toDouble
    val maxWaitMs =
      sys.env.getOrElse("SPARK_GRAFT_LOADAVG_WAIT_SEC", "600").toLong * 1000L
    val loadavgStart = graft.Bench.awaitQuiet(quietThreshold, maxWaitMs)
    val tainted = !(loadavgStart >= 0.0 && loadavgStart < quietThreshold)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, sfMid, superDir, factor)
    // warm the session once outside every timing (the ScaleProbe recipe)
    try graft.SparkEntry.entry(spark).queryExecution.toRdd.count()
    catch { case _: Throwable => }
    try {
      graft.Caches.clear(spark)
      legs.head._3(spark, sfSmall).queryExecution.toRdd.count()
    } catch { case _: Throwable => }

    def rowsOf(dir: String, table: String): Long =
      spark.read.parquet(s"$dir/$table.parquet").count()
    def timeCold(thunk: => DataFrame): Double = {
      graft.Caches.clear(spark)
      val t0 = System.nanoTime()
      thunk.queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    // min-of-2 cold runs per side: single runs carry GC/JIT noise that can
    // inflate either side (the quadratic-leg lesson from ScaleProbe)
    def minOf2(thunk: => DataFrame): Double =
      math.min(timeCold(thunk), timeCold(thunk))
    def r3(x: Double): Double = math.rint(x * 1e3) / 1e3

    var worst = 0.0
    var allOk = true
    legs.foreach { case (name, table, fn) =>
      val (rs, rm, rb) =
        (rowsOf(sfSmall, table), rowsOf(sfMid, table), rowsOf(superDir, table))
      val ts = minOf2(fn(spark, sfSmall))
      val tm = minOf2(fn(spark, sfMid))
      val tb = minOf2(fn(spark, superDir))
      val exp50 = math.log(tb / ts) / math.log(rb.toDouble / rs)
      val exp5 = math.log(tb / tm) / math.log(rb.toDouble / rm)
      // BOTH spans are linear claims: the 50× span is the headline gate,
      // the 5× span catches a superlinear tail the long span's fixed
      // overhead would dilute
      val ok = exp50 < ExponentGate && exp5 < ExponentGate
      worst = math.max(worst, math.max(exp50, exp5))
      allOk &&= ok
      println(s"""{"probe":"$name","table":"$table","rows_small":$rs,"rows_mid":$rm,"rows_big":$rb,""" +
        s""""t_small":${r3(ts)},"t_mid":${r3(tm)},"t_big":${r3(tb)},""" +
        s""""exponent_50x":${r3(exp50)},"exponent_5x":${r3(exp5)},""" +
        s""""expected":"linear","ok":$ok}""")
    }
    println(s"""{"metric":"super_scale_probe","gate":$ExponentGate,"factor":$factor,""" +
      s""""worst_linear_exponent":${r3(worst)},"all_ok":$allOk,""" +
      s""""loadavg":$loadavgStart,"tainted":$tainted,""" +
      s""""sf_small":"$sfSmall","sf_mid":"$sfMid","sf_super":"$superDir"}""")
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
