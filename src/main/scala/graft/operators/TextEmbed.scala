package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Artifacts
import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.functions.VectorExpressions.cosine_sim

/** Text-native embeddings via feature hashing (the "hashing trick",
  * Weinberger et al. 2009): token → portable 64-bit hash → signed unit
  * vote into `h mod dim` → per-bucket sums → L2-normalize. Deterministic,
  * vocabulary-free, and engine-portable — the projection is pure counting
  * over [[Dedup.portableTokenHash]], so the DuckDB oracle recomputes every
  * coordinate bit-for-bit (bucket sums are small integers, their squares
  * sum exactly in doubles, and the one division is IEEE-deterministic).
  *
  * This closes the loop between the text tier and the similarity tier:
  * the ANN/SemDeDup machinery no longer depends on fixture vectors — any
  * `documents`-shaped corpus can be embedded and near-dup-searched
  * end-to-end, the way a real curation pipeline runs. The sign bit (bit
  * 32) is disjoint from the bucket bits (0..5), the standard decorrelation
  * in signed feature hashing.
  *
  * Scale shape: one scan + token explode, one (doc, bucket) partial-agg
  * shuffle, one doc-keyed assembly — all linear; dim is a constant. */
object TextEmbed {

  val Dim = 64

  /** Dense (doc_id, emb[dim], nrm) feature-hash embeddings; docs with no
    * tokens drop out (nothing to embed), zero vectors pass through
    * unnormalized (the cosine kernel's zero-denominator guard covers
    * them).
    *
    * Memoized per (session, dir, dim): the token explode + hash runs once
    * and its (docs × dim) dense result is shared by the projection query
    * and the composed near-dup search. */
  def embeddings(spark: SparkSession, dir: String, dim: Int = Dim): DataFrame =
    Artifacts.textEmbeddings(spark, (dir, dim))(embeddingsImpl(spark, dir, dim))

  private def embeddingsImpl(spark: SparkSession, dir: String, dim: Int): DataFrame =
    embedDocs(Tables.spread(spark, Tables.documents(spark, dir)), dim)

  /** The embed kernel over ANY (doc_id, text) frame — the corpus reader
    * above and the ingest-time scorer (`streaming/StreamScore`) share it,
    * and because every step is doc-local (token votes never cross
    * documents) the embedding of a doc is IDENTICAL whether it arrives in
    * a full-corpus scan or a one-file micro-batch. */
  private[graft] def embedDocs(docs: DataFrame, dim: Int = Dim): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), Dedup.portableTokenHashCol(col("tok")).as("h"))
      .select(col("doc_id"),
        pmod(col("h"), lit(dim.toLong)).cast("int").as("bucket"),
        when(shiftrightunsigned(col("h"), 32).bitwiseAND(lit(1L)) === 1L, 1.0)
          .otherwise(-1.0).as("sgn"))
    val sums = hashed.groupBy("doc_id", "bucket").agg(sum("sgn").as("v"))
    sums.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("v")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i), lit(0.0))).as("raw"))
      .withColumn("nrm",
        sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("doc_id"),
        when(col("nrm") === 0.0, col("raw"))
          .otherwise(transform(col("raw"), v => v / col("nrm"))).as("emb"),
        col("nrm"))
  }

  /** Registered projection query: the embedding exploded to (doc_id, pos,
    * v) scalar rows — rounded coordinates hash-oracle cleanly where array
    * columns would not. */
  def embedQuery(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(col("doc_id"), posexplode(col("emb")).as(Seq("pos", "val")))
      .select(col("doc_id"), col("pos"), round(col("val"), 6).as("v"))

  /** Shared DuckDB CTE chain: tokens → portable token hash (the SimHash
    * fold: polynomial base 1e9+7 × xorshift* finisher, HUGEINT mod 2^64)
    * → signed bucket votes → dense coordinates → L2 norm. `h % 64` on the
    * unsigned HUGEINT equals Spark's `pmod` on the signed long because 64
    * divides 2^64; bit 32 is sign-representation-invariant. */
  private[graft] def embedSqlCtesOver(srcRel: String): String =
    s"""${graft.functions.TextFunctions.tokedCteSqlOver(srcRel)},
      |th AS (
      |  SELECT doc_id,
      |    ${graft.functions.TextFunctions.polyMixSql("tok")} AS h
      |  FROM toked),
      |bs AS (
      |  SELECT doc_id, CAST(h % 64 AS INT) AS bucket,
      |    SUM(CASE WHEN ((h >> 32) & 1::HUGEINT) = 1::HUGEINT
      |        THEN 1.0 ELSE -1.0 END) AS v
      |  FROM th GROUP BY 1, 2),
      |dense AS (
      |  SELECT d.doc_id, p.pos, COALESCE(bs.v, 0.0) AS raw
      |  FROM (SELECT DISTINCT doc_id FROM toked) d
      |  CROSS JOIN (SELECT CAST(UNNEST(range(0, 64)) AS INT) AS pos) p
      |  LEFT JOIN bs ON bs.doc_id = d.doc_id AND bs.bucket = p.pos),
      |nrms AS (
      |  SELECT doc_id, sqrt(SUM(raw * raw)) AS nrm FROM dense GROUP BY 1),
      |coords AS (
      |  SELECT d.doc_id, d.pos,
      |    CASE WHEN n.nrm = 0.0 THEN d.raw ELSE d.raw / n.nrm END AS val
      |  FROM dense d JOIN nrms n USING (doc_id))""".stripMargin

  /** [[embedSqlCtesOver]] instantiated on `documents`. */
  private val embedSqlCtes: String = embedSqlCtesOver("documents")

  /** DuckDB oracle for [[embedQuery]]. */
  val embedQuerySql: String =
    s"""WITH $embedSqlCtes
       |SELECT doc_id, pos, ROUND(val, 6) AS v FROM coords""".stripMargin

  /** The embed chain extended to per-doc DOUBLE[] vectors as a relation
    * named `c` — the [[Similarity.lshTopKSqlOver]] source contract. */
  private val embedVecsCtes: String =
    s"""$embedSqlCtes,
       |c AS (
       |  SELECT doc_id AS vec_id, list(val ORDER BY pos) AS emb
       |  FROM coords GROUP BY doc_id)""".stripMargin

  /** Text embeddings through the GENERALIZED LSH tier ([[Similarity
    * .lshTopKOf]]): the sub-linear search path running on hashed-text
    * vectors — fixture-free end-to-end (documents → embed → bucket →
    * re-rank), exactly how a curation pipeline would near-dup-search a
    * fresh corpus at scale. Signatures are sign-of-±1-dot over coordinates
    * that are bitwise identical cross-engine (integer votes, one sqrt, one
    * division), so the full chain hash-oracles. */
  def textLshTopK(spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5): DataFrame =
    Similarity.lshTopKOf(
      embeddings(spark, dir).select(col("doc_id").as("vec_id"), col("emb")),
      nQueries, k)

  /** DuckDB oracle for [[textLshTopK]]: the embed CTEs feeding the shared
    * LSH oracle generator — one plane/signature source for both engines. */
  def textLshTopKSql(nQueries: Int = 20, k: Int = 5): String =
    Similarity.lshTopKSqlOver(embedVecsCtes, nQueries, k)

  /** The lang-LABELED embedding frame (vec_id, label, emb) — MEMOIZED per
    * (session, dir) and cached: the `documents` label join otherwise
    * re-ran on every use of the labeled corpus (three scans inside one PQ
    * search alone). Two registered consumers share it (q_embed_text_ivf
    * seeds its coarse quantizer on `lang`, q_embed_text_pq seeds its
    * codebooks the same way), so it is warmed: in production this is
    * the labeled embedding table an ingest materializes once. */
  private[graft] def labeledVecs(spark: SparkSession, dir: String): DataFrame =
    Artifacts.textLabeledVecs(spark, dir) {
      embeddings(spark, dir)
        .join(Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang").as("label")), "doc_id")
        .select(col("doc_id").as("vec_id"), col("label"), col("emb"))
    }

  /** The text tier's coarse quantizer — per-lang mean vectors of the
    * hashed-text embeddings, collected once (langs × dim — metadata
    * scale) and shared by BOTH seeded tiers: the IVF twin probes these
    * cells directly and the PQ twin's codebooks are exactly these
    * centroids sliced per subspace ([[Similarity
    * .seededCodebooksFromCents]] — CellSet's label order is
    * `orderBy("label")`'s order, so the slices are identical to the
    * independent collect they replace). One aggregate + collect job per
    * session instead of one per query call. */
  private[graft] def textCells(spark: SparkSession, dir: String): Similarity.CellSet =
    Artifacts.textCells(spark, dir) {
      Similarity.collectCells(
        Similarity.meanVectors(
            labeledVecs(spark, dir).select(col("label"), col("emb")),
            "label", "emb")
          .withColumnRenamed("label", "c_label"))
    }

  /** Text embeddings through the GENERALIZED IVF tier ([[Similarity
    * .ivfTopKOf]]): `lang` seeds the coarse quantizer — the language a doc
    * is written in is exactly the kind of cheap prior a curation pipeline
    * quantizes on before exact re-rank. Fixture-free like the LSH path. */
  def textIvfTopK(spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5, nprobe: Int = 2): DataFrame =
    Similarity.ivfTopKOfCells(labeledVecs(spark, dir),
      textCells(spark, dir), nQueries, k, nprobe)

  /** DuckDB oracle for [[textIvfTopK]]: the coordinate CTEs assembled to
    * vectors, lang joined on as the seeding label, ending in the `c`
    * relation the IVF generator expects (CTE names must be unique, so the
    * chain is built from `coords` here rather than reusing
    * [[embedVecsCtes]], whose final relation is already named `c`). */
  def textIvfTopKSql(nQueries: Int = 20, k: Int = 5, nprobe: Int = 2): String =
    Similarity.ivfTopKSqlOver(labeledVecsCtes, nQueries, k, nprobe)

  /** The embed chain assembled to lang-LABELED vectors as the `c` relation
    * the IVF/PQ generators expect — shared by the IVF twin, the PQ twin,
    * and the cluster-balanced sampler's oracle. */
  private[graft] val labeledVecsCtes: String =
    s"""$embedSqlCtes,
       |v AS (
       |  SELECT doc_id AS vec_id, list(val ORDER BY pos) AS emb
       |  FROM coords GROUP BY doc_id),
       |c AS (
       |  SELECT v.vec_id, d.lang AS label, v.emb
       |  FROM v JOIN documents d ON d.doc_id = v.vec_id)""".stripMargin

  /** Text embeddings through the MEMORY tier ([[Similarity
    * .quantizedTopKOf]]): int8 codes over the hashed-text vectors, integer
    * ranking, exact re-rank — how a curation pipeline near-dup-searches a
    * corpus whose float embeddings exceed executor memory. Fixture-free
    * and fully hash-oracled like the LSH/IVF twins. */
  def textQuantizedTopK(spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5, m: Int = 20): DataFrame =
    Similarity.quantizedTopKOf(
        embeddings(spark, dir).select(col("doc_id").as("vec_id"), col("emb")),
        nQueries, k, m)
      .withColumnRenamed("vec_id", "doc_id")

  /** DuckDB oracle for [[textQuantizedTopK]]: the embed CTEs assembled to
    * vectors feeding the shared quantized-chain generator. */
  def textQuantizedTopKSql(nQueries: Int = 20, k: Int = 5, m: Int = 20): String =
    Similarity.quantizedTopKSqlOver(
      s"""$embedSqlCtes,
         |v AS (
         |  SELECT doc_id, list(val ORDER BY pos) AS emb FROM coords GROUP BY doc_id),
         |c AS (SELECT doc_id AS vec_id, emb FROM v)""".stripMargin,
      nQueries, k, m, idOut = "doc_id")

  /** Text embeddings through the CODE-BOOK tier ([[Similarity.pqTopKOf]]):
    * product-quantization codes over the hashed-text vectors, `lang`
    * seeding the per-subspace codebooks (the [[textIvfTopK]] prior), ADC
    * ranking, exact re-rank — the deepest-compression search path for a
    * corpus whose int8 codes still exceed memory. Fixture-free and fully
    * hash-oracled like its siblings. */
  def textPqTopK(spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5, m: Int = 50, nsub: Int = 16): DataFrame =
    // codebooks = the shared text-tier quantizer's centroids sliced per
    // subspace (identical to the independent meanVectors+collect they
    // replace — see textCells); the search itself is the fused one-pass
    // pqSearch over the memoized labeled frame
    Similarity.pqSearch(labeledVecs(spark, dir),
        Similarity.seededCodebooksFromCents(textCells(spark, dir).cents, nsub),
        nQueries, k, m)
      .withColumnRenamed("vec_id", "doc_id")

  /** DuckDB oracle for [[textPqTopK]]: the coordinate CTEs assembled to
    * labeled vectors feeding the shared PQ-chain generator (the
    * [[textIvfTopKSql]] source shape). */
  def textPqTopKSql(nQueries: Int = 20, k: Int = 5, m: Int = 50,
      nsub: Int = 16): String =
    Similarity.pqTopKSqlOver(labeledVecsCtes,
      nQueries, k, m, nsub, idOut = "doc_id")

  /** The composed text→embed→near-dup query: exact cosine top-k of the
    * first `nQueries` docs' hashed-text embeddings against the whole
    * embedded corpus — [[Similarity.bruteForceTopK]]'s shape fed by
    * [[embeddings]] instead of the fixture vectors. Broadcast queries ×
    * one linear corpus scan; the sub-linear regime composes the same way
    * through the LSH/IVF tiers (any (id, emb) frame). */
  def textNearDupTopK(spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5): DataFrame =
    Similarity.bruteForceTopKOf(
        embeddings(spark, dir).select(col("doc_id").as("vec_id"), col("emb")),
        nQueries, k)
      .withColumnRenamed("vec_id", "doc_id")

  /** DuckDB oracle for [[textNearDupTopK]]: assemble full-precision
    * embedding lists from the coordinate CTEs, then the GENERALIZED
    * brute-force oracle ([[Similarity.bruteForceTopKSqlOver]]) — the
    * round-then-rank contract generated in one place. */
  def textNearDupTopKSql(nQueries: Int = 20, k: Int = 5): String =
    Similarity.bruteForceTopKSqlOver(
      s"""$embedSqlCtes,
         |v AS (
         |  SELECT doc_id, list(val ORDER BY pos) AS emb FROM coords GROUP BY doc_id),
         |c AS (SELECT doc_id AS vec_id, emb FROM v)""".stripMargin,
      nQueries, k, idOut = "doc_id")
}
