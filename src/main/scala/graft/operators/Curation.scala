package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Artifacts
import graft.Tables
import graft.functions.TextFunctions
import graft.functions.VectorExpressions.cosine_sim

/** Corpus curation — the composed training-data pipeline over `documents`:
  * near-dup graph → connected components → canonical representative per
  * cluster → quality/language gates → keep/drop decision with reason.
  */
object Curation {

  /** Connected components over the near-dup pair graph by iterative
    * min-label propagation: every vertex repeatedly adopts the smallest
    * doc_id reachable in one hop; converges in O(log(diameter)) rounds
    * (dup clusters are tiny — pairs/triangles — so the bound is loose).
    * Each round is one join + one min-aggregate; this is the standard
    * large-graph CC under Pregel semantics, expressed on DataFrames.
    */
  /** Driver fast-path cutoff: a pair graph at or below this many directed
    * edges is solved by union-find on the driver (16 B/edge ⇒ ≤ 16 MB
    * collected — metadata scale, the PQ-codebook precedent). The
    * threshold-pruned near-dup graph is orders of magnitude smaller than
    * the corpus, so at test SFs (hundreds of edges) the distributed loop's
    * per-round job overhead (localCheckpoint + fixpoint aggregate × 2
    * joins) dwarfs the actual work; past the cutoff — a 100 TB corpus
    * whose dup graph genuinely outgrows one machine — the label-
    * propagation loop below is the path. */
  private[graft] val DriverCcMaxEdges: Long = 1L << 20

  def connectedComponents(pairs: DataFrame, rounds: Int = 10,
      ccShufflePartitions: Int = 8,
      driverMaxEdges: Long = DriverCcMaxEdges): DataFrame =
    connectedComponentsRounds(pairs, rounds, ccShufflePartitions, driverMaxEdges)._1

  /** As [[connectedComponents]], also returning how many label-propagation
    * rounds actually executed before the fixpoint (for tests/telemetry;
    * the driver union-find path reports 0 rounds — CurationSpec pins the
    * two paths label-identical on the same graph). */
  def connectedComponentsRounds(pairs: DataFrame, rounds: Int = 10,
      ccShufflePartitions: Int = 8,
      driverMaxEdges: Long = DriverCcMaxEdges): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    // undirected edge list, both directions — MATERIALIZED AT FULL WIDTH:
    // this checkpoint executes the whole upstream pair pipeline, which must
    // keep the session's normal parallelism
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
    val checkpointedEdges = edges.localCheckpoint(true)
    // count() on the already-materialized blocks is one cheap job — the
    // size gate every adaptive strategy needs anyway
    if (checkpointedEdges.count() <= driverMaxEdges)
      return (driverUnionFind(spark, checkpointedEdges), 0)
    // The dup-pair graph is orders of magnitude smaller than the corpus, so
    // the label loop's ~15 shuffles should not each spawn a full-width task
    // wave; narrow the shuffle width for the (eagerly-planned) rounds only.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", ccShufflePartitions.toString)
    try connectedComponentsImpl(checkpointedEdges, rounds)
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** Exact union-find (path-halving; unions always point the larger root
    * at the smaller, so every root is its component's min id) over a
    * collected metadata-scale edge list — the identical fixpoint the
    * label-propagation loop converges to, computed in one pass with zero
    * shuffles. Deterministic: the relabel to per-component min id is
    * order-independent of edge iteration. */
  private def driverUnionFind(spark: SparkSession,
      edges: DataFrame): DataFrame = {
    val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val p = parent(r)
        parent(r) = parent.getOrElse(p, p) // path halving
        r = parent(r)
      }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keys.foreach { id =>
      val r = find(id)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, id), id)
    }
    import spark.implicits._
    parent.keys.toSeq.sorted.map(id => (id, minOfRoot(find(id))))
      .toDF("id", "comp")
  }

  private def connectedComponentsImpl(checkpointedEdges: DataFrame,
      maxRounds: Int): (DataFrame, Int) = {
    // Iterative algorithms MUST truncate lineage each round: the next round
    // references labels twice (probe + neighbor side), so the LOGICAL plan
    // doubles per round — 2^rounds subtree copies. cache() doesn't help (it
    // dedups execution, not the analyzed plan: optimization/explain still
    // walk — and OOM on — the exponential tree). localCheckpoint
    // materializes the round and restarts lineage from the stored blocks,
    // the standard pattern for DataFrame iteration (cf. GraphFrames).
    var labels = checkpointedEdges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    // Early termination: per-vertex labels are monotone non-increasing
    // (every update is a least(...)), so sum(comp) strictly decreases iff
    // ANY label changed — an unchanged sum proves the fixpoint without a
    // per-vertex diff join. One cheap aggregate per round on the already-
    // materialized label blocks. LongType SUM wraps silently on overflow
    // (or throws under ANSI), so at extreme scale a genuine change whose
    // total decrease is ≡ 0 mod 2^64 could alias as convergence; a second
    // INDEPENDENT checksum — bit_xor of xxhash64(id, comp), overflow-free
    // by construction, perturbed pseudo-randomly by any label change —
    // makes simultaneous aliasing of both astronomically unlikely (~2^-64).
    // Same single aggregate, two columns; sum(comp) itself stays within
    // Long because labels are ids, not hashes.
    def labelSum(df: DataFrame): (Long, Long) = {
      val r = df.agg(coalesce(sum("comp"), lit(0L)),
        coalesce(expr("bit_xor(xxhash64(id, comp))"), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var prevSum = labelSum(labels)
    var i = 0
    var converged = false
    while (i < maxRounds && !converged) {
      // (a) neighbor-min: adopt the smallest label one hop away
      val viaEdges = checkpointedEdges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("comp", "dst_comp"), "dst")
        .groupBy(col("src").as("id")).agg(min("dst_comp").as("nbr_comp"))
      val hopped = labels.join(viaEdges, Seq("id"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      // (b) pointer-jump: comp := comp(comp). Doubles the effective
      // propagation distance per round, so r rounds cover radius ~2^r —
      // one-hop-only propagation covers only radius r and mislabels longer
      // dup chains (members pointing at a non-root representative).
      val jump = hopped.select(col("id").as("jid"), col("comp").as("jcomp"))
      labels = hopped
        .join(jump, hopped("comp") === jump("jid"), "left")
        .select(hopped("id"), least(hopped("comp"),
          coalesce(col("jcomp"), hopped("comp"))).as("comp"))
        .localCheckpoint(true)
      i += 1
      val s = labelSum(labels)
      if (s == prevSum) converged = true
      prevSum = s
    }
    (labels, i)
  }

  /** Cluster assignment for every document: component id for near-dup
    * members (from the MinHash-LSH pair graph), own id for singletons.
    * keep = (doc_id == canonical representative = min id in component).
    *
    * A session artifact: the CC label loop ends in localCheckpoint blocks,
    * which the CacheManager cannot share by plan identity. At scale
    * cluster assignment is a MATERIALIZED table refreshed per ingest. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    Artifacts.dupClusters(spark, dir) {
      componentsOf(Tables.documents(spark, dir).select("doc_id"),
          Dedup.minhashNearDups(spark, dir))
        .withColumnRenamed("comp", "cluster_id")
    }

  /** Every id of the one-column frame `ids` with its connected component
    * over the (doc_a, doc_b) pair graph: (id, comp, keep), where an id in
    * no pair is its own component and `keep` marks the component's
    * canonical member (its min id). Callers rename comp and keep. */
  private[graft] def componentsOf(ids: DataFrame, pairs: DataFrame): DataFrame = {
    val id = ids.columns.head
    val labels = connectedComponents(pairs.select("doc_a", "doc_b"))
    ids.join(labels.withColumnRenamed("id", id), Seq(id), "left")
      .select(col(id), coalesce(col("comp"), col(id)).as("comp"))
      .withColumn("keep", col(id) === col("comp"))
  }

  /** Connected components over the EXACT n-gram-Jaccard pair graph — the
    * first hash-oracled pin of the CC kernel (r9; since r16 [[dupClusters]]
    * itself is ALSO fully oracled — the minhash pair graph moved to the
    * portable hash family, so banding is SQL-re-derivable and the same
    * recursive closure applies to the LSH graph directly). The Jaccard
    * pair list IS SQL-expressible (q_dedup_ngram_jaccard's own oracle),
    * and DuckDB's recursive CTE computes the transitive closure — so this
    * query pins the SAME [[connectedComponents]] label-propagation kernel
    * (pointer-jumping, fixpoint detection, singleton fill) on an
    * independent graph: the proof-by-same-kernel pattern
    * q_semantic_probe_stored uses.
    *
    * MEMOIZED per (session, dir) like [[dupClusters]]: the CC loop ends in
    * localCheckpoint blocks, invisible to plan-identity caching, and the
    * soft-weight query below shares the component table. */
  def jaccardComponents(spark: SparkSession, dir: String): DataFrame =
    Artifacts.jaccardComponents(spark, dir) {
      componentsOf(Tables.documents(spark, dir).select("doc_id"),
          Dedup.ngramJaccardPairs(spark, dir))
        .withColumnRenamed("comp", "component")
        .withColumnRenamed("keep", "is_canonical")
    }

  /** DuckDB oracle for [[jaccardComponents]]: the full Jaccard pair
    * pipeline as a CTE, closed transitively by a recursive reachability
    * walk (UNION dedups, so the recursion terminates at the closure;
    * per-vertex reach is bounded by its component size — dup clusters are
    * tiny). component = min reachable doc_id, singletons reach only
    * themselves. */
  /** The transitive-closure walk over ANY (doc_a, doc_b) pair relation —
    * ONE copy (r16), so the exact-Jaccard oracle and the LSH-cluster
    * oracle cannot drift in closure semantics (edge flip, reachability
    * fixpoint, min-label aggregation): `edges` + `reach(id, r)`, to be
    * spliced under `WITH RECURSIVE`; consumers aggregate MIN(r)
    * themselves (their output column names differ). */
  private[operators] def closureCtesOver(pairsRel: String): String =
    s"""edges AS (SELECT doc_a AS s, doc_b AS d FROM $pairsRel
       |          UNION SELECT doc_b, doc_a FROM $pairsRel),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s)""".stripMargin

  val jaccardComponentsSql: String =
    s"""WITH RECURSIVE pairs AS (
       |${Dedup.ngramJaccardPairsSql}
       |),
       |${closureCtesOver("pairs")}
       |SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS component,
       |  id = MIN(r) AS is_canonical
       |FROM reach GROUP BY id""".stripMargin

  /** Soft dedup — downweight instead of drop (the SlimPajama/data-mixing
    * alternative to hard canonical-only dedup): every member of a near-dup
    * component carries weight 1/|component|, so the cluster contributes ONE
    * document's worth of expected training mass while keeping all surface
    * variants available to the sampler. Built on [[jaccardComponents]] so
    * the weights inherit the hash-oracled component assignment.
    *
    * Scale shape: one count window PARTITIONED by component — near-dup
    * components are small by construction (the pair graph is threshold-
    * pruned), so no partition concentrates the corpus. */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("component")
    jaccardComponents(spark, dir)
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("component"),
        col("cluster_size").cast("long").as("cluster_size"),
        round(lit(1.0) / col("cluster_size").cast("double"), 6).as("weight"))
  }

  val softDedupWeightsSql: String =
    s"""WITH comp AS (
       |${jaccardComponentsSql.replace("\n", "\n  ")}
       |)
       |SELECT doc_id, component,
       |  CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
       |  ROUND(1.0 / COUNT(*) OVER (PARTITION BY component), 6) AS weight
       |FROM comp""".stripMargin

  /** Shared recursive-closure chain over the PORTABLE MinHash pair graph
    * (r16): the full LSH pipeline (`Dedup.minhashSqlCtes`) closed
    * transitively by the same reachability walk [[jaccardComponentsSql]]
    * uses, ending in `clus(doc_id, cluster_id, rep)` — cluster_id = min
    * reachable doc_id, singletons reach only themselves. Splice under
    * `WITH RECURSIVE`. */
  private def clusterSqlCtes: String =
    s"""${Dedup.minhashSqlCtes(Dedup.minhashSelfCandSql)},
       |${closureCtesOver("mpairs")},
       |clus AS (
       |  SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id,
       |    id = MIN(r) AS rep
       |  FROM reach GROUP BY id)""".stripMargin

  /** DuckDB oracle for [[dupClusters]] (r16): with the minhash pair graph
    * on the portable hash family, the LSH cluster assignment is fully
    * re-derivable — the r15 rows-only justification ("banding is
    * probabilistic-by-construction") no longer holds. */
  val dupClustersSql: String =
    s"""WITH RECURSIVE $clusterSqlCtes
       |SELECT doc_id, cluster_id, rep AS keep FROM clus""".stripMargin

  /** The end-to-end curation decision: dedup keep-list ∧ quality gate ∧
    * length gate, with a drop reason (first failing rule wins). The final
    * shape a data pipeline materializes before tokenization. */
  def curate(spark: SparkSession, dir: String,
      minQuality: Double = 0.3, minTokens: Int = 10): DataFrame = {
    val quality = TextFunctions.qualityQuery(spark, dir)
      .select("doc_id", "n_tokens", "quality_score")
    val clusters = dupClusters(spark, dir)
    quality.join(clusters, "doc_id")
      .withColumn("drop_reason",
        when(!col("keep"), "near_duplicate")
          .when(col("n_tokens") < minTokens, "too_short")
          .when(col("quality_score") < minQuality, "low_quality")
          .otherwise(lit(null)))
      .select(col("doc_id"), col("cluster_id"), col("n_tokens"),
        col("quality_score"), col("drop_reason"),
        col("drop_reason").isNull.as("keep"))
  }

  /** DuckDB oracle for [[curate]] (r16, defaults minQuality=0.3,
    * minTokens=10): the recursive cluster closure joined to the quality
    * metrics (both independently oracled — `qualityQuerySql` is
    * q_quality_metrics' own mirror), with the first-failing-gate CASE
    * re-stated literally. Upgrades q_corpus_curate from rows-only: every
    * output column, including the representative flag behind
    * `near_duplicate`, is now re-derived from the documents table. */
  val curateSql: String =
    s"""WITH RECURSIVE $clusterSqlCtes,
       |q AS (
       |${graft.functions.TextFunctions.qualityQuerySql.replace("\n", "\n  ")}
       |),
       |dec AS (
       |  SELECT q.doc_id, c.cluster_id, q.n_tokens, q.quality_score,
       |    CASE WHEN NOT c.rep THEN 'near_duplicate'
       |         WHEN q.n_tokens < 10 THEN 'too_short'
       |         WHEN q.quality_score < 0.3 THEN 'low_quality' END AS drop_reason
       |  FROM q JOIN clus c USING (doc_id))
       |SELECT doc_id, cluster_id, n_tokens, quality_score, drop_reason,
       |  drop_reason IS NULL AS keep
       |FROM dec""".stripMargin

  // ---------------------------------------------------------------- x-modal
  /** Cross-modal dedup audit: every text-level near-dup pair (MinHash-LSH)
    * annotated with the embedding cosine of the same ids — the report a
    * curation run uses to decide whether text dups are also semantic dups
    * (left join: ids without embeddings keep null cosine). */
  /** Cross-modality duplicate agreement: the EXACT text near-dup pair set
    * (n-gram Jaccard ≥ 0.5 — its own oracle proves completeness over
    * rare-shingle-witnessed candidates) full-outer-joined with the EXACT
    * embedding near-dup pair set (cosine ≥ 0.4 from the tile sweep). One
    * row per pair flagged by at least one modality, with both scores and
    * per-modality flags — the agreement matrix a curation run reads to
    * decide whether text-level and embedding-level dedup see the same
    * duplicates. Both inputs are deterministic ⇒ full hash oracle. (The
    * LSH-based variant lives on as [[modalityAgreementLsh]] — the 100 TB
    * candidate path, bracketed by the minhash recall/precision oracles.) */
  def modalityAgreement(spark: SparkSession, dir: String): DataFrame = {
    val text = Dedup.ngramJaccardPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val emb = Similarity.embeddingPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("cosine").as("embedding_cosine"))
    text.join(emb, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("embedding_cosine"),
        col("jaccard").isNotNull.as("text_dup"),
        col("embedding_cosine").isNotNull.as("emb_dup"))
  }

  /** DuckDB oracle for [[modalityAgreement]]: the ngram-Jaccard pair query
    * and the exact embedding pair sweep as nested-WITH CTEs, full-outer
    * joined on the pair key. */
  val modalityAgreementSql: String =
    s"""WITH tpairs AS (
       |${Dedup.ngramJaccardPairsSqlAt(0.5)}
       |),
       |epairs AS (
       |  WITH c AS (
       |    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |  n AS (
       |    SELECT vec_id, emb,
       |      sqrt(list_sum(list_transform(range(1, len(emb) + 1),
       |        i -> emb[i] * emb[i]))) AS nrm
       |    FROM c)
       |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       |    ROUND(list_sum(list_transform(range(1, len(a.emb) + 1),
       |      i -> a.emb[i] * b.emb[i])) / (a.nrm * b.nrm), 6) AS embedding_cosine
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id
       |  WHERE ROUND(list_sum(list_transform(range(1, len(a.emb) + 1),
       |          i -> a.emb[i] * b.emb[i])) / (a.nrm * b.nrm), 6) >= 0.4)
       |SELECT COALESCE(t.doc_a, e.doc_a) AS doc_a,
       |  COALESCE(t.doc_b, e.doc_b) AS doc_b,
       |  t.jaccard, e.embedding_cosine,
       |  t.jaccard IS NOT NULL AS text_dup,
       |  e.embedding_cosine IS NOT NULL AS emb_dup
       |FROM tpairs t FULL OUTER JOIN epairs e
       |  ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b""".stripMargin

  /** LSH-candidate variant of the agreement (the sub-quadratic path at
    * corpus scale): MinHash near-dup pairs annotated with their embedding
    * cosine. FULLY hash-oracled since r16: the minhash pipeline moved to
    * the portable polynomial hash family, so the candidate set itself is
    * recomputable in DuckDB ([[modalityAgreementLshSql]] splices
    * `Dedup.minhashSqlCtes` under the embedding-cosine join) — the r15
    * rows-only justification ("hash-dependent candidates") no longer
    * applies, and the recall bracket the r15 verdict asked for is
    * subsumed by exact pair-set equality at the driver. */
  def modalityAgreementLsh(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions.cosine_sim
    val pairs = Dedup.minhashNearDups(spark, dir)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    pairs
      .join(emb.select(col("vec_id").as("doc_a"), col("e").as("e_a")), Seq("doc_a"), "left")
      .join(emb.select(col("vec_id").as("doc_b"), col("e").as("e_b")), Seq("doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        round(cosine_sim(col("e_a"), col("e_b")), 6).as("embedding_cosine"))
  }

  /** DuckDB oracle for [[modalityAgreementLsh]]: the full portable MinHash
    * chain (shared `Dedup.minhashSqlCtes`) left-joined to the embedding
    * table on both pair ends, cosine via the shared `cosSqlExpr` mirror
    * (same fold order and zero-denominator guard as the native
    * expression; a pair end without an embedding keeps NULL cosine like
    * the Spark left joins). */
  val modalityAgreementLshSql: String =
    s"""WITH ${Dedup.minhashSqlCtes(Dedup.minhashSelfCandSql)},
       |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |SELECT p.doc_a, p.doc_b, p.jaccard,
       |  ROUND(${Similarity.cosSqlExpr("a.e", "b.e")}, 6) AS embedding_cosine
       |FROM mpairs p
       |LEFT JOIN emb a ON a.vec_id = p.doc_a
       |LEFT JOIN emb b ON b.vec_id = p.doc_b""".stripMargin

  // ---------------------------------------------------------------- splits
  /** Portable split hash: the polynomial fold of `"docId:seed"` × the
    * xorshift* finisher (the [[Dedup.portableTokenHash]] family) —
    * deterministic, content-independent of row order/partitioning, AND
    * exactly recomputable in DuckDB HUGEINT arithmetic, which is what
    * upgrades the split family from rows-only to fully hash-oracled
    * (xxhash64, the previous key, has no SQL mirror). Measured balance at
    * both SFs: every split within 1σ of its target fraction. */
  /** Since r6 the native codegen'd expression (Long.toString renders
    * identically in Java and Scala interpolation, so the hash input —
    * `"docId:seed"` — and every split assignment are unchanged). */
  private def splitHash(id: Column, seed: Int): Column =
    graft.functions.HashExpressions.poly_token_hash(
      concat(id.cast("string"), lit(s":$seed")))

  /** Deterministic train/val/test assignment: bucket = portableHash(doc_id,
    * seed) mod 100 → [0,80) train / [80,90) val / [90,100) test. Content-
    * independent of row order and partitioning, reproducible across runs
    * and engines (no RNG state) — the property a corpus split MUST have so
    * reshuffling the lake never moves a document across the eval boundary.
    * Plus a deterministic within-split shuffle order (hash with a second
    * seed) for training export. */
  def splitAssign(spark: SparkSession, dir: String, seed: Int = 42): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket",
        pmod(splitHash(col("doc_id"), seed), lit(100L)).cast("int"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .withColumn("shuffle_key", splitHash(col("doc_id"), seed + 1))
      .select("doc_id", "split", "bucket", "shuffle_key")

  // the portable-hash SQL generators live in TextFunctions (one source of
  // truth per kernel — parity must never depend on parallel copies)
  private def polyMixSql(expr: String): String = TextFunctions.polyMixSql(expr)
  private def wrapSignedSql(expr: String): String = TextFunctions.wrapSignedSql(expr)

  /** Shared CTE for the split oracles: both seeds' hashes, the pmod-100
    * bucket (DuckDB's % is C-style signed remainder, so pmod is spelled
    * `((b % 100) + 100) % 100`), and the split label. */
  private def splitSqlCte(seed: Int): String =
    s"""a AS (
       |  SELECT doc_id,
       |    CAST(((hb % 100) + 100) % 100 AS INT) AS bucket,
       |    hb2 AS shuffle_key
       |  FROM (SELECT doc_id,
       |      ${wrapSignedSql("hu")} AS hb,
       |      ${wrapSignedSql("hu2")} AS hb2
       |    FROM (SELECT doc_id,
       |        ${polyMixSql(s"doc_id::VARCHAR || ':$seed'")} AS hu,
       |        ${polyMixSql(s"doc_id::VARCHAR || ':${seed + 1}'")} AS hu2
       |      FROM documents))),
       |s AS (
       |  SELECT doc_id,
       |    CASE WHEN bucket < 80 THEN 'train'
       |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       |    bucket, shuffle_key
       |  FROM a)""".stripMargin

  /** DuckDB oracle for [[splitAssign]] (seed 42). */
  def splitAssignSql(seed: Int = 42): String =
    s"""WITH ${splitSqlCte(seed)}
       |SELECT doc_id, split, bucket, shuffle_key FROM s""".stripMargin

  /** DuckDB oracle for [[splitSummary]] (seed 42). */
  def splitSummarySql(seed: Int = 42): String =
    s"""WITH ${splitSqlCte(seed)}
       |SELECT split, COUNT(*) AS n_docs,
       |  MIN(bucket) AS min_bucket, MAX(bucket) AS max_bucket
       |FROM s GROUP BY split""".stripMargin

  /** Train/eval decontamination audit: near-dup pairs that straddle a split
    * boundary — the leakage a curation run must catch BEFORE training (an
    * eval document with a near-duplicate in train inflates benchmarks).
    * Two broadcast-size joins against the split assignment. At 100 TB:
    * pairs ≪ corpus, so the split lookups are the only joins touching
    * full-corpus metadata and they key on doc_id.
    *
    * Since r15 the pair source is the EXACT n-gram-Jaccard pipeline
    * (cached, shared with q_dedup_ngram_jaccard) instead of MinHash-LSH:
    * same inverted-index scale shape, stronger audit (deterministic
    * jaccard ≥ 0.5 with the documented df-cap recall contract instead of
    * banding probability) — and, with the split assignment already on the
    * portable hash, it makes the WHOLE audit SQL-re-derivable
    * ([[splitContaminationSql]]), upgrading the query from rows-only to
    * hash-oracled. The MinHash pair graph remains the straddle source a
    * web-scale run would swap in — kept as the real code path
    * [[splitContaminationMinhash]], with CurationSpec pinning pair-set
    * parity between the two sources so the df-cap recall trade stays
    * measured rather than assumed. */
  def splitContamination(spark: SparkSession, dir: String, seed: Int = 42): DataFrame =
    straddleOf(spark, dir, seed, Dedup.ngramJaccardPairs(spark, dir))

  /** The straddle join both pair sources share — ONE construction, so the
    * registered audit and its MinHash twin cannot drift in how they look
    * up splits. Caches the tiny (doc_id, split) projection so the corpus
    * is scanned once, not once per join side; BROADCASTs the pair side
    * (pairs ≪ corpus) so each lookup streams the split metadata instead
    * of shuffling it. */
  private def straddleOf(spark: SparkSession, dir: String, seed: Int,
      pairs: DataFrame): DataFrame = {
    val splits = splitAssign(spark, dir, seed).select(col("doc_id"), col("split")).cache()
    broadcast(pairs.select("doc_a", "doc_b", "jaccard"))
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .hint("broadcast")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
  }

  /** The MinHash-LSH-sourced straddle variant — the pair source a web-scale
    * run would swap in, kept as a REAL code path (not prose) so the recall
    * contract the r15 source switch changed stays measured: a cross-split
    * near-dup pair whose shared n-grams all exceed the exact pipeline's df
    * cap is invisible to [[splitContamination]] but visible here.
    * Deliberately NOT registered (the bench denominator stays stable);
    * CurationSpec asserts pair-set parity between the two sources on the
    * pinned fixtures — at the MinHash verify threshold (0.7) the two
    * straddle sets must agree exactly, so the df-cap recall gap is an
    * asserted zero rather than an assumed one. */
  private[graft] def splitContaminationMinhash(spark: SparkSession, dir: String,
      seed: Int = 42): DataFrame =
    straddleOf(spark, dir, seed, Dedup.minhashNearDups(spark, dir))

  /** DuckDB oracle for [[splitContamination]] (seed 42): the exact-Jaccard
    * pair pipeline as a CTE (q_dedup_ngram_jaccard's own oracle) joined
    * against the portable-hash split assignment. */
  def splitContaminationSql(seed: Int = 42): String =
    s"""WITH pairs AS (
       |${Dedup.ngramJaccardPairsSql.replace("\n", "\n  ")}
       |),
       |${splitSqlCte(seed)}
       |SELECT p.doc_a AS doc_a, p.doc_b AS doc_b, p.jaccard AS jaccard,
       |  sa.split AS split_a, sb.split AS split_b
       |FROM pairs p
       |JOIN s sa ON sa.doc_id = p.doc_a
       |JOIN s sb ON sb.doc_id = p.doc_b
       |WHERE sa.split <> sb.split""".stripMargin

  // ------------------------------------------------- n-gram decontamination
  /** Distinct word n-grams per document as ROWS, built relationally:
    * posexplode evaluates the tokenizer ONCE per document (a generator's
    * child is evaluated once per input row), then a per-doc sliding window
    * assembles each gram. The array-expression formulation
    * (`TextFunctions.ngrams`) re-evaluates the whole tokenizer subtree for
    * every `element_at` of every window inside the interpreted lambda —
    * O(tokens·n) regex normalizations per document (measured 36 s → ~2 s at
    * sf0.1 for the 13-gram decontamination when this replaced it). The
    * window shuffle is doc-keyed and the frame is n rows — linear, local,
    * and whole-stage-codegen'd. */
  private def docNgrams(docs: DataFrame, n: Int): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, n - 1)
    // the gram IDENTITY the index keeps is a 128-bit fingerprint (two
    // independent xxhash64 streams over the rendered gram), not the ~100-
    // byte string: every downstream use is equality (distinct, the eval
    // join), so the fingerprint is exact up to a 2⁻¹²⁹-scale collision —
    // ~10⁻¹⁵ even at 10¹² corpus grams, the trade every lake-scale
    // decontamination index makes. It cuts the cached index and BOTH
    // per-consumer gram-keyed shuffles ~4× (r18; the string-keyed join
    // was the contamination families' dominant cost). The DuckDB oracle
    // stays string-exact, so a collision at test scale would fail the
    // gate by name.
    toks.withColumn("win", collect_list("tok").over(w))
      .filter(size(col("win")) === n)
      .select(col("doc_id"), concat_ws(" ", col("win")).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("g1"),
        xxhash64(col("gram"), lit(0x9E3779B9L)).as("g2"))
      .distinct()
  }

  /** The full-corpus distinct (doc_id, gram) table, MEMOIZED per (session,
    * dir, n): both contamination consumers — [[decontaminate]] over the
    * whole corpus and [[curationPipeline]] over its stage-4 survivors —
    * restrict the SAME gram table by a doc_id join (exactly how the SQL
    * oracle is written: `grams JOIN s3 USING (doc_id)`), so the expensive
    * tokenize + window + distinct runs once per ingest, not once per
    * consumer. In production this is the persisted n-gram index a
    * decontamination service maintains; the cache is its session form. */
  private[graft] def corpusGrams(spark: SparkSession, dir: String, n: Int): DataFrame =
    Artifacts.corpusGrams(spark, (dir, n)) {
      docNgrams(Tables.documents(spark, dir).select("doc_id", "text"), n)
    }

  /** THE 13-gram contamination core, over any (doc_id, text, split) frame:
    * one row per contaminated TRAIN doc with its distinct offending-gram
    * count. Shared by [[decontaminate]] (full corpus) and
    * [[curationPipeline]] (stage-4 survivors) so the construction — the
    * gram window, the eval-side distinct, the train×eval join — cannot
    * fork between the two consumers. */
  private def contaminationHits(spark: SparkSession, dir: String,
      docsSplit: DataFrame, n: Int): DataFrame = {
    // membership by doc_id join against the memoized corpus gram table —
    // identical to building grams from docsSplit's own text (both callers
    // pass documents' text verbatim), and the same restriction shape the
    // SQL oracle uses (`grams JOIN s3 USING (doc_id)`)
    val grams = corpusGrams(spark, dir, n)
      .join(docsSplit.select("doc_id", "split"), "doc_id")
    val evalGrams = grams.filter(col("split") =!= "train")
      .select("g1", "g2").distinct()
    grams.filter(col("split") === "train")
      .join(evalGrams, Seq("g1", "g2"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated_ngrams"))
  }

  /** Benchmark decontamination by long-n-gram overlap (the GPT-3 appendix-C
    * / PaLM recipe, on word 13-grams): a train-split document is
    * contaminated iff it shares at least one 13-token n-gram with any
    * val/test document. Unlike [[splitContamination]] (near-dup pairs that
    * straddle the boundary), this is the direct construction evaluation
    * suites use: exact long-span overlap, no similarity threshold to tune.
    *
    * Shape at 100 TB: n-grams are keyed per (doc, gram) and de-duplicated
    * map-side before the one gram-keyed shuffle; the eval side of the join
    * is the benchmark suite — orders of magnitude smaller than train — so
    * Spark's join planning (AQE) broadcasts it in the real deployment. Here
    * the eval split is 20% of the corpus, which keeps the join an honest
    * shuffle hash join at test scale. Output is one row per TRAIN doc
    * (contaminated flag + distinct offending n-gram count), the shape a
    * pipeline anti-joins against before tokenization. */
  def decontaminate(spark: SparkSession, dir: String,
      n: Int = 13, seed: Int = 42): DataFrame = {
    val splits = splitAssign(spark, dir, seed).select("doc_id", "split")
    val hits = contaminationHits(spark, dir, splits, n)
    splits.filter(col("split") === "train")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_contaminated_ngrams"), lit(0L)).as("n_contaminated_ngrams"),
        col("n_contaminated_ngrams").isNotNull.as("contaminated"))
  }

  /** The gram CTE chain (toklist → distinct (doc_id, gram) via 1-based
    * inclusive list slices) — the ONE SQL mirror of [[docNgrams]], shared
    * by [[decontaminateSql]] and [[curationPipelineSql]]. */
  private def ngramCtes(n: Int): String =
    s"""${TextFunctions.tokListCteSql},
       |grams AS (
       |  SELECT DISTINCT doc_id, gram FROM (
       |    SELECT doc_id, UNNEST(list_transform(range(1, len(toks) - $n + 2),
       |      i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS gram
       |    FROM toklist WHERE len(toks) >= $n))""".stripMargin

  /** DuckDB oracle for [[decontaminate]]: the split CTE + the shared gram
    * chain. */
  def decontaminateSql(n: Int = 13, seed: Int = 42): String =
    s"""WITH ${splitSqlCte(seed)},
       |${ngramCtes(n)},
       |g AS (SELECT grams.doc_id, gram, split FROM grams JOIN s USING (doc_id)),
       |ev AS (SELECT DISTINCT gram FROM g WHERE split <> 'train'),
       |hits AS (
       |  SELECT doc_id, COUNT(*) AS n_contaminated_ngrams
       |  FROM g JOIN ev USING (gram) WHERE split = 'train' GROUP BY 1)
       |SELECT s.doc_id,
       |  CAST(COALESCE(h.n_contaminated_ngrams, 0) AS BIGINT) AS n_contaminated_ngrams,
       |  h.doc_id IS NOT NULL AS contaminated
       |FROM s LEFT JOIN hits h USING (doc_id)
       |WHERE s.split = 'train'""".stripMargin

  /** SEMANTIC decontamination — the embedding-space twin of the 13-gram
    * [[decontaminate]]: an eval document paraphrased (not copied) into the
    * train split shares no 13-gram but sits next to it in embedding space,
    * so a curation run checks BOTH overlaps before training. A train doc
    * is flagged when its embedding's rounded cosine to ANY eval-split
    * embedding reaches `threshold`; per flagged doc we report the worst
    * eval neighbor (max cosine, eval_id tiebreak) and the hit count.
    *
    * Construction mirrors [[Similarity.semanticProbe]] — the same
    * label-seeded IVF layout and the shared [[Similarity.nearestCells]]
    * ranking, deterministic end-to-end ⇒ full hash oracle — but the index
    * is the TRAIN side (built once, persisted in production via
    * [[Similarity.writeIvfIndex]]'s layout) and the probing batch is the
    * EVAL suite. Split membership is computed from vec_id by the same
    * portable hash as [[splitAssign]] — a pure per-row function, so no
    * join against the split table is ever shuffled.
    *
    * At 100 TB: the eval suite is benchmark-sized (thousands of docs, ≪
    * train), so probing is eval × nprobe cells and the exact-cosine
    * verify touches only probed cells' train vectors — never train ×
    * train, never train × eval. The per-doc argmax windows partition by
    * train doc over its eval hits (bounded by the eval suite). Cell
    * recall is the standing [[Similarity.semanticCellRecall]] contract of
    * the shared layout. */
  def decontaminateSemantic(spark: SparkSession, dir: String,
      threshold: Double = 0.4, nprobe: Int = 2, seed: Int = 42): DataFrame = {
    val vecs = Tables.spread(spark, Tables.embeddings(spark, dir))
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
      .withColumn("bucket",
        pmod(splitHash(col("vec_id"), seed), lit(100L)).cast("int"))
    val train = vecs.filter(col("bucket") < 80).drop("bucket")
    val eval_ = vecs.filter(col("bucket") >= 80).drop("bucket")
    val cents = Similarity.collectCells(Similarity.meanVectors(
        train.select(col("label"), col("emb")), "label", "emb")
      .withColumnRenamed("label", "c_label"))
    val stored = Similarity.nearestCellsOf(train, cents, 1)
      .select(col("cell"), col("vec_id").as("train_id"), col("emb").as("t_emb"))
    val probing = Similarity.nearestCellsOf(eval_, cents, nprobe)
      .select(col("cell"), col("vec_id").as("eval_id"), col("emb").as("e_emb"))
    val hits = probing.join(stored, "cell")
      .withColumn("cosine", round(cosine_sim(col("e_emb"), col("t_emb")), 6))
      .filter(col("cosine") >= threshold)
      // a pair reachable through two probed cells appears twice with
      // identical bits — distinct is exact (the semanticProbe argument)
      .select(col("train_id").as("doc_id"), col("eval_id"), col("cosine"))
      .distinct()
    val byDoc = Window.partitionBy("doc_id")
    hits
      .withColumn("n_eval_hits", count(lit(1)).over(byDoc))
      .withColumn("rk", row_number().over(
        byDoc.orderBy(col("cosine").desc, col("eval_id").asc)))
      .filter(col("rk") === 1)
      .select("doc_id", "eval_id", "cosine", "n_eval_hits")
  }

  /** DuckDB oracle for [[decontaminateSemantic]]: split predicate from the
    * portable hash on vec_id, train-side centroids, both cell assignments
    * under the shared (rounded cosine, label) ranking, exact verify within
    * probed cells, per-doc argmax. */
  def decontaminateSemanticSql(threshold: Double = 0.4, nprobe: Int = 2,
      seed: Int = 42): String =
    s"""WITH c AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
       |    CAST(((hb % 100) + 100) % 100 AS INT) AS bucket
       |  FROM (SELECT vec_id, label, embedding,
       |      ${TextFunctions.wrapSignedSql("hu")} AS hb
       |    FROM (SELECT vec_id, label, embedding,
       |        ${TextFunctions.polyMixSql(s"vec_id::VARCHAR || ':$seed'")} AS hu
       |      FROM embeddings))),
       |idx AS (SELECT vec_id, label, emb FROM c WHERE bucket < 80),
       |bat AS (SELECT vec_id, label, emb FROM c WHERE bucket >= 80),
       |pv AS (
       |  SELECT label, UNNEST(range(1, len(emb) + 1)) AS pos, UNNEST(emb) AS v FROM idx),
       |cvec AS (
       |  SELECT label AS c_label, list(m ORDER BY pos) AS centroid
       |  FROM (SELECT label, pos, AVG(v) AS m FROM pv GROUP BY 1, 2)
       |  GROUP BY label),
       |stored AS (
       |  SELECT vec_id AS train_id, emb AS t_emb, c_label AS cell FROM (
       |    SELECT i.vec_id, i.emb, cvec.c_label,
       |      ROW_NUMBER() OVER (PARTITION BY i.vec_id
       |        ORDER BY ROUND(${Similarity.cosSqlExpr("i.emb", "cvec.centroid")}, 6) DESC NULLS LAST,
       |                 cvec.c_label ASC) AS crk
       |    FROM idx i CROSS JOIN cvec)
       |  WHERE crk = 1),
       |probing AS (
       |  SELECT vec_id AS eval_id, emb AS e_emb, c_label AS cell FROM (
       |    SELECT b.vec_id, b.emb, cvec.c_label,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |        ORDER BY ROUND(${Similarity.cosSqlExpr("b.emb", "cvec.centroid")}, 6) DESC NULLS LAST,
       |                 cvec.c_label ASC) AS crk
       |    FROM bat b CROSS JOIN cvec)
       |  WHERE crk <= $nprobe),
       |hits AS (
       |  SELECT DISTINCT train_id AS doc_id, eval_id,
       |    ROUND(${Similarity.cosSqlExpr("e_emb", "t_emb")}, 6) AS cosine
       |  FROM probing JOIN stored USING (cell)
       |  WHERE ROUND(${Similarity.cosSqlExpr("e_emb", "t_emb")}, 6) >= $threshold)
       |SELECT doc_id, eval_id, cosine, n_eval_hits FROM (
       |  SELECT doc_id, eval_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY cosine DESC, eval_id ASC) AS rk,
       |    CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_eval_hits
       |  FROM hits)
       |WHERE rk = 1""".stripMargin

  def splitSummary(spark: SparkSession, dir: String): DataFrame =
    splitAssign(spark, dir)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), min("bucket").as("min_bucket"),
        max("bucket").as("max_bucket"))

  // ---------------------------------------------------------------- mixture
  /** Domain-mixture weights: per-source sampling weight that reshapes the
    * corpus toward a target mixture (uniform here) — the knob every
    * pretraining data recipe tunes. weight = target_frac / actual_frac =
    * N / (k·n_s); expected_docs = n_s · weight = N/k. One tiny group-by +
    * a broadcastable single-row total. */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir).groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .cache() // feeds both the totals aggregate and the crossJoin side
    val tot = per.agg(sum("n_docs").as("n_total"),
      count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total").cast("double"), 6)
          .as("actual_frac"),
        round(lit(1.0) / col("n_sources").cast("double"), 6).as("target_frac"),
        round(col("n_total").cast("double")
          / (col("n_sources") * col("n_docs")).cast("double"), 6).as("weight"))
  }

  val mixtureWeightsSql: String =
    """WITH per AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
      |               COUNT(*) AS n_sources FROM per)
      |SELECT source, n_docs,
      |  ROUND(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS actual_frac,
      |  ROUND(1.0 / CAST(n_sources AS DOUBLE), 6) AS target_frac,
      |  ROUND(CAST(n_total AS DOUBLE) / CAST(n_sources * n_docs AS DOUBLE), 6) AS weight
      |FROM per CROSS JOIN tot""".stripMargin

  // ------------------------------------------- temperature-scaled mixture
  /** Temperature-scaled sampling mixture (the multilingual/multi-source
    * rebalancing rule: p_i ∝ p_i^τ, τ=0.5 — upsample the tail, damp the
    * head, τ=1 recovers proportional, τ=0 uniform). Mass is character
    * volume (`n_chars`), not doc count — the budget that actually bounds a
    * token-metered training run; [[mixtureWeights]] is the doc-count twin.
    * `boost = p_temp/p_raw` is the per-source duplication factor an epoch
    * sampler applies.
    *
    * Shape at 100 TB: one map-side-combined per-source aggregate (sources
    * are metadata-scale); the two normalizers are single-row broadcasts.
    * Fully hash-oracled (POWER arithmetic re-derived by DuckDB). */
  def mixtureTemperature(spark: SparkSession, dir: String,
      tau: Double = 0.5): DataFrame = {
    val per = Tables.documents(spark, dir).groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("char_mass"))
      .cache() // feeds the totals, the Z normalizer and the output
    val tot = per.agg(sum("char_mass").as("tot_mass"))
    val p = per.crossJoin(broadcast(tot))
      .withColumn("p", col("char_mass") / col("tot_mass"))
    val z = p.agg(sum(pow(col("p"), tau)).as("z"))
    p.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("char_mass"),
        round(col("p"), 6).as("p_raw"),
        round(pow(col("p"), tau) / col("z"), 6).as("p_temp"),
        round(pow(col("p"), tau) / col("z") / col("p"), 6).as("boost"))
  }

  def mixtureTemperatureSql(tau: Double = 0.5): String =
    s"""WITH per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |         CAST(SUM(n_chars) AS BIGINT) AS char_mass
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(char_mass) AS BIGINT) AS tot_mass FROM per),
       |p AS (
       |  SELECT source, n_docs, char_mass,
       |         CAST(char_mass AS DOUBLE) / tot_mass AS p
       |  FROM per CROSS JOIN tot),
       |z AS (SELECT SUM(POWER(p, $tau)) AS z FROM p)
       |SELECT source, n_docs, char_mass,
       |       ROUND(p, 6) AS p_raw,
       |       ROUND(POWER(p, $tau) / z, 6) AS p_temp,
       |       ROUND(POWER(p, $tau) / z / p, 6) AS boost
       |FROM p CROSS JOIN z""".stripMargin

  // ------------------------------------------------------ source reputation
  /** Source-level gating (the RefinedWeb/CCNet "domain filtering" stage):
    * aggregate per-source reputation — document count, exact-duplicate rate
    * (share of docs whose md5 appears ≥2× corpus-wide), mean quality score,
    * mean length — then keep the top sources by reputation (mean quality
    * minus dup rate). Filtering whole sources BEFORE per-document work is
    * how web-scale pipelines cheapen everything downstream: a dropped
    * domain never reaches dedup or tokenization.
    *
    * Shape at 100 TB: per-doc quality is map-side; the md5 count and the
    * per-source aggregate are each one hash shuffle. The ranking window
    * runs over the SOURCE table (domains — metadata-scale, millions of
    * rows at web scale, 20 here), the one place a single-partition sort is
    * the right call. */
  /** Per-doc content-hash metadata (doc_id, source, n_chars, h=md5(text)),
    * MEMOIZED per (session, dir): the reputation table and the curation
    * funnel both key exact dedup on this hash — at 100 TB it is a
    * materialized per-ingest metadata column (the quality-memo contract),
    * so neither consumer re-hashes the lake text. */
  private[graft] def docHashes(spark: SparkSession, dir: String): DataFrame =
    Artifacts.docHashes(spark, dir) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          md5(col("text")).as("h"))
    }

  /** Memoized per (session, dir, keepTop): the reputation table is consumed
    * by its own query, the pipeline funnel and the epoch plan — at scale it
    * is a materialized per-ingest table, and the memo (the established
    * multi-consumer-artifact policy, cf. [[dupClusters]]) is its in-session
    * form. */
  def sourceReputation(spark: SparkSession, dir: String,
      keepTop: Int = 15): DataFrame =
    Artifacts.sourceReputation(spark, (dir, keepTop))(
      sourceReputationImpl(spark, dir, keepTop))

  private def sourceReputationImpl(spark: SparkSession, dir: String,
      keepTop: Int): DataFrame = {
    val quality = TextFunctions.qualityQuery(spark, dir)
      .select("doc_id", "quality_score")
    val hashes = docHashes(spark, dir)
    val counts = hashes.groupBy("h").agg(count(lit(1)).as("cnt"))
    val per = hashes.join(counts, "h").join(quality, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        round(sum(when(col("cnt") > 1, 1.0).otherwise(0.0)) / count(lit(1)), 6)
          .as("dup_rate"),
        // decimal-exact mean (the LmScore order-free-sums parity rule):
        // quality_score is a 6-dp-rounded value, so the DECIMAL(18,6) sum
        // is exact under ANY partitioning/order on both engines; the one
        // cast-to-double + division are then identical IEEE ops. A plain
        // double avg would be partial-aggregation-order-dependent and could
        // flip the 6-dp rounding (and with it the rank/keep cut).
        round(sum(col("quality_score").cast(org.apache.spark.sql.types
            .DecimalType(18, 6))).cast("double") / count(lit(1)), 6)
          .as("mean_quality"),
        round(avg(col("n_chars").cast("double")), 6).as("mean_chars"))
    val w = Window.orderBy(col("reputation").desc, col("source").asc)
    per
      .withColumn("reputation", round(col("mean_quality") - col("dup_rate"), 6))
      .withColumn("rank", row_number().over(w))
      .withColumn("keep", col("rank") <= keepTop)
      .select("source", "n_docs", "n_dup_docs", "dup_rate", "mean_quality",
        "mean_chars", "reputation", "rank", "keep")
  }

  /** DuckDB oracle for [[sourceReputation]]: the quality query nested as a
    * CTE, md5 dup counts, per-source rollup, rank on the rounded
    * reputation with the source tiebreak. */
  def sourceReputationSql(keepTop: Int = 15): String =
    s"""WITH q AS (SELECT doc_id, quality_score FROM (
       |${TextFunctions.qualityQuerySql})),
       |h AS (SELECT doc_id, source, n_chars, md5(text) AS h FROM documents),
       |hc AS (SELECT h, COUNT(*) AS cnt FROM h GROUP BY 1),
       |per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |    ROUND(SUM(CASE WHEN cnt > 1 THEN 1.0 ELSE 0.0 END)
       |      / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
       |    ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE)
       |      / COUNT(*), 6) AS mean_quality,
       |    ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS mean_chars
       |  FROM h JOIN hc USING (h) JOIN q USING (doc_id)
       |  GROUP BY source),
       |r AS (SELECT *, ROUND(mean_quality - dup_rate, 6) AS reputation FROM per)
       |SELECT source, n_docs, n_dup_docs, dup_rate, mean_quality, mean_chars,
       |  reputation, CAST(rk AS INT) AS rank, rk <= $keepTop AS keep
       |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY reputation DESC, source ASC)
       |        AS rk FROM r)""".stripMargin

  // ------------------------------------------------- the composed pipeline
  /** The end-to-end curation pipeline as ONE declarative program — the
    * flagship "switch your whole pipeline to this engine" query. Stages,
    * each reusing the oracled fragment it is built from:
    *
    *   1 raw            → every document
    *   2 source_gate    → [[sourceReputation]] top sources only
    *   3 exact_dedup    → min-doc_id representative per md5 group
    *   4 quality_gate   → quality ≥ 0.3 ∧ tokens ≥ 10 (the [[curate]] gates)
    *   5 decontaminated → [[decontaminate]] 13-gram-contaminated TRAIN docs
    *                      dropped (contamination judged against the eval
    *                      docs that SURVIVE stage 4 — the pipeline order a
    *                      real curation run uses)
    *
    * Output is the funnel report (stage, surviving docs, surviving tokens)
    * a pipeline run publishes. Every stage is hash-partitioned work — the
    * gates are map-side, dedup/grams are one keyed shuffle each, and the
    * five funnel rows are 1-row aggregates unioned at the end. */
  def curationPipeline(spark: SparkSession, dir: String,
      keepTop: Int = 15, minQuality: Double = 0.3, minTokens: Int = 10,
      n: Int = 13, seed: Int = 42): DataFrame = {
    val quality = TextFunctions.qualityQuery(spark, dir)
      .select("doc_id", "n_tokens", "quality_score")
    // the five funnel aggregates are independent consumers of this shared
    // lineage — cache the two frames everything rescans (docs: 5 branches;
    // s2: the md5 dedup chain feeding stages 3-5) so one run scans its
    // input once, not once per stage. Since r15 that input is METADATA
    // ONLY: the content hash comes from the memoized [[docHashes]] column
    // and the token/quality numbers from the quality memo, so the funnel
    // never touches lake text at all — the shape a 100 TB run has, where
    // every per-doc column here is materialized at ingest and the funnel
    // is a report over metadata tables.
    // Survival-FLAG form (r18): instead of five stage frames each paying
    // its own aggregation job over the (cached) metadata, every doc
    // carries four booleans — in1 source gate, in2 dedup representative,
    // in3 quality gate, in4 decontaminated — and the whole funnel is ONE
    // conditional aggregation + a stack. Stage semantics are bitwise the
    // old ones: in2's representative is min(doc_id) over the SAME h
    // partition restricted to in1 rows (min ignores the when-null of
    // non-kept sources — exactly the old groupBy-h-on-s1 reps), and the
    // contamination hits are computed over exactly the in3 doc set. One
    // corpus-metadata pass + the gram join, instead of five aggregation
    // jobs; the oracle's five-CTE spelling is unchanged and hash-agrees.
    val kept = sourceReputation(spark, dir, keepTop)
      .filter(col("keep")).select(col("source"), lit(true).as("in_src"))
    val wRep = Window.partitionBy("h")
    val flagged = docHashes(spark, dir).select("doc_id", "source", "h")
      .join(quality, "doc_id")
      .join(broadcast(kept), Seq("source"), "left")
      .withColumn("in1", coalesce(col("in_src"), lit(false)))
      .withColumn("in2", col("in1") &&
        col("doc_id") === min(when(col("in1"), col("doc_id"))).over(wRep))
      .withColumn("in3", col("in2") && col("quality_score") >= minQuality
        && col("n_tokens") >= minTokens)
      .cache()
    val sp = splitAssign(spark, dir, seed).select("doc_id", "split")
    val s3s = flagged.filter(col("in3")).select("doc_id").join(sp, "doc_id")
    val hits = contaminationHits(spark, dir, s3s, n)
      .select(col("doc_id"), lit(true).as("hit"))
    def cnt(flag: Column) = sum(when(flag, 1L).otherwise(0L))
    def tok(flag: Column) =
      coalesce(sum(when(flag, col("n_tokens"))), lit(0L))
    flagged.join(broadcast(hits), Seq("doc_id"), "left")
      .withColumn("in4", col("in3") && col("hit").isNull)
      .agg(
        count(lit(1)).as("c1"), coalesce(sum("n_tokens"), lit(0L)).as("t1"),
        cnt(col("in1")).as("c2"), tok(col("in1")).as("t2"),
        cnt(col("in2")).as("c3"), tok(col("in2")).as("t3"),
        cnt(col("in3")).as("c4"), tok(col("in3")).as("t4"),
        cnt(col("in4")).as("c5"), tok(col("in4")).as("t5"))
      .select(expr(
        """stack(5,
          |  1, 'raw',            c1, t1,
          |  2, 'source_gate',    c2, t2,
          |  3, 'exact_dedup',    c3, t3,
          |  4, 'quality_gate',   c4, t4,
          |  5, 'decontaminated', c5, t5)
          |  AS (stage_id, stage, n_docs, sum_tokens)""".stripMargin))
  }

  /** DuckDB oracle for [[curationPipeline]]: the same five stages as a
    * WITH chain over the oracled fragments ([[sourceReputationSql]] and the
    * split CTE nested verbatim), funnel rows unioned. */
  def curationPipelineSql(keepTop: Int = 15, minQuality: Double = 0.3,
      minTokens: Int = 10, n: Int = 13, seed: Int = 42): String =
    s"""WITH ${splitSqlCte(seed)},
       |q AS (SELECT doc_id, n_tokens, quality_score FROM (
       |${TextFunctions.qualityQuerySql})),
       |kept AS (SELECT source FROM (
       |${sourceReputationSql(keepTop)}) WHERE keep),
       |d0 AS (SELECT d.doc_id, d.source, d.text, q.n_tokens, q.quality_score
       |       FROM documents d JOIN q USING (doc_id)),
       |s1 AS (SELECT d0.* FROM d0 JOIN kept USING (source)),
       |canon AS (SELECT *, md5(text) AS h FROM s1),
       |reps AS (SELECT h, MIN(doc_id) AS rep FROM canon GROUP BY 1),
       |s2 AS (SELECT c.* FROM canon c JOIN reps r ON c.h = r.h AND c.doc_id = r.rep),
       |s3 AS (SELECT * FROM s2
       |       WHERE quality_score >= $minQuality AND n_tokens >= $minTokens),
       |${ngramCtes(n)},
       |g AS (SELECT grams.doc_id, gram, s.split
       |      FROM grams JOIN s USING (doc_id) JOIN s3 USING (doc_id)),
       |ev AS (SELECT DISTINCT gram FROM g WHERE split <> 'train'),
       |cont AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
       |         WHERE g.split = 'train'),
       |s4 AS (SELECT s3.* FROM s3
       |       WHERE s3.doc_id NOT IN (SELECT doc_id FROM cont))
       |SELECT 1 AS stage_id, 'raw' AS stage, COUNT(*) AS n_docs,
       |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS sum_tokens FROM d0
       |UNION ALL SELECT 2, 'source_gate', COUNT(*),
       |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s1
       |UNION ALL SELECT 3, 'exact_dedup', COUNT(*),
       |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s2
       |UNION ALL SELECT 4, 'quality_gate', COUNT(*),
       |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s3
       |UNION ALL SELECT 5, 'decontaminated', COUNT(*),
       |  CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s4""".stripMargin

  // ------------------------------------------------------------ epoch plan
  /** Token-budget epoch plan — the step that turns a curated corpus into a
    * training recipe: over the sources [[sourceReputation]] keeps, split a
    * token budget uniformly and derive each source's sampling rate
    * (target / available tokens) and epoch count (ceil of the rate — a
    * rate above 1 means the source is repeated, the standard treatment of
    * small high-quality sources). Two metadata-scale aggregates on top of
    * already-priced fragments; rates are computed from UNROUNDED doubles on
    * both engines and rounded only for display. */
  def epochPlan(spark: SparkSession, dir: String,
      budgetTokens: Long = 20000L, keepTop: Int = 15): DataFrame = {
    val kept = sourceReputation(spark, dir, keepTop)
      .filter(col("keep")).select("source")
    val toks = TextFunctions.qualityQuery(spark, dir)
      .select("doc_id", "n_tokens")
    val per = Tables.documents(spark, dir).select("doc_id", "source")
      .join(toks, "doc_id").join(broadcast(kept), "source")
      .groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("avail_tokens"))
    epochPlanFrom(per, budgetTokens)
  }

  /** The planning step over an already-priced (source, n_docs,
    * avail_tokens) frame — split out so the degenerate-source guard is
    * testable without a corpus seam. A kept source whose docs sum to ZERO
    * tokens must be excluded BEFORE the rate division: budget/0 is
    * Infinity and `ceil(∞).cast("int")` throws under ANSI mode (default
    * in Spark 4), so one degenerate source would crash the whole plan; it
    * also cannot contribute tokens, so excluding it — from n_sources too —
    * is the correct recipe, mirrored in the oracle. */
  private[graft] def epochPlanFrom(per: DataFrame, budgetTokens: Long): DataFrame = {
    val funded = per.filter(col("avail_tokens") > 0L)
    val k = funded.agg(count(lit(1)).as("n_sources"))
    val target = lit(budgetTokens.toDouble) / col("n_sources")
    val rate = target / col("avail_tokens")
    funded.crossJoin(broadcast(k))
      .select(col("source"), col("n_docs"), col("avail_tokens"),
        round(target, 6).as("target_tokens"),
        round(rate, 6).as("sample_rate"),
        ceil(rate).cast("int").as("epochs"))
  }

  /** DuckDB oracle for [[epochPlan]]. */
  def epochPlanSql(budgetTokens: Long = 20000L, keepTop: Int = 15): String =
    s"""WITH q AS (SELECT doc_id, n_tokens FROM (
       |${TextFunctions.qualityQuerySql})),
       |kept AS (SELECT source FROM (
       |${sourceReputationSql(keepTop)}) WHERE keep),
       |per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens
       |  FROM documents JOIN q USING (doc_id) JOIN kept USING (source)
       |  GROUP BY source),
       |funded AS (SELECT * FROM per WHERE avail_tokens > 0),
       |k AS (SELECT COUNT(*) AS n_sources FROM funded)
       |SELECT source, n_docs, avail_tokens,
       |  ROUND($budgetTokens.0 / n_sources, 6) AS target_tokens,
       |  ROUND(($budgetTokens.0 / n_sources) / avail_tokens, 6) AS sample_rate,
       |  CAST(CEIL(($budgetTokens.0 / n_sources) / avail_tokens) AS INT) AS epochs
       |FROM funded CROSS JOIN k""".stripMargin

  // ---------------------------------------------------------------- tf-idf
  /** Top-5 terms per language by TF-IDF (smoothed idf = ln((N+1)/(df+1))):
    * the corpus-analysis query a curation run reports. Fully SQL-expressible
    * → DuckDB oracle. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // N derived IN-PLAN (1-row agg broadcast-cross-joined, the
    // mixtureWeights pattern) — a driver-side count() here would be an
    // extra job per invocation
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    // the memoized token stream: BOTH branches below (tf and df) re-scan
    // it — previously two full tokenizer passes over the lake
    val terms = TextFunctions.tokenInstances(spark, dir)
    val tf = terms.groupBy("lang", "term").agg(count(lit(1)).as("tf"))
    val df = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("lang")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + lit(1.0))), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("lang", "rk", "term", "tf", "df", "tfidf")
  }

  val tfidfTopTermsSql: String =
    """WITH terms AS (
      |  SELECT doc_id, lang,
      |         UNNEST(list_filter(regexp_split_to_array(
      |           LOWER(TRIM(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))), ' '),
      |           x -> x <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT lang, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |idf AS (SELECT term, COUNT(*) AS df
      |        FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.lang AS lang, tf.term AS term, tf.tf AS tf, idf.df AS df,
      |         ROUND(tf.tf * LN((n.n_docs + 1.0) / (idf.df + 1.0)), 6) AS tfidf
      |  FROM tf JOIN idf ON tf.term = idf.term CROSS JOIN n)
      |SELECT lang, rk, term, tf, df, tfidf
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
      |        ORDER BY tfidf DESC, term ASC) AS rk FROM scored)
      |WHERE rk <= 5""".stripMargin

  // ------------------------------------------------------------------ DSIR
  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every source document by how much its
    * hashed-n-gram distribution looks like a TARGET corpus, then keep the
    * top fraction. The published recipe, Spark-first:
    *
    *  1. features = bag of word unigrams + bigrams, hashed into `buckets`
    *     bins (the paper's hashed n-gram feature space; the engine-portable
    *     `poly_token_hash` so the DuckDB oracle reproduces the binning);
    *  2. two smoothed bag-of-ngrams LMs over the bins: target p̂ (here the
    *     `lang = 'en'` subset — the clean-corpus stand-in this synthetic
    *     lake offers) and source q̂ (the whole corpus), add-α smoothing;
    *  3. per-doc importance weight log w(x) = Σ_features (ln p̂(b) − ln q̂(b))
    *     over the doc's feature OCCURRENCES (the paper's product over the
    *     bag, in log space);
    *  4. `selected` = top ⌈keepFrac·N⌉ docs by (log weight, doc_id) — the
    *     deterministic rank form of the paper's importance resampling.
    *
    * Scale shape: one explode keyed by bucket (feature rows ≈ 2·tokens),
    * two B-row bucket aggregates, the B-row log-ratio table BROADCAST back
    * onto the feature stream, and one doc-keyed partial-agg sum — no
    * full-corpus shuffle wider than the feature explode the tokenizer
    * already pays elsewhere. The final exact rank is an N-row window for
    * oracle parity; a 100 TB deployment thresholds on an approximate
    * quantile of log w instead (one pass, no global sort). */
  /** Hashed unigram+bigram feature stream of a (doc_id, lang?, text)
    * frame — DSIR's feature space, shared by offline LM training and the
    * ingest-time gate so the two can never bin differently. */
  private[graft] def dsirFeatures(docs: DataFrame, buckets: Int): DataFrame =
    docs.select(docs.columns.filter(_ != "text").map(col) :+
        TextFunctions.tokens(col("text")).as("t"): _*)
      .withColumn("f", explode(concat(col("t"), TextFunctions.ngrams(col("t"), 2))))
      .drop("t")
      .withColumn("b", pmod(
        graft.functions.HashExpressions.poly_token_hash(
          concat(col("f"), lit(":dsir"))),
        lit(buckets.toLong)))

  /** The TRAINED selection model: per-bucket log(p̂_target/q̂_source) under
    * add-α smoothing — a table a production pipeline materializes offline
    * and broadcasts at ingest (StreamSelect does exactly that). DENSE over
    * the FULL bucket space [0, B), so scoring never drops a feature (an
    * inner join against a sparse, corpus-driven table would silently
    * zero-count novel vocabulary — wrong for the ingest gate, whose whole
    * input is new docs). Exactly B rows regardless of corpus size.
    *
    * EVIDENCE-FREE buckets store lr = 0, not the smoothed ratio: with no
    * occurrence in either corpus the α/α ratio reduces to the constant
    * ln((ts+αB)/(tt+αB)) — pure corpus-size bias, positive whenever the
    * source outweighs the target — which would GROW with novel-doc length
    * and score out-of-distribution garbage above genuine target docs
    * (a gibberish drop would outrank every English document). No evidence
    * ⇒ no contribution.
    *
    * MEMOIZED like the feature table it trains on (r18): this IS "the
    * table a production pipeline materializes offline and broadcasts at
    * ingest" (doc above) — B rows, trained once per ingest, read by the
    * batch weights query and the streaming gate. */
  private[graft] def dsirRatio(spark: SparkSession, dir: String,
      buckets: Int = 4096, alpha: Double = 0.01): DataFrame =
    Artifacts.dsirRatio(spark, (dir, buckets, alpha)) {
      ratioFromFeatures(corpusDsirFeatures(spark, dir, buckets), buckets, alpha)
    }

  /** The corpus's compressed (doc_id, lang, b, cnt) DSIR feature table,
    * MEMOIZED per (session, dir, buckets) — the in-session form of the
    * feature table a 100 TB deployment MATERIALIZES once per ingest (the
    * header comment has framed it that way since r15; r18 makes the
    * sharing real instead of per-query). Consumers: the batch
    * importance-weights query ([[dsirWeights]] — both its LM training and
    * its scoring read it) and the streaming gate's offline ratio training
    * ([[dsirRatio]] → StreamSelect). */
  private[graft] def corpusDsirFeatures(spark: SparkSession, dir: String,
      buckets: Int = 4096): DataFrame =
    Artifacts.dsirFeatures(spark, (dir, buckets)) {
      compressFeatures(dsirFeatures(
        Tables.spread(spark, Tables.documents(spark, dir))
          .select("doc_id", "lang", "text"), buckets))
    }

  /** Per-(doc, lang, bucket) feature MULTIPLICITIES — the compressed form
    * every DSIR aggregation runs over since r15. Natural text repeats
    * features heavily (stopword unigrams, frequent bigrams), and neither
    * the bucket LMs (integer count sums — exact under any regrouping) nor
    * the per-doc score (a DECIMAL(20,9) sum — exact and order-free, the
    * LmScore rule) ever needs the instances: Σ_instances lr ≡ Σ_b cnt·lr
    * bit-for-bit in decimal. The corpus-scale explode is consumed ONCE
    * into this frame; everything downstream reads compressed rows. */
  private[graft] def compressFeatures(feats: DataFrame): DataFrame =
    feats.groupBy(feats.columns.map(col): _*).agg(count(lit(1)).as("cnt"))

  private[graft] def ratioFromFeatures(compressed: DataFrame, buckets: Int,
      alpha: Double): DataFrame = {
    val spark = compressed.sparkSession
    // BOTH bucket LMs from ONE pass over the compressed features (a
    // conditional sum rides the same partial aggregation as the total —
    // a filter-then-regroup would pay the shuffle twice more); integer
    // multiplicities make the regrouped counts exactly the instance counts
    val counts = compressed.groupBy("b").agg(
      sum("cnt").as("cs"),
      sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("ct"))
    val totals = counts.agg(sum("cs").as("ts"), sum("ct").as("tt"))
    val aB = alpha * buckets
    val spine = spark.range(buckets).select(col("id").as("b"))
    // lr is rounded to 9 dp and carried as FIXED-POINT 1e-9 units in a
    // LONG (the LmScore r18 rule — formerly DECIMAL(20,9)): the per-doc
    // weight is then an EXACT order-free integer sum on both engines with
    // primitive codegen arithmetic instead of a BigDecimal per feature
    // row, and the compressed Σ cnt·lr regrouping is bit-identical to the
    // instance sum by integer exactness. Bound: |lr| < 100 ⇒ |lr_units| <
    // 10¹¹ and Σ_doc cnt·lr_units ≤ (features per doc)·10¹¹ ≪ 2⁵³, so the
    // final toDouble/1e9 is one exact conversion + one IEEE division —
    // the same double the decimal cast produced.
    spine.join(counts, Seq("b"), "left").crossJoin(broadcast(totals))
      .select(col("b"),
        rint(round(
          when(coalesce(col("cs"), lit(0L)) === 0L && coalesce(col("ct"), lit(0L)) === 0L,
            lit(0.0))
          .otherwise(
            log((coalesce(col("ct"), lit(0L)) + alpha) / (col("tt") + aB)) -
            log((coalesce(col("cs"), lit(0L)) + alpha) / (col("ts") + aB))), 9)
          * lit(1e9)).cast("long").as("lr_units"))
  }

  /** Per-doc (n_feats, summed log-ratio) over the COMPRESSED feature
    * counts — the one aggregation both scoring paths share. The sum runs
    * in exact fixed-point long units (see [[ratioFromFeatures]]) and
    * leaves as the same nearest double the old decimal cast produced, so
    * BOTH consumers (the batch ranking and the streaming gate's
    * threshold) see bit-identical weights. */
  private[graft] def scoreFeatures(compressed: DataFrame, ratio: DataFrame): DataFrame =
    compressed.join(broadcast(ratio), "b")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_feats"),
        (sum(col("lr_units") * col("cnt")).cast("double") / lit(1e9)).as("lw"))

  /** Per-doc log importance weight of ANY (doc_id, text) frame under a
    * trained ratio table — the scoring kernel the batch query and the
    * streaming gate share. */
  private[graft] def dsirScore(docs: DataFrame, ratio: DataFrame,
      buckets: Int): DataFrame =
    scoreFeatures(compressFeatures(
      dsirFeatures(docs.select("doc_id", "text"), buckets)), ratio)

  def dsirWeights(spark: SparkSession, dir: String, buckets: Int = 4096,
      alpha: Double = 0.01, keepFrac: Double = 0.2): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
    // ONE feature build serves LM training AND scoring (the explode +
    // hash is the query's dominant cost, ~60% of the end-to-end time
    // when profiled at sf0.1). Since r18 the compressed table is the SHARED
    // session memo [[corpusDsirFeatures]] (per-ingest artifact, also read
    // by the streaming gate's ratio training), so it is built once per
    // session, not once per call — and deliberately NOT unpersisted here
    // anymore: it is a session artifact like tokenInstances, reclaimed
    // with the session (the r8 leak ADVICE applied to a per-call cache;
    // a memoized artifact's lifetime IS the session).
    val feats = corpusDsirFeatures(spark, dir, buckets)
    val w = scoreFeatures(feats.select("doc_id", "b", "cnt"),
      dsirRatio(spark, dir, buckets, alpha))
    // total coverage: a token-less doc carries zero features and weight 0.
    // localCheckpoint (eager) materializes the doc-level table in ONE
    // corpus pass; the checkpoint blocks themselves are reclaimed by the
    // ContextCleaner once the returned frame is unreferenced.
    // lw leaves the exact-decimal world HERE, one cast per doc: the exact
    // sum holds ≤ 12 significant digits (|lw| < 10³ at 9 dp), far inside a
    // double's 15-17, so decimal → double is INJECTIVE and order-preserving
    // — the double ranking below and DuckDB's decimal ranking agree.
    val full = docs.select("doc_id").join(w, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("lw").cast("double"), lit(0.0)).as("lw"))
      .localCheckpoint()
    // Selection: "top ⌈keepFrac·N⌉ by (lw DESC, doc_id ASC)" — computed as
    // a bounded-heap k-th-element threshold + broadcast filter, NOT the
    // global row_number() window this replaced: that window funneled all
    // N docs through ONE partition's sort (the r8 verdict's perf-weak #2);
    // this shape shuffles at most k rows per map partition and never
    // sorts the corpus. Exact and deterministic — the doc_id tiebreak
    // makes the order total — so the unchanged ROW_NUMBER oracle still
    // hash-matches. The two jobs here (count + threshold agg) scan the
    // checkpointed doc-level table, not the lake.
    val n = full.count()
    val selected =
      if (n == 0L) lit(false)
      else {
        val k = math.ceil(n * keepFrac).toLong.min(n).max(1L)
        // Sketch + exact refine: the k-th-from-top weight has ascending
        // rank n−k+1; a Greenwald-Khanna sketch with rank error ≤ εn
        // (approxQuantile's guarantee) brackets its VALUE between the
        // quantiles 2ε either side. EXACTNESS never depends on the
        // sketch — any bracketing values yield the same threshold — the
        // sketch only bounds the refine band to ~6εn rows, so no stage
        // ever holds k (≈ keepFrac·N) rows in one buffer the way a
        // whole-table heap or a global sort would. Docs strictly above
        // the hi bracket are provably inside the top-k (rank ≤ k − εn);
        // the remaining k′ boundary seats are resolved exactly by the
        // bounded heap over the band alone. Degenerate corpora (one lw
        // value everywhere) widen the band to the tie class — the
        // honest cost of an exact tie-broken cut.
        val eps = math.max(1e-4, 1.0 / n)
        val q = 1.0 - k.toDouble / n
        val brackets = full.stat.approxQuantile("lw",
          Array(math.max(0.0, q - 2 * eps), math.min(1.0, q + 2 * eps)), eps)
        val (tLo, tHi) = (brackets(0), brackets(1))
        val nAbove = full.filter(col("lw") > tHi).count()
        require(nAbove <= k,
          s"sketch rank guarantee violated: $nAbove definitely-selected > k=$k")
        if (nAbove == k) col("lw") > tHi
        else {
          val kBand = k - nAbove
          require(kBand <= Int.MaxValue,
            s"boundary band of $kBand rows (massive lw ties) exceeds the " +
              "refine heap range")
          // the band's k′-th in (lw DESC, doc_id ASC): the heap's last
          // element (its worst row when the band holds fewer than k′);
          // doc_id is unique and lw an integer sum / 1e9, never −0.0
          val t = full.filter(col("lw") >= tLo && col("lw") <= tHi)
            .agg(element_at(TopK.top_k(struct(col("lw"), col("doc_id")),
              kBand.toInt, "lw" -> Descending, "doc_id" -> Ascending), -1).as("t"))
            .select(col("t.lw"), col("t.doc_id")).head()
          val (tLw, tId) = (t.getDouble(0), t.getLong(1))
          // rank(doc) <= k  ⇔  above the hi bracket, or at-or-above the
          // band's k′-th in the (lw DESC, doc_id ASC) order; lw compares
          // bit-identically because both sides read the SAME
          // checkpointed doubles
          col("lw") > tLw || (col("lw") === tLw && col("doc_id") <= tId)
        }
      }
    full.select(col("doc_id"), col("n_feats"),
      round(col("lw"), 6).as("log_weight"),
      selected.as("selected"))
  }

  /** DuckDB oracle for [[dsirWeights]] — re-derives the tokenization, the
    * portable hash binning, both smoothed LMs, the log-weight sum, and the
    * rank selection. */
  def dsirWeightsSql(buckets: Int = 4096, alpha: Double = 0.01,
      keepFrac: Double = 0.2): String = {
    val mix = TextFunctions.polyMixSql("f || ':dsir'")
    val signed = TextFunctions.wrapSignedSql("hu")
    raw"""WITH toked AS (
      |  SELECT doc_id, lang,
      |    list_filter(str_split(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))), ' '),
      |                x -> x <> '') AS toks
      |  FROM documents),
      |uni AS (SELECT doc_id, lang, UNNEST(toks) AS f FROM toked),
      |bi AS (
      |  SELECT doc_id, lang, UNNEST(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [] END) AS f
      |  FROM toked),
      |feats AS (
      |  SELECT doc_id, lang, ((hb % $buckets) + $buckets) % $buckets AS b
      |  FROM (SELECT doc_id, lang, $signed AS hb
      |        FROM (SELECT doc_id, lang, $mix AS hu
      |              FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)))),
      |tgt AS (SELECT b, COUNT(*) AS ct FROM feats WHERE lang = 'en' GROUP BY 1),
      |src AS (SELECT b, COUNT(*) AS cs FROM feats GROUP BY 1),
      |tot AS (SELECT (SELECT SUM(ct) FROM tgt) AS tt, (SELECT SUM(cs) FROM src) AS ts),
      |ratio AS (
      |  SELECT b,
      |    CAST(ROUND(ln((COALESCE(ct, 0) + $alpha) / (tt + ${alpha * buckets}))
      |      - ln((cs + $alpha) / (ts + ${alpha * buckets})), 9)
      |      AS DECIMAL(20,9)) AS lr
      |  FROM src LEFT JOIN tgt USING (b) CROSS JOIN tot),
      |w AS (
      |  SELECT doc_id, COUNT(*) AS n_feats, CAST(SUM(lr) AS DOUBLE) AS lw
      |  FROM feats JOIN ratio USING (b) GROUP BY 1),
      |fullw AS (
      |  SELECT d.doc_id, COALESCE(w.n_feats, 0) AS n_feats,
      |         COALESCE(w.lw, 0.0) AS lw
      |  FROM documents d LEFT JOIN w USING (doc_id)),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY lw DESC, doc_id ASC) AS rk,
      |         COUNT(*) OVER () AS n
      |  FROM fullw)
      |SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
      |       ROUND(lw, 6) AS log_weight,
      |       rk <= CEIL(n * $keepFrac) AS selected
      |FROM ranked""".stripMargin
  }

  // ---------------------------------------------------- split drift (PSI)
  /** Population-stability audit between the train and val splits: quartile
    * boundaries of the quality score computed on TRAIN ONLY, both splits
    * bucketed by those cuts, and the per-bucket PSI term
    * (p_train − p_val)·ln(p_train/p_val) — the standing drift check a
    * training pipeline runs to catch a split whose distributions diverged
    * (a biased split hash, a curation rule applied to one side, upstream
    * corpus shift between refreshes). PSI < 0.1 is the conventional
    * "stable" band; the per-bucket terms localize any breach. An empty
    * bucket yields a NULL term (ln is undefined — surfaced, not smoothed
    * over, on both engines).
    *
    * Scale shape: the split label and quality score are row-local; the
    * boundaries are ONE scalar aggregate over train (exact `percentile`,
    * same approx_percentile swap as [[graft.operators.Packing.lengthBuckets]]);
    * bucketing is a map-side CASE against three broadcast literals and the
    * audit is a 4-key map-combinable aggregate joined against its own
    * 1-row total — nothing touches doc-level rows beyond the one 4-key
    * exchange. */
  def splitDrift(spark: SparkSession, dir: String, seed: Int = 42): DataFrame = {
    // the MEMOIZED quality columns (identical values: the memo IS
    // qualityMetrics projected) — the drift audit reads materialized
    // per-doc metadata, it never re-runs the four full-text regex passes
    val d = TextFunctions.qualityQuery(spark, dir)
      .select(col("doc_id"), col("quality_score"))
      .withColumn("bucket100",
        pmod(splitHash(col("doc_id"), seed), lit(100L)).cast("int"))
      .withColumn("split",
        when(col("bucket100") < 80, "train")
          .when(col("bucket100") < 90, "val")
          .otherwise("test"))
      .filter(col("split") =!= "test")
      .select(col("split"), col("quality_score"))
    val b = d.filter(col("split") === "train").agg(
      expr("percentile(quality_score, 0.25)"),
      expr("percentile(quality_score, 0.5)"),
      expr("percentile(quality_score, 0.75)")).first()
    val (b1, b2, b3) = (b.getDouble(0), b.getDouble(1), b.getDouble(2))
    val counts = d
      .withColumn("bucket",
        when(col("quality_score") <= b1, 0)
          .when(col("quality_score") <= b2, 1)
          .when(col("quality_score") <= b3, 2)
          .otherwise(3).cast("int"))
      .groupBy("bucket")
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"))
    val totals = counts.agg(
      sum("n_train").as("t_train"), sum("n_val").as("t_val"))
    val ft = col("n_train").cast("double") / col("t_train").cast("double")
    val fv = col("n_val").cast("double") / col("t_val").cast("double")
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_train"), col("n_val"),
        round(ft, 6).as("frac_train"), round(fv, 6).as("frac_val"),
        when(col("n_train") === 0L || col("n_val") === 0L,
          lit(null).cast("double"))
          .otherwise(round((ft - fv) * log(ft / fv), 6)).as("psi_term"))
  }

  /** DuckDB oracle for [[splitDrift]] — quality formula and portable split
    * hash as in their own oracles, `quantile_cont` ≡ Spark exact
    * `percentile` (the q_percentiles parity). */
  def splitDriftSql(seed: Int = 42): String =
    raw"""WITH base AS (
       |  SELECT doc_id,
       |    LENGTH(text) AS n_chars_m,
       |    CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
       |         x -> x <> '')) AS INT) AS n_tokens,
       |    LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
       |    LENGTH(regexp_replace(text, '[ \t\n\x0B\f\r]+', '', 'g')) AS n_nonspace
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id,
       |    ROUND(LEAST(1.0, GREATEST(0.0,
       |      (n_alpha / NULLIF(CAST(n_chars_m AS DOUBLE), 0.0)) * 0.5
       |      + LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
       |      + LEAST((n_nonspace / NULLIF(CAST(n_tokens AS DOUBLE), 0.0)) / 10.0, 1.0) * 0.2)), 6)
       |      AS quality_score
       |  FROM base),
       |d AS (
       |  SELECT CASE WHEN bkt < 80 THEN 'train'
       |              WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
       |         quality_score
       |  FROM (SELECT s.quality_score,
       |          CAST(((hb % 100) + 100) % 100 AS INT) AS bkt
       |        FROM (SELECT doc_id, ${TextFunctions.wrapSignedSql("hu")} AS hb
       |              FROM (SELECT doc_id,
       |                  ${TextFunctions.polyMixSql(s"doc_id::VARCHAR || ':$seed'")} AS hu
       |                FROM documents)) h
       |        JOIN scored s USING (doc_id))
       |  WHERE bkt < 90),
       |b AS (SELECT quantile_cont(quality_score, 0.25) AS b1,
       |             quantile_cont(quality_score, 0.5)  AS b2,
       |             quantile_cont(quality_score, 0.75) AS b3
       |      FROM d WHERE split = 'train'),
       |c AS (
       |  SELECT CASE WHEN quality_score <= b1 THEN 0
       |              WHEN quality_score <= b2 THEN 1
       |              WHEN quality_score <= b3 THEN 2 ELSE 3 END AS bucket,
       |         SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
       |         SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_val
       |  FROM d CROSS JOIN b GROUP BY 1),
       |t AS (SELECT SUM(n_train) AS t_train, SUM(n_val) AS t_val FROM c)
       |SELECT bucket, CAST(n_train AS BIGINT) AS n_train,
       |  CAST(n_val AS BIGINT) AS n_val,
       |  ROUND(n_train / CAST(t_train AS DOUBLE), 6) AS frac_train,
       |  ROUND(n_val / CAST(t_val AS DOUBLE), 6) AS frac_val,
       |  CASE WHEN n_train = 0 OR n_val = 0 THEN NULL
       |       ELSE ROUND((n_train / CAST(t_train AS DOUBLE)
       |                   - n_val / CAST(t_val AS DOUBLE))
       |         * ln((n_train / CAST(t_train AS DOUBLE))
       |              / (n_val / CAST(t_val AS DOUBLE))), 6) END AS psi_term
       |FROM c CROSS JOIN t""".stripMargin

  // ------------------------------------------------------- per-source quota
  /** Per-source document quota — the RefinedWeb/CCNet domain cap: keep at
    * most `cap` documents per source, best-quality first, so no single
    * domain dominates the training mixture no matter how many pages it
    * contributes. Complements [[sourceReputation]] (which gates WHOLE
    * sources): reputation decides who participates, the cap bounds how
    * much.
    *
    * Scale shape: the selection is the bounded-heap top-k aggregate keyed
    * (rounded quality desc, doc_id asc) — map-side combined, ≤ cap rows
    * shuffled per partition per source — NOT a per-source window sort.
    * Sources are the classic mega-stratum (20 sources at any corpus size:
    * a `row_number` window would funnel corpus/20 rows through one task),
    * exactly the shape the cluster/budget samplers already banish; the
    * heap feeds on the ROUNDED score so the ordering is grid-stable
    * across engines. */
  def domainCap(spark: SparkSession, dir: String, cap: Int = 10): DataFrame = {
    val scored = TextFunctions
      .qualityMetrics(Tables.documents(spark, dir), "text")
      .select(col("doc_id"), col("source"), col("quality_score"))
    scored.groupBy("source")
      .agg(TopK.top_k(struct(col("doc_id"), col("quality_score")), cap,
        "quality_score" -> Descending, "doc_id" -> Ascending).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("s.doc_id"), col("s.quality_score"))
  }

  /** DuckDB oracle for [[domainCap]] — the window spelling of the same
    * selection: quality formula as in the q_quality_metrics oracle,
    * ROW_NUMBER per source on (rounded score desc, doc_id asc). */
  def domainCapSql(cap: Int = 10): String =
    raw"""WITH base AS (
       |  SELECT doc_id, source,
       |    LENGTH(text) AS n_chars_m,
       |    CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
       |         x -> x <> '')) AS INT) AS n_tokens,
       |    LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
       |    LENGTH(regexp_replace(text, '[ \t\n\x0B\f\r]+', '', 'g')) AS n_nonspace
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, source,
       |    ROUND(LEAST(1.0, GREATEST(0.0,
       |      (n_alpha / NULLIF(CAST(n_chars_m AS DOUBLE), 0.0)) * 0.5
       |      + LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
       |      + LEAST((n_nonspace / NULLIF(CAST(n_tokens AS DOUBLE), 0.0)) / 10.0, 1.0) * 0.2)), 6)
       |      AS quality_score
       |  FROM base)
       |SELECT source, rank, doc_id, quality_score FROM (
       |  SELECT source, doc_id, quality_score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY quality_score DESC, doc_id ASC) AS INT) AS rank
       |  FROM q)
       |WHERE rank <= $cap""".stripMargin

  // ------------------------------------------------------- curriculum plan
  /** Curriculum bucketing by LM difficulty (the curriculum-learning prep:
    * order training data easy → hard by model surprise): per-doc
    * stupid-backoff scores ([[NgramLm.scoreDocs]]) cut at exact quartile
    * boundaries, bucket 1 = easiest (highest mean log-likelihood) … 4 =
    * hardest.
    *
    * Boundaries are TYPE-1 quantiles over the ROUNDED score distribution:
    * q_p = smallest score with cumulative count ≥ ⌈p·N⌉ — pure integer
    * logic on exact counts, no interpolation, so both engines compute the
    * identical cut. Scale shape: the CDF is built on the DISTINCT-score
    * table, whose cardinality is bounded by the score RANGE × 10⁶ (6-dp
    * grid), not by the corpus — the one ordered window runs over that
    * bounded table, never over docs (the `percentile(...)` exact aggregate
    * would buffer every per-doc value; approx_percentile is the sketch
    * alternative when even the grid is too wide). Assignment is a
    * broadcast of 3 numbers + one CASE per row; the summary is one
    * shuffle keyed by the 4 buckets. */
  /** Range buckets for the two-phase CDF below — 2^8 contiguous score
    * slices; scales with the cluster like [[Layout.ShuffleTopBits]]. */
  private[graft] val CurriculumTopBits: Int = 8

  def curriculumPlan(spark: SparkSession, dir: String): DataFrame = {
    val scored = NgramLm.scoreQuery(spark, dir)
    // The quartile cuts used to come from ONE unpartitioned running-sum
    // window over the distinct-score CDF — correct, but a single-executor
    // sort at 100 TB (the r14 verdict's perf-weak #1). Same output, two-
    // phase now (the Layout.shuffleShards prefix-sum decomposition):
    //   1. distinct-score counts, each score range-bucketed into one of
    //      2^CurriculumTopBits contiguous slices of [min, max] — a bucket
    //      id is monotone in the score, so bucket-local prefixes compose;
    //   2. per-bucket count subtotals → driver prefix over ≤ 2^topBits
    //      rows (the metadata-scale collect every two-phase prefix pays),
    //      broadcast back as each bucket's starting offset;
    //   3. within-bucket exact running sum, window PARTITIONED by bucket —
    //      never a single-task global ORDER BY. Heavy ties collapse into
    //      one distinct row each, so a value-skewed corpus degrades only
    //      to the distinct table's own (6-dp-grid-bounded) cardinality.
    // The stats row and subtotal collect are two metadata-scale jobs over
    // the memoized score table; the oracle keeps the global one-window
    // spelling (allowed the single-task form, like shuffleShardsSql).
    val st = scored.agg(min("avg_log2sb"), max("avg_log2sb"),
      count(lit(1))).first()
    val n = st.getLong(2)
    val buckets = 1 << CurriculumTopBits
    val bucketCol =
      if (n == 0L || st.getDouble(0) == st.getDouble(1)) lit(0)
      else {
        val (lo, hi) = (st.getDouble(0), st.getDouble(1))
        least(lit(buckets - 1), floor((col("avg_log2sb") - lit(lo))
          / lit(hi - lo) * buckets)).cast("int")
      }
    val dist = scored.groupBy("avg_log2sb").agg(count(lit(1)).as("c"))
      .withColumn("bucket", bucketCol)
    val subtotals = dist.groupBy("bucket").agg(sum("c").as("bc"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val offsets = subtotals.scanLeft((Int.MinValue, 0L)) {
      case ((_, acc), (b, c)) => (b, acc + c)
    }.sliding(2).collect { case Seq((_, off), (b, _)) => (b, off) }.toSeq
    val offDf =
      if (offsets.isEmpty) spark.createDataFrame(Seq((0, 0L))).toDF("bucket", "offset").limit(0)
      else spark.createDataFrame(offsets).toDF("bucket", "offset")
    val w = Window.partitionBy("bucket").orderBy("avg_log2sb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dist.join(broadcast(offDf), "bucket")
      .withColumn("cum", col("offset") + sum("c").over(w))
    // identical arithmetic to the old in-plan form: ceil of the IEEE
    // double product long·0.25 (math.ceil ≡ Spark's ceil on doubles)
    def target(p: Double): Long = math.ceil(n * p).toLong
    val bounds = cum.agg(
      min(when(col("cum") >= target(0.25), col("avg_log2sb"))).as("q1"),
      min(when(col("cum") >= target(0.50), col("avg_log2sb"))).as("q2"),
      min(when(col("cum") >= target(0.75), col("avg_log2sb"))).as("q3"))
    scored.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("avg_log2sb") > col("q3"), 1)
          .when(col("avg_log2sb") > col("q2"), 2)
          .when(col("avg_log2sb") > col("q1"), 3)
          .otherwise(4))
      .groupBy("bucket")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens_total"),
        min(col("avg_log2sb")).as("min_score"),
        max(col("avg_log2sb")).as("max_score"))
  }

  def curriculumPlanSql: String = {
    // per-doc scores: the NgramLm CTE chain verbatim
    val scoredCtes = NgramLm.scoreQuerySql
      .stripPrefix("WITH ").split("\nSELECT ")(0)
    s"""WITH $scoredCtes,
       |dist AS (SELECT avg_log2sb, COUNT(*) AS c FROM scored GROUP BY 1),
       |cum AS (SELECT avg_log2sb,
       |          SUM(c) OVER (ORDER BY avg_log2sb
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |        FROM dist),
       |nall AS (SELECT COUNT(*) AS n_all FROM scored),
       |bounds AS (
       |  SELECT
       |    MIN(CASE WHEN cum >= CEIL(n_all * 0.25) THEN avg_log2sb END) AS q1,
       |    MIN(CASE WHEN cum >= CEIL(n_all * 0.50) THEN avg_log2sb END) AS q2,
       |    MIN(CASE WHEN cum >= CEIL(n_all * 0.75) THEN avg_log2sb END) AS q3
       |  FROM cum, nall)
       |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
       |  MIN(avg_log2sb) AS min_score, MAX(avg_log2sb) AS max_score
       |FROM (
       |  SELECT s.n_tokens, s.avg_log2sb,
       |    CASE WHEN s.avg_log2sb > b.q3 THEN 1
       |         WHEN s.avg_log2sb > b.q2 THEN 2
       |         WHEN s.avg_log2sb > b.q1 THEN 3
       |         ELSE 4 END AS bucket
       |  FROM scored s, bounds b)
       |GROUP BY bucket""".stripMargin
  }
}
