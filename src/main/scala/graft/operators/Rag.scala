package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Artifacts
import graft.Tables
import graft.functions.TextFunctions
import graft.functions.VectorExpressions.cosine_sim

/** Passage retrieval end-to-end — the RAG indexing/query path composed
  * from the repo's own stages: sliding-window chunking ([[Packing]]'s
  * kernel) → feature-hash chunk embeddings ([[TextEmbed]]'s kernel) →
  * exact cosine top-k over passages (the [[Similarity]] contract), with
  * chunk provenance (source doc, window position, content digest) carried
  * to the result. Queries are each query doc's OPENING chunk (chunk 0),
  * so one embed chain serves both sides; a query's own passages are
  * excluded (they'd trivially top-rank).
  *
  * Chunk identity is arithmetic — chunk_id = doc_id·4096 + chunk_pos — so
  * provenance needs no join on the scoring path (src_doc = chunk_id//4096
  * is a projection); only the nQueries×k winners join back to the chunk
  * table for the digest. The 12-bit position field bounds docs at 4096
  * chunks (window 32 / stride 16 ⇒ ~65k tokens) and doc ids at 2^51; a
  * longer-doc deployment widens the shift or keys by struct.
  *
  * At 100 TB: chunking and embedding are row-local (no shuffle until the
  * per-chunk aggregate inside the embed kernel, keyed by chunk); queries
  * are broadcast; scoring feeds the bounded-heap top-k (map-side
  * combined, ≤ k rows per partition per query — never a per-query window
  * sort); the winner join is a broadcast semi join. Swapping the exact
  * scan for the IVF/PQ tiers is the documented sub-linear path — the
  * chunk vectors satisfy the same (vec_id, emb) contract those tiers
  * already index and store. */
object Rag {

  val ChunkShift = 4096L

  /** The retrieval defaults: query docs, MMR candidate pool, and the chunk
    * window and stride in tokens. */
  val DefaultQueries = 5
  val DefaultPool = 20
  val DefaultWindow = 32
  val DefaultStride = 16

  private def chunkTable(spark: SparkSession, dir: String,
      window: Int, stride: Int): DataFrame = {
    val toked = Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
    Packing.chunkRows(toked, window, stride)
      .select((col("doc_id") * ChunkShift + col("chunk_pos")).as("chunk_id"),
        col("doc_id").as("src_doc"), col("chunk_pos"),
        concat_ws(" ", col("chunk")).as("text"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_sig"))
  }

  /** The chunk-embedding index, a session artifact read by the plain
    * retrieval and by the builds of the MMR pool and the stored index (at
    * lake scale a materialized per-ingest table, like the stored IVF/PQ
    * indexes). */
  private[graft] def chunkVecs(spark: SparkSession, dir: String,
      window: Int, stride: Int): DataFrame =
    Artifacts.ragChunks(spark, (dir, window, stride)) {
      TextEmbed.embedDocs(
          chunkTable(spark, dir, window, stride)
            .select(col("chunk_id").as("doc_id"), col("text")))
        .select(col("doc_id").as("vec_id"), col("emb"))
    }

  /** (q_doc, rank, src_doc, chunk_pos, cosine, chunk_sig): the k best
    * passages outside each query doc, ranked by rounded cosine with the
    * chunk-id tiebreak. Fully hash-oracled end to end. */
  def ragRetrieve(spark: SparkSession, dir: String,
      nQueries: Int = DefaultQueries, k: Int = 3, window: Int = DefaultWindow,
      stride: Int = DefaultStride): DataFrame =
    retrieveFrom(chunkTable(spark, dir, window, stride),
      chunkVecs(spark, dir, window, stride), nQueries, k)

  /** The scoring/rank/provenance body over ANY (vec_id, emb) chunk-vector
    * frame — ONE implementation for the in-session index ([[chunkVecs]])
    * and the TxTable-persisted one ([[ragRetrieveStored]]), so the two
    * paths cannot drift (the `modelFromCounts` sharing rule). */
  private def retrieveFrom(chunks: DataFrame, vecs: DataFrame,
      nQueries: Int, k: Int): DataFrame = {
    val q = vecs
      .filter(col("vec_id") % ChunkShift === 0 &&
        col("vec_id") < nQueries * ChunkShift)
      .select((col("vec_id") / ChunkShift).cast("long").as("q_doc"),
        col("emb").as("q_emb"))
    val winners = vecs.crossJoin(broadcast(q))
      .filter((col("vec_id") / ChunkShift).cast("long") =!= col("q_doc"))
      .withColumn("cosine", round(cosine_sim(col("emb"), col("q_emb")), 6))
      .groupBy("q_doc")
      .agg(Similarity.nearest(k).as("top"))
      .select(col("q_doc"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("q_doc"), (col("pos") + 1).cast("int").as("rank"),
        col("s.vec_id").as("chunk_id"), col("s.cosine").as("cosine"))
    chunks.join(broadcast(winners), "chunk_id")
      .select(col("q_doc"), col("rank"), col("src_doc"), col("chunk_pos"),
        col("cosine"), col("chunk_sig"))
  }

  // ------------------------------------------------ stored chunk index
  /** Persist the chunk-embedding index as a TxTable at `path` — the
    * production form of [[chunkVecs]] (the `writeLshIndex`/`writeIvfIndex`
    * /`writePqIndex` family): at 100 TB the chunk vectors are materialized
    * once per ingest window and every retrieval reads the stored artifact.
    * Doubles round-trip parquet bit-exactly, so stored ≡ inline is
    * hash-provable. Returns the committed version. */
  def writeChunkIndex(spark: SparkSession, dir: String, path: String,
      window: Int = DefaultWindow, stride: Int = DefaultStride): Long =
    graft.serve.TxTable.write(spark,
      chunkVecs(spark, dir, window, stride), path)

  /** INCREMENTAL index maintenance: embed one ingest batch of documents
    * and MERGE keyed by chunk_id (vec_id). Chunk vectors are a pure
    * function of chunk content, so the merge is overwrite-style and
    * replay-IDEMPOTENT (a redelivered batch rewrites identical rows) —
    * unlike the additive LM counts. Cost: O(batch chunks) embed + a
    * key-stats-pruned rewrite of the touched chunk-id range (chunk_id =
    * doc_id·4096 + pos, so a batch of new docs lands in fresh, contiguous
    * key ranges and never rewrites old files). */
  def appendChunkIndex(spark: SparkSession, batch: DataFrame, path: String,
      window: Int = DefaultWindow, stride: Int = DefaultStride): Unit = {
    val toked = batch.select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
    val vecs = TextEmbed.embedDocs(
        Packing.chunkRows(toked, window, stride)
          .select((col("doc_id") * ChunkShift + col("chunk_pos")).as("doc_id"),
            concat_ws(" ", col("chunk")).as("text")))
      .select(col("doc_id").as("vec_id"), col("emb"))
    graft.serve.TxTable.merge(spark, vecs, path, Seq("vec_id"))
    ()
  }

  /** RIGHT-TO-BE-FORGOTTEN on the chunk index: purge every chunk of the
    * given documents with one predicate DELETE per call. Chunk identity is
    * arithmetic (chunk_id = doc_id·4096 + pos), so a document's chunks
    * occupy one contiguous key range — the TxTable delete's stats-pruned
    * scan touches only files overlapping the purged ranges, and after
    * vacuum ages out the superseded files the vectors are physically gone
    * (PurgeSpec pins index ≡ a from-scratch rebuild on the remaining
    * docs). Idempotent: re-purging deletes nothing and burns no commit. */
  def purgeChunkIndex(spark: SparkSession, docIds: Seq[Long],
      path: String): Unit = {
    if (docIds.nonEmpty) {
      val cond = docIds.map(d =>
          col("vec_id") >= d * ChunkShift &&
            col("vec_id") < (d + 1) * ChunkShift)
        .reduce(_ || _)
      graft.serve.TxTable.delete(spark, path, cond)
      ()
    }
  }

  /** Registered-query form: write the chunk index once per (session, sf
    * dir) under the scratch root, then retrieve against the PERSISTED
    * vectors through the SHARED [[retrieveFrom]] body — same result,
    * same DuckDB oracle as `q_rag_retrieve` (the `q_ann_pq_stored` /
    * `q_ngram_lm_stored` proof-by-same-oracle pattern). */
  def ragRetrieveStored(spark: SparkSession, dir: String,
      nQueries: Int = DefaultQueries, k: Int = 3, window: Int = DefaultWindow,
      stride: Int = DefaultStride): DataFrame =
    retrieveFrom(chunkTable(spark, dir, window, stride),
      graft.serve.TxTable.read(spark, chunkIndex(spark, dir, window, stride))
        .select("vec_id", "emb"),
      nQueries, k)

  /** The persisted chunk index's path. Artifact key AND on-disk root both
    * carry (window, stride): a second call with different chunking params
    * must build its own index, not silently serve the first call's vectors
    * against a differently-chunked probe side. */
  private[graft] def chunkIndex(spark: SparkSession, dir: String,
      window: Int = DefaultWindow, stride: Int = DefaultStride): String =
    Artifacts.ragStoredIndex(spark, (dir, window, stride)) {
      Similarity.scratchIndexPath(s"graft_chunk_index_w${window}s$stride", dir)(
        p => writeChunkIndex(spark, dir, p, window, stride))
    }

  /** DuckDB mirror: the chunk chain (the [[Packing.chunkDocumentsSql]]
    * spelling, kept as text), the embed chain over the chunk relation
    * ([[TextEmbed.embedSqlCtesOver]]), the brute-force window ranking,
    * and the provenance join. */
  def ragRetrieveSql(nQueries: Int = DefaultQueries, k: Int = 3,
      window: Int = DefaultWindow, stride: Int = DefaultStride): String =
    s"""WITH ${retrievalCtes(nQueries, window, stride)}
      |SELECT w.q_doc, w.rank, ch.src_doc, ch.chunk_pos, w.cosine, ch.chunk_sig
      |FROM win w JOIN ch ON ch.chunk_id = w.vec_id
      |WHERE w.rank <= $k""".stripMargin

  /** The shared retrieval CTE chain (chunks `ch` → embeddings `c` →
    * queries `q` → scored `cos` → ranked `win`) — the prefix both the
    * plain top-k mirror and the MMR mirror build on. */
  private def retrievalCtes(nQueries: Int, window: Int,
      stride: Int): String =
    raw"""tk AS (
      |  SELECT doc_id,
      |    list_filter(str_split(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))), ' '),
      |                x -> x <> '') AS t
      |  FROM documents),
      |grid AS (
      |  SELECT doc_id, t, len(t) AS n,
      |    greatest(1, len(t) - ${window - 1}) AS anchor,
      |    range(1, greatest(1, len(t) - ${window - 1}) + 1, $stride) AS base
      |  FROM tk),
      |stt AS (
      |  SELECT doc_id, t,
      |    CASE WHEN list_contains(base, anchor) THEN base
      |         ELSE list_append(base, anchor) END AS starts
      |  FROM grid),
      |ex AS (
      |  SELECT doc_id, t,
      |    UNNEST(list_transform(range(len(starts)),
      |      i -> struct_pack(pos := i, s := starts[i + 1]))) AS u
      |  FROM stt),
      |ch AS (
      |  SELECT doc_id * $ChunkShift + u.pos AS chunk_id,
      |    doc_id AS src_doc, CAST(u.pos AS INT) AS chunk_pos,
      |    array_to_string(list_slice(t, u.s, u.s + ${window - 1}), ' ') AS text,
      |    md5(array_to_string(list_slice(t, u.s, u.s + ${window - 1}), ' ')) AS chunk_sig
      |  FROM ex),
      |csrc AS (SELECT chunk_id AS doc_id, text FROM ch),
      |${TextEmbed.embedSqlCtesOver("csrc")},
      |c AS (
      |  SELECT doc_id AS vec_id, list(val ORDER BY pos) AS emb
      |  FROM coords GROUP BY doc_id),
      |q AS (
      |  SELECT vec_id // $ChunkShift AS q_doc, emb AS q_emb
      |  FROM c WHERE vec_id % $ChunkShift = 0 AND vec_id < $nQueries * $ChunkShift),
      |cos AS (
      |  SELECT q.q_doc, c.vec_id,
      |    ROUND(${Similarity.cosSqlExpr("c.emb", "q.q_emb")}, 6) AS cosine
      |  FROM c CROSS JOIN q WHERE c.vec_id // $ChunkShift <> q.q_doc),
      |win AS (
      |  SELECT q_doc, vec_id, cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_doc
      |      ORDER BY cosine DESC NULLS LAST, vec_id ASC) AS INT) AS rank
      |  FROM cos)""".stripMargin

  // --------------------------------------------------------------- MMR
  /** MMR weights as SHARED literals: the Scala kernel and the generated
    * SQL must multiply by the SAME doubles — `1 - 0.7` in IEEE is
    * 0.30000000000000004, not the literal 0.3, so the complement is
    * pinned, never derived. */
  val Lambda = 0.7
  val Mu = 0.3

  case class MmrCand(q_doc: Long, vec_id: Long, rel: Double, emb: Seq[Double])

  private def localCos(a: Seq[Double], b: Seq[Double]): Double = {
    // normalize ONCE to primitive arrays: the Dataset decoder hands these
    // embeddings over as Lists, where the positional loop below would be
    // O(dim²) pointer-chasing per cosine (the Sketches.indexed lesson, r18)
    val (va, vb) = (toArr(a), toArr(b))
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(va.length, vb.length)
    while (i < n) { dot += va(i) * vb(i); na += va(i) * va(i); nb += vb(i) * vb(i); i += 1 }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  @inline private def toArr(v: Seq[Double]): Array[Double] = v match {
    case w: scala.collection.immutable.ArraySeq.ofDouble => w.unsafeArray
    case other => other.toArray
  }

  /** Greedy MMR over ≤ pool candidates; (candidate, RAW mmr score) in
    * selection order — rank 1 scores its relevance. Scores compare raw
    * doubles computed from round-6 inputs with the vec_id tiebreak: the
    * bit-identical contract the SQL mirror replays. */
  private def greedySelect(cands: Array[MmrCand],
      k: Int): Seq[(MmrCand, Double)] = {
    import graft.functions.PqKernels.round6
    val out = scala.collection.mutable.ArrayBuffer.empty[(MmrCand, Double)]
    if (cands.isEmpty) return out.toSeq
    val sorted = cands.sortBy(c => (-c.rel, c.vec_id))
    val chosen = scala.collection.mutable.ArrayBuffer(sorted.head)
    val remaining = scala.collection.mutable.ArrayBuffer(sorted.tail: _*)
    out += ((sorted.head, sorted.head.rel))
    while (out.length < k && remaining.nonEmpty) {
      var best: MmrCand = null
      var bestScore = Double.NegativeInfinity
      remaining.foreach { c =>
        var m = Double.NegativeInfinity
        chosen.foreach { s =>
          val sim = round6(localCos(c.emb, s.emb))
          if (sim > m) m = sim
        }
        val score = Lambda * c.rel - Mu * m
        if (score > bestScore ||
            (score == bestScore && (best == null || c.vec_id < best.vec_id))) {
          best = c; bestScore = score
        }
      }
      chosen += best
      remaining -= best
      out += ((best, bestScore))
    }
    out.toSeq
  }

  /** Maximal-marginal-relevance retrieval: the top-`pool` passages per
    * query (the [[ragRetrieve]] contract) re-ranked greedily by
    * λ·relevance − (1−λ)·max-similarity-to-already-selected — the
    * diversity-aware reading list a RAG prompt actually wants (k near-
    * duplicate passages waste the context window; MMR forces coverage).
    * Rank 1 is the relevance winner; each later pick maximizes the MMR
    * score against everything already chosen, vec_id tiebreak.
    *
    * Determinism: relevance and pairwise sims are round-6 BEFORE any
    * comparison (the [[graft.functions.PqKernels.round6]] Catalyst
    * replica), so both engines order identical doubles; λ/μ are shared
    * literals. Fully hash-oracled — the DuckDB mirror unrolls the greedy
    * as k chained CTE steps over the same rounded inputs.
    *
    * At 100 TB: the corpus-scale work is the candidate retrieval, which
    * reuses the bounded-heap top-k (map-side combined, ≤ pool rows per
    * partition per query). The MMR stage itself is metadata-scale BY
    * CONSTRUCTION — nQueries × pool rows, grouped per query (≤ pool
    * candidates × 64 doubles of state), never a corpus pass. */
  /** The scored candidate pool both MMR queries consume, MEMOIZED per
    * (session, dir, params) and sized pool+1: the re-rank needs the top
    * `pool` and the exposure audit needs exactly one more element (the
    * (pool+1)-th relevance IS the exclusion bound), so ONE corpus-scan +
    * bounded-heap pass serves both — `pos` is the 0-based heap rank
    * (rounded cosine DESC, vec_id ASC), already joined to the candidate
    * embeddings the greedy needs. */
  private[graft] def mmrPool(spark: SparkSession, dir: String,
      nQueries: Int = DefaultQueries, pool: Int = DefaultPool,
      window: Int = DefaultWindow, stride: Int = DefaultStride): DataFrame =
    Artifacts.ragMmrPool(spark, (dir, nQueries, pool, window, stride)) {
      val vecs = chunkVecs(spark, dir, window, stride)
      val q = vecs
        .filter(col("vec_id") % ChunkShift === 0 &&
          col("vec_id") < nQueries * ChunkShift)
        .select((col("vec_id") / ChunkShift).cast("long").as("q_doc"),
          col("emb").as("q_emb"))
      val cands = vecs.crossJoin(broadcast(q))
        .filter((col("vec_id") / ChunkShift).cast("long") =!= col("q_doc"))
        .withColumn("cosine", round(cosine_sim(col("emb"), col("q_emb")), 6))
        .groupBy("q_doc")
        .agg(Similarity.nearest(pool + 1).as("top"))
        .select(col("q_doc"), posexplode(col("top")).as(Seq("pos", "s")))
        .select(col("q_doc"), col("pos"),
          col("s.vec_id").as("vec_id"), col("s.cosine").as("rel"))
      broadcast(cands).join(vecs, "vec_id")
        .select(col("q_doc"), col("pos"), col("vec_id"), col("rel"), col("emb"))
    }

  def mmrRetrieve(spark: SparkSession, dir: String,
      nQueries: Int = DefaultQueries, k: Int = 5, pool: Int = DefaultPool,
      window: Int = DefaultWindow, stride: Int = DefaultStride): DataFrame = {
    import spark.implicits._
    import graft.functions.PqKernels.round6
    val chunks = chunkTable(spark, dir, window, stride)
    val withEmb = mmrPool(spark, dir, nQueries, pool, window, stride)
      .filter(col("pos") < pool)
      .select(col("q_doc"), col("vec_id"), col("rel"), col("emb"))
      .as[MmrCand]
    val kk = k
    val selected = withEmb.groupByKey(_.q_doc).flatMapGroups { (qd, it) =>
      greedySelect(it.toArray, kk).zipWithIndex.iterator.map {
        case ((c, score), i) => (qd, i + 1, c.vec_id, c.rel, round6(score))
      }
    }.toDF("q_doc", "rank", "chunk_id", "rel", "mmr")
    chunks.join(broadcast(selected), "chunk_id")
      .select(col("q_doc"), col("rank"), col("src_doc"), col("chunk_pos"),
        col("rel"), col("mmr"))
  }

  /** DuckDB mirror of [[mmrRetrieve]]: the shared retrieval prefix, the
    * candidate pool, the pairwise rounded-sim relation, and the greedy
    * unrolled as k chained CTE steps (argmax per step via ROW_NUMBER,
    * chosen-set accumulated by UNION ALL). */
  def mmrRetrieveSql(nQueries: Int = DefaultQueries, k: Int = 5,
      pool: Int = DefaultPool, window: Int = DefaultWindow,
      stride: Int = DefaultStride): String =
    s"""WITH ${mmrSelCtes(nQueries, k, pool, window, stride)}
       |SELECT sel.q_doc, CAST(sel.rank AS INT) AS rank, ch.src_doc,
       |       ch.chunk_pos, sel.rel, ROUND(sel.mmr, 6) AS mmr
       |FROM sel JOIN ch ON ch.chunk_id = sel.vec_id""".stripMargin

  /** Everything through the selected set `sel` — shared by the MMR mirror
    * and the pool-cap exposure audit. */
  private def mmrSelCtes(nQueries: Int, k: Int, pool: Int,
      window: Int, stride: Int): String = {
    val steps = (2 to k).map { t =>
      val prevC = s"c${t - 1}"
      s"""s$t AS MATERIALIZED (
         |  SELECT q_doc, vec_id, rel, mmr, $t AS rank FROM (
         |    SELECT e.q_doc, e.vec_id, e.rel, $Lambda * e.rel - $Mu * ms.m AS mmr,
         |           ROW_NUMBER() OVER (PARTITION BY e.q_doc
         |             ORDER BY ($Lambda * e.rel - $Mu * ms.m) DESC, e.vec_id) AS rn
         |    FROM ce e
         |    JOIN (SELECT p.q_doc, p.i AS vec_id, MAX(p.sim) AS m
         |          FROM pair p JOIN $prevC ch2 ON p.q_doc = ch2.q_doc
         |                                     AND p.j = ch2.vec_id
         |          GROUP BY 1, 2) ms
         |      ON ms.q_doc = e.q_doc AND ms.vec_id = e.vec_id
         |    WHERE NOT EXISTS (SELECT 1 FROM $prevC ch2
         |                      WHERE ch2.q_doc = e.q_doc
         |                        AND ch2.vec_id = e.vec_id))
         |  WHERE rn = 1),
         |c$t AS MATERIALIZED (SELECT * FROM $prevC
         |  UNION ALL SELECT q_doc, vec_id FROM s$t)""".stripMargin
    }.mkString(",\n")
    val union = (1 to k).map(t => s"SELECT * FROM s$t").mkString(" UNION ALL ")
    s"""${retrievalCtes(nQueries, window, stride)},
       |cand AS MATERIALIZED (SELECT q_doc, vec_id, cosine AS rel FROM win
       |         WHERE rank <= $pool),
       |ce AS MATERIALIZED (SELECT cd.q_doc, cd.vec_id, cd.rel, c.emb
       |       FROM cand cd JOIN c ON c.vec_id = cd.vec_id),
       |pair AS MATERIALIZED (
       |  SELECT a.q_doc, a.vec_id AS i, b.vec_id AS j,
       |         ROUND(${Similarity.cosSqlExpr("a.emb", "b.emb")}, 6) AS sim
       |  FROM ce a JOIN ce b ON a.q_doc = b.q_doc AND a.vec_id <> b.vec_id),
       |s1 AS MATERIALIZED (SELECT q_doc, vec_id, rel, rel AS mmr, 1 AS rank FROM (
       |  SELECT q_doc, vec_id, rel,
       |         ROW_NUMBER() OVER (PARTITION BY q_doc
       |           ORDER BY rel DESC, vec_id) AS rn
       |  FROM ce) WHERE rn = 1),
       |c1 AS MATERIALIZED (SELECT q_doc, vec_id FROM s1),
       |$steps,
       |sel AS ($union)""".stripMargin
  }

  /** Standing pool-cap exposure audit (the `q_ngram_cap_exposure`
    * pattern: a bounded index owes a standing measure of what its cap
    * hides). An excluded candidate's MMR score is at most
    * λ·(best excluded relevance) — no similarity penalty can HELP it —
    * so `excl_mmr_ceiling = λ·max_excl_rel` is the hard ceiling on what
    * any pool-invisible passage could have scored, and
    * `bound_gap = min(selected mmr) − ceiling`: a positive gap CERTIFIES
    * the top-`pool` cap lost nothing for that query; a negative gap is
    * the exposure — conservative by construction, since the ceiling
    * ignores the similarity penalty a high-relevance excluded candidate
    * (by construction a near-dup of what IS selected) would actually
    * pay. On this corpus the gap runs ≈ −0.2: the honest reading is
    * "pool=20 trades a bounded slice of diversity headroom for the
    * bounded-heap plan", exactly the trade the df-cap audit reports for
    * n-gram dedup. Fully hash-oracled: the mirror re-derives the greedy
    * AND the exclusion bound. */
  def mmrPoolExposure(spark: SparkSession, dir: String,
      nQueries: Int = DefaultQueries, k: Int = 5, pool: Int = DefaultPool,
      window: Int = DefaultWindow, stride: Int = DefaultStride): DataFrame = {
    import spark.implicits._
    // the shared pool+1 frame: the (pool+1)-th best relevance IS the
    // exclusion bound the audit prices
    val withEmb = mmrPool(spark, dir, nQueries, pool, window, stride)
      .select(col("q_doc"), col("vec_id"), col("rel"), col("emb"))
      .as[MmrCand]
    val kk = k; val pl = pool; val lam = Lambda
    withEmb.groupByKey(_.q_doc).mapGroups { (qd, it) =>
      import graft.functions.PqKernels.round6
      val cs = it.toArray.sortBy(c => (-c.rel, c.vec_id))
      val maxExcl: Option[Double] = if (cs.length > pl) Some(cs(pl).rel) else None
      val minSel = greedySelect(cs.take(pl), kk).map(_._2).min
      (qd, round6(minSel), maxExcl,
        maxExcl.map(m => round6(lam * m)),
        maxExcl.map(m => round6(minSel - lam * m)))
    }.toDF("q_doc", "min_sel_mmr", "max_excl_rel", "excl_mmr_ceiling",
      "bound_gap")
  }

  def mmrPoolExposureSql(nQueries: Int = DefaultQueries, k: Int = 5,
      pool: Int = DefaultPool, window: Int = DefaultWindow,
      stride: Int = DefaultStride): String =
    s"""WITH ${mmrSelCtes(nQueries, k, pool, window, stride)},
       |excl AS (SELECT q_doc, MAX(cosine) AS max_excl_rel
       |         FROM win WHERE rank > $pool GROUP BY 1),
       |smin AS (SELECT q_doc, MIN(mmr) AS min_sel_mmr FROM sel GROUP BY 1)
       |SELECT s.q_doc, ROUND(s.min_sel_mmr, 6) AS min_sel_mmr,
       |       e.max_excl_rel,
       |       ROUND($Lambda * e.max_excl_rel, 6) AS excl_mmr_ceiling,
       |       ROUND(s.min_sel_mmr - $Lambda * e.max_excl_rel, 6) AS bound_gap
       |FROM smin s LEFT JOIN excl e ON s.q_doc = e.q_doc""".stripMargin
}
