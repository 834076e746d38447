package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Forecast, Multimodal, Similarity}
import graft.functions.{Sentiment, TextFunctions}

class DedupSpec extends AnyFunSuite {
  import SparkTestSession._

  test("exact dedup: one group per distinct normalized text") {
    val groups = Dedup.exact(spark, sf)
    val docs = Tables.documents(spark, sf).count()
    assert(groups.count() <= docs)
    assert(groups.agg(sum("n_copies")).collect()(0).getLong(0) == docs)
  }

  test("minhash LSH finds the planted near-dup pairs") {
    val pairs = Dedup.minhashNearDups(spark, sf).collect()
    assert(pairs.nonEmpty, "expected planted near-dups at jaccard>=0.7")
    pairs.foreach { r =>
      assert(r.getAs[Double]("jaccard") >= 0.7)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
    // estimate should correlate with exact on high-sim pairs
    pairs.foreach { r =>
      assert(math.abs(r.getAs[Double]("est_jaccard") - r.getAs[Double]("jaccard")) < 0.5)
    }
  }

  test("minhash summary covers every document") {
    val s = Dedup.minhashSummary(spark, sf)
    assert(s.count() == Tables.documents(spark, sf).count())
  }

  test("simhash: declarative bit-vote ≡ SimHashAgg aggregator corpus-wide") {
    // the query-side signature is 64 declarative conditional sums (r18);
    // SimHashAgg stays the pinned reference semantics — every doc must
    // agree between the two constructions
    val simhash = udaf(Dedup.SimHashAgg)
    val viaAgg = Tables.spread(spark, Tables.documents(spark, sf))
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        graft.functions.HashExpressions.poly_token_hash(col("tok")).as("th"))
      .groupBy("doc_id").agg(simhash(col("th")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDecl = Dedup.simhashSignatures(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDecl == viaAgg)
    assert(viaDecl.nonEmpty)
  }

  test("simhash signatures: two constructions share one cache entry") {
    // the r18 regression this pins: udaf encoders resolved per query broke
    // canonicalized sameResult, so every call registered a fresh
    // unpopulated cache entry and the warm touch never helped. The shared
    // artifacts hand out one instance; the builds behind them must still
    // be canonically equal for the per-query caches built on top of them
    val a = Dedup.simhashSignaturesOf(spark, sf).queryExecution.analyzed
    val b = Dedup.simhashSignaturesOf(spark, sf).queryExecution.analyzed
    assert(a.sameResult(b),
      "simhash signature plans must be canonically equal for cache sharing")
    def pairs = Dedup.simhashNearDupsFromSigs(Dedup.simhashSignaturesOf(spark, sf))
    val p = pairs.queryExecution.analyzed
    val q = pairs.queryExecution.analyzed
    assert(p.sameResult(q),
      "simhash pair-set plans must be canonically equal for cache sharing")
  }

  test("top-k heap consumers: two constructions share one cache entry") {
    // the same silent cache-miss class for the bounded-heap family: its
    // typed-Aggregator udaf form was never sameResult across constructions;
    // the native top_k aggregate carries its sort spec as plain data
    val a = graft.operators.TopK.tailKHeap(spark, sf).queryExecution.analyzed
    val b = graft.operators.TopK.tailKHeap(spark, sf).queryExecution.analyzed
    assert(a.sameResult(b),
      "tail-K heap plans must be canonically equal for cache sharing")
    val p = graft.serve.CohortQueries.rankBattery(spark, sf).queryExecution.analyzed
    val q = graft.serve.CohortQueries.rankBattery(spark, sf).queryExecution.analyzed
    assert(p.sameResult(q),
      "rank-battery plans must be canonically equal for cache sharing")
  }

  test("simhash: identical docs get identical signatures, near-dups close") {
    val sigs = Dedup.simhashSignatures(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // near-dup pair from minhash should have small hamming distance
    val pairs = Dedup.minhashNearDups(spark, sf).collect()
    assume(pairs.nonEmpty)
    val close = pairs.count { p =>
      val h = java.lang.Long.bitCount(
        sigs(p.getAs[Long]("doc_a")) ^ sigs(p.getAs[Long]("doc_b")))
      h <= 16
    }
    assert(close >= pairs.length / 2,
      s"only $close/${pairs.length} minhash pairs are simhash-close")
  }

  test("ngram jaccard inverted-index agrees with minhash verify") {
    val nj = Dedup.ngramJaccardPairs(spark, sf, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val mh = Dedup.minhashNearDups(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    // minhash pairs are a subset of brute pairs (LSH can miss, never invent)
    mh.foreach { case (k, j) =>
      assert(nj.contains(k), s"pair $k found by LSH but not by inverted index")
      assert(math.abs(nj(k) - j) < 1e-9)
    }
  }

  test("incremental dedup: exactly the cross-parity near-dup pairs, right orientation") {
    val full = Dedup.minhashNearDups(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val inc = Dedup.minhashNearDupsIncremental(spark, sf).collect()
    inc.foreach { r =>
      val (i, nw) = (r.getAs[Long]("index_id"), r.getAs[Long]("new_id"))
      assert(i % 2 == 0 && nw % 2 == 1, s"orientation wrong: ($i, $nw)")
      // the pair must exist in the full self-join result (canonical order)
      assert(full.contains((math.min(i, nw), math.max(i, nw))))
    }
    // completeness: every cross-parity pair of the full result is found
    val expected = full.count { case (a, b) => a % 2 != b % 2 }
    assert(inc.length == expected, s"got ${inc.length}, expected $expected")
    assert(inc.nonEmpty)
  }

  test("row-local band signatures equal the batch shuffle path exactly") {
    val batch = Dedup.bandedSignatures(Dedup.minhashSignatures(spark, sf))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val rowLocal = Dedup.bandSignatureRows(
      Tables.spread(spark, Tables.documents(spark, sf)), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rowLocal == batch)
  }

  test("streaming dedup probe finds the incremental pairs' bucket collisions") {
    import spark.implicits._
    // static index: even docs' band signatures (what a lake would store)
    val index = Dedup.bandSignatureRows(
      Tables.spread(spark, Tables.documents(spark, sf))
        .filter(col("doc_id") % 2 === 0), "doc_id", "text")
    // stream: odd docs replayed from parquet
    val dir = java.nio.file.Files.createTempDirectory("dedup_stream").toString
    Tables.documents(spark, sf).filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text").write.mode("overwrite").parquet(s"$dir/in")
    val streamIn = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(s"$dir/in")
    val q = Dedup.dedupProbe(streamIn, index)
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_probe_test").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("select distinct index_id, new_id from dedup_probe_test")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every VERIFIED incremental pair must have been a streamed bucket hit
    // (LSH candidates are a superset of verified pairs)
    val verified = Dedup.minhashNearDupsIncremental(spark, sf).collect()
      .map(r => (r.getAs[Long]("index_id"), r.getAs[Long]("new_id"))).toSet
    assume(verified.nonEmpty)
    verified.foreach(p => assert(got.contains(p), s"pair $p not probed"))
  }

  test("stored LSH index: probe of a new batch matches the in-memory incremental path") {
    // write the index table for the even half (what the lake would hold) ...
    val dir = java.nio.file.Files.createTempDirectory("lsh_index").toString
    Dedup.writeLshIndex(spark, sf, s"$dir/index", col("doc_id") % 2 === 0)
    // ... then probe the odd half as a fresh batch: signatures for the batch
    // are row-local, the index side comes ONLY from the stored parquet
    val newBatch = Tables.documents(spark, sf)
      .filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val stored = Dedup.nearDupsFromStoredIndex(spark, sf, s"$dir/index", newBatch)
      .collect().map(r => (r.getAs[Long]("index_id"), r.getAs[Long]("new_id"),
        r.getAs[Double]("jaccard"))).toSet
    val inMem = Dedup.minhashNearDupsIncremental(spark, sf)
      .collect().map(r => (r.getAs[Long]("index_id"), r.getAs[Long]("new_id"),
        r.getAs[Double]("jaccard"))).toSet
    assert(stored.nonEmpty, "stored-index probe found nothing")
    assert(stored == inMem,
      s"stored-index path diverged: only-stored=${stored -- inMem}, only-mem=${inMem -- stored}")
  }

  test("TxTable LSH index: two appends equal one build; re-ingest is idempotent") {
    import graft.serve.TxTable
    val dir = java.nio.file.Files.createTempDirectory("lsh_tx_index").toString
    val path = s"$dir/index"
    // the even half arrives as TWO ingest batches (two atomic commits)
    Dedup.appendLshIndexTx(spark, sf, path, col("doc_id") % 4 === 0)
    Dedup.appendLshIndexTx(spark, sf, path, col("doc_id") % 4 === 2)
    val newBatch = Tables.documents(spark, sf)
      .filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    def probe() = Dedup.nearDupsFromTxIndex(spark, sf, path, newBatch)
      .collect().map(r => (r.getAs[Long]("index_id"), r.getAs[Long]("new_id"),
        r.getAs[Double]("jaccard"))).toSet
    val twoAppends = probe()
    val inMem = Dedup.minhashNearDupsIncremental(spark, sf)
      .collect().map(r => (r.getAs[Long]("index_id"), r.getAs[Long]("new_id"),
        r.getAs[Double]("jaccard"))).toSet
    assert(twoAppends.nonEmpty && twoAppends == inMem,
      s"tx-index probe diverged: only-tx=${twoAppends -- inMem}, only-mem=${inMem -- twoAppends}")
    // re-ingesting one batch (a re-crawl) must upsert, not duplicate:
    // row count per (doc_id, band) stays 1 and the probe is unchanged
    val v = Dedup.appendLshIndexTx(spark, sf, path, col("doc_id") % 4 === 0)
    assert(v == 2L, "third commit")
    val dupCounts = TxTable.read(spark, path)
      .groupBy("doc_id", "band").count().filter(col("count") > 1).count()
    assert(dupCounts == 0L, "re-ingest duplicated index rows")
    assert(probe() == twoAppends)
  }

  test("stored LSH index: a foreign/missing hash-family stamp is refused, never a silent 0-hit probe") {
    // the r16 hash-family switch invalidated every pre-r16 index: its
    // xxhash64 signatures never collide with poly band signatures, so an
    // unguarded probe reads "no near-dups" — false-clean dedup. The
    // _lsh_hash stamp turns that into a loud rebuild instruction (the
    // StreamSample _sample_params precedent).
    val dir = java.nio.file.Files.createTempDirectory("lsh_stamp").toString
    val path = s"$dir/index"
    Dedup.writeLshIndex(spark, sf, path, col("doc_id") % 2 === 0)
    val newBatch = Tables.documents(spark, sf)
      .filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    // stamped by the producer: the probe works
    assert(Dedup.nearDupsFromStoredIndex(spark, sf, path, newBatch).count() > 0)
    // tamper THROUGH the Hadoop FS (a java.nio write would leave the
    // local FS's .crc sidecar describing the old bytes — ChecksumException
    // instead of the guard under test)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    def plantStamp(at: String, family: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(at, "_lsh_hash"), true)
      try out.write((family + "\n").getBytes("UTF-8")) finally out.close()
    }
    // a pre-r16 index has NO stamp — refuse
    assert(fs.delete(new org.apache.hadoop.fs.Path(path, "_lsh_hash"), false))
    val e1 = intercept[IllegalArgumentException] {
      Dedup.nearDupsFromStoredIndex(spark, sf, path, newBatch).count()
    }
    assert(e1.getMessage.contains("pre-r16 xxhash64") &&
      e1.getMessage.contains("rebuild"))
    // a FOREIGN family stamp — refuse naming both families
    plantStamp(path, "xxhash64")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.nearDupsFromStoredIndex(spark, sf, path, newBatch).count()
    }
    assert(e2.getMessage.contains("'xxhash64'") && e2.getMessage.contains("poly-xs"))
    // the Tx producer refuses to APPEND into a foreign-signed table too
    val txPath = s"$dir/txindex"
    Dedup.appendLshIndexTx(spark, sf, txPath, col("doc_id") % 4 === 0)
    plantStamp(txPath, "xxhash64")
    val e3 = intercept[IllegalArgumentException] {
      Dedup.appendLshIndexTx(spark, sf, txPath, col("doc_id") % 4 === 2)
    }
    assert(e3.getMessage.contains("'xxhash64'"))
    // an ABSENT/empty table under a STALE foreign stamp: nothing to
    // protect, so the append must RE-stamp with the current family (r16
    // ADVICE — previously the stale stamp survived the write and every
    // later probe of the now-valid index dead-ended on 'rebuild')
    val stalePath = s"$dir/txindex_stale"
    fs.mkdirs(new org.apache.hadoop.fs.Path(stalePath))
    plantStamp(stalePath, "xxhash64")
    Dedup.appendLshIndexTx(spark, sf, stalePath, col("doc_id") % 4 === 0)
    val in = fs.open(new org.apache.hadoop.fs.Path(stalePath, "_lsh_hash"))
    val stamp = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    assert(stamp == "poly-xs", s"stale stamp not overwritten: '$stamp'")
    assert(Dedup.nearDupsFromTxIndex(spark, sf, stalePath, newBatch).count() > 0)
  }

  test("shingles of short docs fall back to whole text") {
    import spark.implicits._
    val df = Seq((1L, "one two")).toDF("doc_id", "text")
    val sh = df.select(explode(Dedup.shingleArr(col("text"), 3)).as("s")).collect()
    assert(sh.map(_.getString(0)).toSeq == Seq("one two"))
  }

  test("duplicate spans: a planted 20-token run is found at its exact offsets") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dup_spans").toString
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val shared = toks("a", 30).slice(5, 25) // a5..a24 — 20 tokens
    Seq(
      (1L, toks("a", 30).mkString(" ")),
      (2L, (toks("x", 10) ++ shared ++ toks("y", 10)).mkString(" ")),
      (3L, toks("z", 40).mkString(" ")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.duplicateSpans(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // one span: doc1[5..24] == doc2[10..29]; nothing else reaches 12 tokens
    assert(got.toSeq == Seq((1L, 2L, 5L, 10L, 20L)), s"got ${got.toSeq}")
  }

  test("span scrub removes exactly the planted range from the larger-id doc") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scrub_spans").toString
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val shared = toks("a", 30).slice(5, 25)
    Seq(
      (1L, toks("a", 30).mkString(" ")),
      (2L, (toks("x", 10) ++ shared ++ toks("y", 10)).mkString(" ")),
      (3L, toks("z", 40).mkString(" ")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.scrubSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L)._1 == 30 && got(1L)._2 == 30, "kept doc must be untouched")
    assert(got(3L)._1 == 40 && got(3L)._2 == 40)
    assert(got(2L) == ((40L, 20L,
      // doc 2 keeps its unique prefix+suffix, shared middle removed
      java.security.MessageDigest.getInstance("MD5")
        .digest((toks("x", 10) ++ toks("y", 10)).mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)))
  }

  test("duplicate spans on the corpus: real near-dups surface, invariants hold") {
    val rows = Dedup.duplicateSpans(spark, sf).collect()
    assert(rows.nonEmpty, "expected the seeded near-dup docs to share spans")
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("span_tokens") >= 12L)
      assert(r.getAs[Long]("a_start") >= 0L && r.getAs[Long]("b_start") >= 0L)
    }
  }
}

class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession._

  test("brute-force topk matches driver-side exact computation") {
    val got = Similarity.bruteForceTopK(spark, sf, nQueries = 3, k = 3).collect()
      .groupBy(_.getAs[Long]("q_id"))
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for (q <- Seq(0L, 1L, 2L)) {
      val expected = emb.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(emb(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
      val gotIds = got(q).sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("vec_id")).toSeq
      assert(gotIds == expected, s"query $q: $gotIds vs $expected")
    }
  }

  test("hard negatives: label-mismatched only, exact top-k vs driver recomputation") {
    val got = Similarity.hardNegatives(spark, sf, nQueries = 3, k = 3).collect()
    val rows = Tables.embeddings(spark, sf).collect().map(r =>
      (r.getAs[Long]("vec_id"),
        r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getAs[Number]("label").intValue))
    val byId = rows.map(t => t._1 -> t).toMap
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val den = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      BigDecimal(if (den == 0.0) 0.0 else d / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    got.foreach { r =>
      assert(byId(r.getAs[Long]("vec_id"))._3 != r.getAs[Number]("q_label").intValue,
        "a hard negative must carry a different label")
    }
    val byQ = got.groupBy(_.getAs[Long]("q_id"))
    for (q <- Seq(0L, 1L, 2L)) {
      val (_, qe, ql) = byId(q)
      val expected = rows.filter(_._3 != ql)
        .map { case (id, v, _) => (id, cos6(qe, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSeq
      val gotIds = byQ(q).sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Long]("vec_id")).toSeq
      assert(gotIds == expected, s"query $q: $gotIds vs $expected")
    }
  }

  test("label-noise audit: deterministic majority vote, suspect iff majority differs") {
    val k = 7
    val got = Similarity.labelNoiseKnn(spark, sf, nQueries = 5, k = k).collect()
    assert(got.length == 5)
    val rows = Tables.embeddings(spark, sf).collect().map(r =>
      (r.getAs[Long]("vec_id"),
        r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getAs[Number]("label").intValue))
    val byId = rows.map(t => t._1 -> t).toMap
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val den = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      BigDecimal(if (den == 0.0) 0.0 else d / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    got.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val (_, qe, ql) = byId(q)
      val nbrs = rows.filter(_._1 != q)
        .map { case (id, v, l) => (id, cos6(qe, v), l) }
        .sortBy { case (id, c, _) => (-c, id) }.take(k)
      val counts = nbrs.groupBy(_._3).map { case (l, xs) => (l, xs.length) }
      val (majLabel, majCnt) = counts.toSeq.minBy { case (l, c) => (-c, l) }
      assert(r.getAs[Number]("q_label").intValue == ql)
      assert(r.getAs[Number]("majority_label").intValue == majLabel, s"q=$q")
      assert(r.getAs[Long]("majority_count") == majCnt.toLong)
      assert(r.getAs[Long]("n_agree") == counts.getOrElse(ql, 0).toLong)
      assert(r.getAs[Boolean]("suspect") == (majLabel != ql))
    }
  }

  test("brute-force re-rank plan: bounded heap, no single-partition window sort") {
    // the 100× criterion for the brute tier: the per-query re-rank must be
    // the map-side-combinable top-k aggregate (partial + final
    // ObjectHashAggregate, ≤ k rows shuffled per partition per query) —
    // never row_number() over (partition by q_id), which hashes every
    // scored corpus row of a query into ONE partition and full-sorts it
    val p = Similarity.bruteForceTopK(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"brute re-rank regressed to a per-q_id window sort:\n$p")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"),
      s"expected a partial-aggregable bounded-heap re-rank:\n$p")
  }

  test("lsh topk returns plausible neighbors (subset quality)") {
    val brute = Similarity.bruteForceTopK(spark, sf, nQueries = 10, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Double]("cosine")).max }
    val lsh = Similarity.lshTopK(spark, sf, nQueries = 10, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
    assert(lsh.nonEmpty, "LSH returned no candidates at all")
    // every LSH cosine must be <= the brute-force best (it's a subset)
    lsh.foreach { case (q, rs) =>
      rs.foreach(r => assert(r.getAs[Double]("cosine") <= brute(q) + 1e-9))
    }
  }

  test("quantized topk: high recall vs exact, coherent shape, no corpus shuffle") {
    // 8-bit scalar quantization preserves cosine order well at this dim —
    // the two-stage search must recover most of the exact top-k, and the
    // recall audit query must agree with a direct comparison
    val exact = Similarity.bruteForceTopK(spark, sf, nQueries = 10, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val quant = Similarity.quantizedTopK(spark, sf, nQueries = 10, k = 5).collect()
    val byQ = quant.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet == exact.keySet, "every query must answer")
    byQ.foreach { case (_, rs) =>
      assert(rs.length == 5)
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3, 4, 5))
      // exact re-rank: reported cosines are true cosines, so they are
      // bounded by the query's exact best
    }
    val hits = exact.map { case (q, t) =>
      (byQ(q).map(_.getAs[Long]("vec_id")).toSet & t).size }.sum
    val total = exact.map(_._2.size).sum
    assert(hits.toDouble / total >= 0.8,
      s"quantized recall collapsed: $hits/$total")
    // the registered audit query reports the same per-query hit counts
    val audited = Similarity.quantizedRecall(spark, sf, nQueries = 10, k = 5)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_hits")).toMap
    exact.foreach { case (q, t) =>
      assert(audited(q) == (byQ(q).map(_.getAs[Long]("vec_id")).toSet & t).size.toLong)
    }
    // scale shape: queries broadcast into both stages; the corpus never
    // sort-merge-joins or hashes itself across the wire for the search
    val p = Similarity.quantizedTopK(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the search:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries/candidates must broadcast:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"both rank stages must be bounded-heap aggregates:\n$p")
    assert(!p.contains("Window"), s"no window re-rank in the quantized tier:\n$p")
  }

  test("fused carried-embedding rerank ≡ compositional two-stage reference (r19)") {
    // the r19 fusion folds stage 2 (exact re-rank) into the stage-1 pass by
    // carrying survivor embeddings through the heap — this pin recomputes
    // the DECLARED two-stage semantics (window top-m by stage-1 score, then
    // window top-k by exact rounded cosine, both with vec_id tiebreaks)
    // driver-side and asserts full-output equality, corpus-wide, for both
    // fused tiers (int8 scalar and PQ). The stored-index pins cover the
    // same equality against the still-compositional stored tail.
    import org.apache.spark.sql.Row
    val rows = Tables.embeddings(spark, sf).collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getSeq[Float](1).map(_.toDouble).toArray))
    val byId = rows.toMap
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val den = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      BigDecimal(if (den == 0.0) 0.0 else d / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def reference(stage1: (Array[Double], Array[Double]) => Double,
        nQueries: Int, k: Int, m: Int): Seq[(Long, Int, Long, Double)] =
      (0L until nQueries).flatMap { q =>
        val qe = byId(q)
        val cands = rows.filter(_._1 != q)
          .map { case (id, v) => (id, stage1(qe, v)) }
          .sortBy { case (id, s) => (-s, id) }.take(m).map(_._1)
        cands.map(id => (id, cos6(qe, byId(id))))
          .sortBy { case (id, c) => (-c, id) }.take(k).zipWithIndex
          .map { case ((id, c), i) => (q, i + 1, id, c) }
      }
    def key(r: Row) = (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
      r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))
    // int8 scalar tier: stage-1 = integer dot over the quantized codes
    val dims = rows.head._2.indices
    val lows = dims.map(i => rows.map(_._2(i)).min)
    val his = dims.map(i => rows.map(_._2(i)).max)
    def code(v: Double, i: Int): Long =
      if (his(i) == lows(i)) 0L
      else BigDecimal((v - lows(i)) / (his(i) - lows(i)) * 255)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong - 128L
    def intDot(a: Array[Double], b: Array[Double]): Double =
      dims.map(i => code(a(i), i) * code(b(i), i)).sum.toDouble
    val quantGot = Similarity.quantizedTopK(spark, sf, nQueries = 10, k = 5, m = 20)
      .collect().map(key).sorted.toSeq
    assert(quantGot == reference(intDot, 10, 5, 20).sorted,
      "fused quantized search drifted from the two-stage reference")
    // PQ tier: stage-1 = rounded ADC over the seeded codebooks
    val c = Tables.embeddings(spark, sf).selectExpr("vec_id", "label",
      "cast(embedding as array<double>) as emb")
    val cb = Similarity.seededCodebooks(c, 16)
    val sub = cb.head.head.length
    def adc(qe: Array[Double], v: Array[Double]): Double = {
      val codes = (0 until 16).map { s =>
        cb(s).zipWithIndex.map { case (w, ci) =>
          val d2 = w.indices.map(j => {
            val d = v(s * sub + j) - w(j); d * d }).sum
          (BigDecimal(d2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, ci)
        }.minBy { case (d2, ci) => (d2, ci) }._2
      }
      val raw = (0 until 16).map(s =>
        (0 until sub).map(j => qe(s * sub + j) * cb(s)(codes(s))(j)).sum).sum
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val pqGot = Similarity.pqSearch(c, cb, 10, 5, 20).collect().map(key).sorted.toSeq
    assert(pqGot == reference(adc, 10, 5, 20).sorted,
      "fused PQ search drifted from the two-stage reference")
  }

  test("pq topk: audited recall vs exact, exact re-rank, no corpus shuffle") {
    // 16-subspace product codes over label-seeded codebooks: far coarser
    // than int8 scalar (≈8 B/vector vs 64), so the floor is lower — the
    // registered recall audit is the design's honesty contract
    val exact = Similarity.bruteForceTopK(spark, sf, nQueries = 10, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val pq = Similarity.pqTopK(spark, sf, nQueries = 10, k = 5).collect()
    val byQ = pq.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet == exact.keySet, "every query must answer")
    byQ.foreach { case (_, rs) =>
      assert(rs.length == 5)
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3, 4, 5))
    }
    val hits = exact.map { case (q, t) =>
      (byQ(q).map(_.getAs[Long]("vec_id")).toSet & t).size }.sum
    val total = exact.map(_._2.size).sum
    assert(hits.toDouble / total >= 0.5,
      s"pq recall collapsed below its measured band: $hits/$total")
    // stage 2 is EXACT: every reported cosine is a true cosine, bounded by
    // the query's brute-force best
    val best = Similarity.bruteForceTopK(spark, sf, nQueries = 10, k = 1)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cosine")).toMap
    byQ.foreach { case (q, rs) =>
      rs.foreach(r => assert(r.getAs[Double]("cosine") <= best(q) + 1e-9))
    }
    // the registered audit agrees with the direct comparison
    val audited = Similarity.pqRecall(spark, sf, nQueries = 10, k = 5)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_hits")).toMap
    exact.foreach { case (q, t) =>
      assert(audited(q) == (byQ(q).map(_.getAs[Long]("vec_id")).toSet & t).size.toLong)
    }
    // scale shape: codebooks are plan literals (zero joins for encoding),
    // queries/candidates broadcast, both rank stages are bounded heaps
    val p = Similarity.pqTopK(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the search:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries/candidates must broadcast:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"both rank stages must be bounded-heap aggregates:\n$p")
    assert(!p.contains("Window"), s"no window re-rank in the pq tier:\n$p")
  }

  test("pq train: quantization error non-increasing, trained search holds the floor") {
    val stats = Similarity.pqTrain(spark, sf).collect().sortBy(_.getInt(0))
    assert(stats.map(_.getInt(0)).toSeq == (0 to 3))
    val qes = stats.map(_.getAs[Double]("qe"))
    qes.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-6, s"Lloyd qe increased: ${qes.toSeq}")
    }
    assert(qes.last < qes.head, "training should actually refine the seeded codebooks")
    // the registered invariant query agrees
    val inv = graft.operators.Invariants.pqTrainMonotone(spark, sf).collect()
    assert(inv.forall(_.getBoolean(1)))
    // trained search: every query answers, k rows each, recall no worse
    // than the seeded tier's asserted floor
    val exact = Similarity.bruteForceTopK(spark, sf, nQueries = 10, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val trained = Similarity.pqTopKTrained(spark, sf, nQueries = 10, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
    assert(trained.keySet == exact.keySet)
    trained.foreach { case (_, rs) => assert(rs.length == 5) }
    val hits = exact.map { case (q, t) =>
      (trained(q).map(_.getAs[Long]("vec_id")).toSet & t).size }.sum
    assert(hits.toDouble / exact.map(_._2.size).sum >= 0.5,
      s"trained pq recall below the seeded floor: $hits")
  }

  test("ivf assign: every vector assigned, cos to centroid in [-1,1]") {
    val a = Similarity.ivfAssign(spark, sf).collect()
    assert(a.length == Tables.embeddings(spark, sf).count())
    a.foreach { r =>
      val c = r.getAs[Double]("cos_to_centroid")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    }
  }

  test("ivf nprobe: recall vs brute force non-decreasing in probed cells") {
    val truth = Similarity.bruteForceTopK(spark, sf, nQueries = 10, k = 5).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    def recall(np: Int): Double = {
      val got = Similarity.ivfTopK(spark, sf, nQueries = 10, k = 5, nprobe = np)
        .collect().groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
      truth.map { case (q, t) => (got.getOrElse(q, Set.empty[Long]) & t).size }.sum
        .toDouble / truth.map(_._2.size).sum
    }
    val r1 = recall(1)
    val r2 = recall(2)
    assert(r2 >= r1 - 1e-9, s"recall regressed with more probes: $r1 -> $r2")
    assert(r2 > 0.0, "nprobe=2 found nothing")
  }

  test("ivf train: Lloyd SSE is non-increasing across iterations") {
    val rows = Similarity.ivfTrain(spark, sf, iters = 3).collect()
      .sortBy(_.getAs[Int]("iter"))
    assert(rows.length == 4) // seed + 3 refinements
    val sses = rows.map(_.getAs[Double]("sse"))
    sses.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-6, s"SSE increased: $a -> $b (${sses.toSeq})")
    }
    assert(rows.head.getAs[Long]("n_moved") == 0L)
  }

  test("embedding near-dup summary: one row per vector, top-1 symmetrical bound") {
    val s = Similarity.embeddingNearDupSummary(spark, sf).collect()
    assert(s.length == Tables.embeddings(spark, sf).count())
    s.foreach(r => assert(r.getAs[Long]("nearest_id") != r.getAs[Long]("vec_id")))
  }

  test("semantic dedup: pair-connected vectors share a cluster, keep marks the min") {
    // the primary operator is CELL-SCOPED — its connectivity contract is
    // over the within-cell pair graph; the exact-graph contract moves to
    // the semanticDedupExact twin below
    val pairs = Similarity.cellPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty, "threshold should yield edges on this corpus")
    assert(pairs.forall { case (a, b) => a < b })
    val labels = Similarity.semanticDedup(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
    assert(labels.size == Tables.embeddings(spark, sf).count())
    pairs.foreach { case (a, b) =>
      assert(labels(a)._1 == labels(b)._1, s"pair ($a,$b) split across clusters")
    }
    labels.foreach { case (id, (cl, keep)) =>
      assert(cl <= id, "cluster id must be the component minimum")
      assert(keep == (cl == id))
    }
    // every cluster's representative is a member that keeps itself
    labels.values.map(_._1).toSet.foreach { cl: Long => assert(labels(cl)._1 == cl) }
  }

  test("semantic dedup exact twin: exact-pair-connected vectors share a cluster") {
    val pairs = Similarity.embeddingPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty)
    val labels = Similarity.semanticDedupExact(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"exact pair ($a,$b) split across clusters")
    }
  }

  test("semantic probe: cross-half pairs only, subset of the exact graph") {
    val probe = Similarity.semanticProbe(spark, sf).collect()
    assert(probe.nonEmpty, "fixture plants cross-half embedding near-dups")
    val exact = Similarity.embeddingPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        -> r.getAs[Double]("cosine")).toMap
    probe.foreach { r =>
      val (i, nw) = (r.getAs[Long]("index_id"), r.getAs[Long]("new_id"))
      assert(i % 2 == 0 && nw % 2 == 1, s"($i,$nw) not an index×batch pair")
      val key = (math.min(i, nw), math.max(i, nw))
      // every probe hit is a true exact pair with the identical cosine
      assert(exact.get(key).contains(r.getAs[Double]("cosine")),
        s"probe pair $key not in the exact graph with matching cosine")
    }
  }

  test("rp matrix: deterministic, ±1, roughly balanced") {
    val entries = for (i <- 0 until Similarity.Dim; j <- 0 until Similarity.RpDim)
      yield Similarity.rpEntry(i, j)
    assert(entries.forall(e => e == 1.0 || e == -1.0))
    assert(entries == entries.map(identity), "stateless determinism")
    val plus = entries.count(_ == 1.0).toDouble / entries.size
    assert(plus > 0.4 && plus < 0.6, s"md5 parity should be near-balanced: $plus")
  }

  test("rp search degenerates to exact brute force when the pool covers the corpus") {
    // with m ≥ N the stage-1 cut keeps everything, so the exact re-rank
    // IS the brute-force ranking — the projection cannot lose anything
    val n = Tables.embeddings(spark, sf).count().toInt
    val rp = Similarity.rpTopK(spark, sf, m = n + 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    val brute = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    assert(rp.nonEmpty && rp.toSeq == brute.toSeq)
  }

  test("rp recall audit: total coverage, bounded hits, honest under a thin pool") {
    val got = Similarity.rpRecall(spark, sf, m = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 20, "every query reports, even at zero overlap")
    assert(got.values.forall(h => h >= 0 && h <= 5))
  }

  test("scratch index paths distinguish same-basename corpora") {
    // /a/corpus and /b/corpus share a basename; without the abs-path tag
    // the second build overwrites the first index while the first memo
    // entry keeps pointing at it — probe answers silently swap corpora
    var built = List.empty[String]
    val a = Similarity.scratchIndexPath("graft_test_scratch", "/tmp/same_base_a/corpus")(p => built ::= p)
    val b = Similarity.scratchIndexPath("graft_test_scratch", "/tmp/same_base_b/corpus")(p => built ::= p)
    assert(a != b, "same-basename corpora must land on distinct index paths")
    assert(built.toSet == Set(a, b), "build must receive the returned path")
  }

  test("semantic probe stored index: persisted layout reproduces the in-memory probe") {
    // the stored/in-memory symmetry contract: writing the IVF layout to a
    // TxTable and probing THAT must yield bit-identical pairs to the
    // in-memory simulation (doubles round-trip parquet exactly; the
    // centroid ranking is the single-sourced nearestCells order)
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.writeIvfIndex(spark, sf, path)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("index_id"), r.getAs[Long]("new_id"), r.getAs[Double]("cosine"))
    val stored = Similarity.semanticProbeStored(spark, sf, path).collect().map(key).sorted
    val memory = Similarity.semanticProbe(spark, sf).collect().map(key).sorted
    assert(stored.nonEmpty && stored.toSeq == memory.toSeq)
    // and the probe never recomputes index-side assignments: its plan reads
    // the stored cell table, so no index-half centroid cross-join appears —
    // exactly one crossJoin (the BATCH × centroids routing) survives
    val plan = Similarity.semanticProbeStored(spark, sf, path)
      .queryExecution.executedPlan.toString
    val nlJoins = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(nlJoins <= 1, s"index-side state must come from the stored table:\n$plan")
  }

  test("pq stored index: persisted codes reproduce the inline search exactly") {
    // same stored/inline symmetry as the IVF probe: codebooks + codes
    // written to TxTable and searched THROUGH the shared ADC/re-rank path
    // must be bit-identical to the inline pqTopK (ints and doubles
    // round-trip parquet exactly; the search code path is single-sourced
    // in pqSearchOverCodes) — which is why q_ann_pq_stored carries the
    // IDENTICAL pqTopKSql oracle
    val path = java.nio.file.Files.createTempDirectory("pq_idx").toString
    Similarity.writePqIndex(spark, sf, path)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))
    val stored = Similarity.pqTopKStored(spark, sf, path).collect().map(key).sorted
    val inline = Similarity.pqTopK(spark, sf).collect().map(key).sorted
    assert(stored.nonEmpty && stored.toSeq == inline.toSeq)
    // and the stored search never re-encodes the corpus: the encode
    // kernel (fused pq_encode, or its historical squared_dist-argmin
    // form) may not appear in its plan — codes come from the persisted
    // table
    val plan = Similarity.pqTopKStored(spark, sf, path)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("pq_encode") && !plan.contains("squared_dist"),
      s"stored search must not re-encode the corpus:\n$plan")
  }

  test("pq incremental append: merged batch codes equal a full encode; replay idempotent") {
    // the per-ingest contract: index built over the even half (codebooks
    // frozen from its labels), the odd half arrives later and is encoded
    // UNDER THE PERSISTED codebooks + MERGEd keyed vec_id. Search over
    // the assembled index must equal the inline search under the same
    // frozen codebooks with every code computed in one shot — and a
    // producer-retry replay of the same batch must change nothing.
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"), col("label"))
    val evens = vecs.filter(col("vec_id") % 2 === 0)
    val odds = vecs.filter(col("vec_id") % 2 === 1)
    val path = java.nio.file.Files.createTempDirectory("pq_inc").toString
    Similarity.writePqIndexOf(spark, evens, path)
    Similarity.appendPqCodes(spark, odds, path)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))
    val assembled = Similarity.pqTopKStored(spark, sf, path).collect().map(key).sorted
    // inline reference: same even-seeded codebooks, all codes in one shot
    val cbEven = Similarity.seededCodebooks(evens, 16)
    val oneShot = Similarity.pqSearch(vecs, cbEven, 20, 5, 50)
      .collect().map(key).sorted
    assert(assembled.nonEmpty && assembled.toSeq == oneShot.toSeq)
    // replay: the same append again — same rows, one per vec_id
    Similarity.appendPqCodes(spark, odds, path)
    val replayed = Similarity.pqTopKStored(spark, sf, path).collect().map(key).sorted
    assert(replayed.toSeq == assembled.toSeq)
    val codes = graft.serve.TxTable.read(spark, s"$path/codes")
    assert(codes.count() == codes.select("vec_id").distinct().count(),
      "replayed append must not duplicate code rows")
    assert(codes.count() == vecs.count())
  }

  test("semantic dedup plan: cell-scoped, no cartesian tile grid anywhere") {
    // the 100× criterion: the primary operator's pair generation must be
    // the one cell-keyed shuffle, never the O(N²) CartesianProduct grid
    // (and never a corpus-side BroadcastNestedLoopJoin beyond the k×dim
    // centroid broadcast — which compiles to BroadcastNestedLoopJoin over
    // a tiny 5-row build side, so we pin the cartesian away and pin the
    // pair kernel's SortAggregate/ObjectHashAggregate cell grouping in)
    // pin the IMPL plan — the memoized wrapper may resolve to a cached
    // scan, which would make the assertion vacuous
    val p = Similarity.cellPairsImpl(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"cell-scoped pair generation regressed to the N² grid:\n$p")
  }

  test("adaptive semantic dedup: √N seeds, same component contract, no cartesian") {
    // k follows the corpus size: ⌈√N⌉ with a floor of 2
    assert(Similarity.adaptiveK(0L) == 2 && Similarity.adaptiveK(4L) == 2 &&
      Similarity.adaptiveK(5L) == 3 && Similarity.adaptiveK(10000L) == 100)
    val n = Tables.embeddings(spark, sf).count()
    val pairs = Similarity.adaptiveCellPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty, "strided seeds should still scope real near-dup pairs")
    assert(pairs.forall { case (a, b) => a < b })
    // the scoping never invents pairs: every adaptive pair is a true exact
    // pair (the kernel is the shared withinCellPairs sweep, so cosines and
    // the threshold are identical by construction)
    val exact = Similarity.embeddingPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    pairs.foreach(p => assert(exact.contains(p), s"adaptive pair $p not exact"))
    // component contract, same as the fixed-k primary
    val labels = Similarity.semanticDedupAdaptive(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
    assert(labels.size == n)
    pairs.foreach { case (a, b) =>
      assert(labels(a)._1 == labels(b)._1, s"pair ($a,$b) split across clusters")
    }
    labels.foreach { case (id, (cl, keep)) => assert(cl <= id && keep == (cl == id)) }
    // plan pin on the un-memoized impl: the pair generation is the one
    // cell-keyed shuffle — the N² CartesianProduct grid must never appear
    val p = Similarity.adaptiveCellPairsImpl(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"adaptive pair generation regressed to the N² grid:\n$p")
  }

  test("semantic cell recall: every shared-cell exact pair is found with equal cosine") {
    val rows = Similarity.semanticCellRecall(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("found_by_cells") == r.getAs[Boolean]("shares_cell"),
        s"recall contract broken at (${r.getAs[Long]("doc_a")},${r.getAs[Long]("doc_b")})")
    }
    // the approximation must actually find something on this corpus
    assert(rows.exists(_.getAs[Boolean]("found_by_cells")))
  }

  test("embedding near-dup: block count does not change the exact result") {
    val a = Similarity.embeddingNearDupSummary(spark, sf, nBlocks = 3)
      .collect().map(_.toString).sorted
    val b = Similarity.embeddingNearDupSummary(spark, sf, nBlocks = 8)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("embedding near-dup plan: shuffle-replicated block grid, no driver-side corpus") {
    // the de-weaked scale shape: the B×B tile grid must come from a
    // CartesianProduct over SHUFFLED block rows — a BroadcastNestedLoopJoin
    // would mean the whole corpus is materialized on the driver again
    val p = Similarity.embeddingNearDupSummary(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("CartesianProduct"), s"block grid missing:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"corpus broadcast reintroduced the driver wall:\n$p")
  }

  test("centroid outliers: moments match a hand recompute; flags consistent") {
    val scored = Similarity.ownCentroidScored(spark, sf)
      .select("label", "cos_own", "z").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(scored.nonEmpty)
    // recompute one label's moments from the per-vector cosines (exact
    // decimal sums, same IEEE sequence as the operator)
    val lbl = scored.head._1
    val xs = scored.filter(_._1 == lbl).map(_._2)
    val s1 = xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
    val s2 = xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).pow(2)).sum
    val n = xs.length
    val mu = s1.toDouble / n
    val sd = math.sqrt((s2.toDouble - s1.toDouble * s1.toDouble / n) / (n - 1))
    val stats = Similarity.centroidOutlierStats(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toMap
    val (gn, gmu, gsd, _) = stats(lbl)
    assert(gn == n.toLong)
    assert(gmu == BigDecimal(mu).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(gsd == BigDecimal(sd).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // every flagged row is ≥2 sd BELOW its label mean, and counts agree
    val flagged = Similarity.centroidOutliers(spark, sf).collect()
    flagged.foreach { r =>
      assert(r.getAs[Double]("z") <= -2.0)
      val (_, m, s, _) = stats(r.getAs[Int]("label"))
      assert(r.getAs[Double]("cos_own") < m - 1.9 * s)
    }
    val perLabel = flagged.groupBy(_.getAs[Int]("label")).view.mapValues(_.length.toLong)
    stats.foreach { case (l, (_, _, _, nOut)) =>
      assert(perLabel.getOrElse(l, 0L) == nOut, s"label $l outlier count drift")
    }
  }

  test("centroid outliers: z-scores standardized (mean ~0, unit-ish spread) per label") {
    val scored = Similarity.ownCentroidScored(spark, sf)
      .groupBy("label")
      .agg(avg("z").as("mz"), stddev_samp("z").as("sz"))
      .collect()
    scored.foreach { r =>
      assert(math.abs(r.getAs[Double]("mz")) < 0.01, s"z mean off: $r")
      assert(math.abs(r.getAs[Double]("sz") - 1.0) < 0.05, s"z spread off: $r")
    }
  }
}

class LmScoreSpec extends AnyFunSuite {
  import SparkTestSession._

  test("bigram LM scores: one row per doc, scores negative, in-distribution beats gibberish") {
    val s = graft.operators.LmScore.bigramScores(spark, sf).collect()
    assert(s.length == Tables.documents(spark, sf).count())
    s.foreach { r =>
      assert(r.getAs[Double]("avg_log2p") < 0.0, "log-probs must be negative")
      assert(r.getAs[Int]("n_bigrams") > 0)
    }
    // the filter's purpose: corpus-typical text scores higher than text the
    // model has barely seen. The corpus is word-soup over a 31-token
    // vocabulary, so its own docs must sit far above the uniform floor
    // log2(1/(c_a + V)) that unseen bigrams score
    val mean = s.map(_.getAs[Double]("avg_log2p")).sum / s.length
    assert(mean > -10.0, s"in-distribution text scored near the unseen floor: $mean")
  }

  test("lm score caches the model aggregates, not the exploded bigram corpus") {
    // the cached footprint must be the KB-scale model (cab / vocab), never
    // the O(total characters) exploded bigram stream (the old shape — it
    // was the engine's largest cache); the probe side re-reads the corpus
    val df = graft.operators.LmScore.bigramScores(spark, sf)
    df.queryExecution.toRdd.count() // materialize the model caches
    val rels = graft.operators.LmScore.bigramScores(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
    assert(rels.nonEmpty, "model tables should be cached")
    rels.foreach { r =>
      val cols = r.output.map(_.name).toSet
      assert(!cols.contains("doc_id"),
        s"cached relation carries the exploded corpus (cols=$cols)")
    }
    val bytes = rels.map(_.computeStats().sizeInBytes.toLong).sum
    assert(bytes < (1L << 20), s"model cache unexpectedly large: $bytes bytes")
  }

  test("bigram-count kernel ≡ explode + groupBy, corpus-wide and on unicode edges") {
    import spark.implicits._
    // adversarial rows exercise the code-point walk: surrogate pairs (one
    // character to substr/length AND to the kernel), combining marks,
    // empty / single-char / whitespace-only, repeated bigrams
    val edges = Seq(
      (9001L, "xx", "aba babab"), (9002L, "xx", ""), (9003L, "xx", "q"),
      (9004L, "xx", "  \t "), (9005L, "xx", "a😀b😀"),
      (9006L, "xx", "éée"), (9007L, "xx", "ababababab"))
      .toDF("doc_id", "lang", "text")
    val docs = Tables.spread(spark, Tables.documents(spark, sf))
      .select("doc_id", "lang", "text").unionByName(edges)
    val norm = docs.select(col("doc_id"), col("lang"),
      graft.functions.TextFunctions.normText(col("text")).as("s"))
    val viaKernel = norm.select(col("doc_id"), col("lang"),
        explode(graft.operators.LmScore.bigramCounts(col("s"))).as("kv"))
      .select(col("doc_id"), col("lang"),
        col("kv._1").as("bg"), col("kv._2").as("c"))
    val viaExplode = norm.select(col("doc_id"), col("lang"),
        explode(when(length(col("s")) >= 2,
          transform(sequence(lit(1), length(col("s")) - 1),
            i => col("s").substr(i, lit(2))))
          .otherwise(array().cast("array<string>"))).as("bg"))
      .groupBy("doc_id", "lang", "bg").agg(count(lit(1)).as("c"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getString(1), r.getString(2))
    val a = viaKernel.collect().map(r => key(r) -> r.getLong(3)).toMap
    val b = viaExplode.collect().map(r => key(r) -> r.getLong(3)).toMap
    assert(a == b, {
      val onlyA = a.keySet -- b.keySet; val onlyB = b.keySet -- a.keySet
      val diff = (a.keySet & b.keySet).filter(k => a(k) != b(k))
      s"kernel/explode disagree: onlyKernel=${onlyA.take(5)} " +
        s"onlyExplode=${onlyB.take(5)} countDiff=${diff.take(5)}"
    })
    assert(a.nonEmpty)
    // distinct-chars kernel ≡ array_distinct(split(s, "")) on the SAME
    // adversarial corpus — element order included (array equality), since
    // both contracts are first-occurrence order; split("") on the empty
    // string yields [""] and the kernel must too
    val viaChars = norm.select(col("doc_id"),
      graft.functions.LmExpressions.distinct_chars(col("s")).as("cs"))
    val viaSplit = norm.select(col("doc_id"),
      array_distinct(split(col("s"), "")).as("cs"))
    val ca2 = viaChars.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    val cb2 = viaSplit.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    assert(ca2 == cb2, {
      val bad = ca2.keySet.filter(k => ca2(k) != cb2.getOrElse(k, Vector()))
      s"distinct-chars/split disagree on docs ${bad.take(5)}"
    })
  }
}

class TextEmbedSpec extends AnyFunSuite {
  import SparkTestSession._

  test("feature-hash embeddings: one unit vector per token-bearing doc") {
    val rows = graft.operators.TextEmbed.embeddings(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0).count()
    assert(rows.length.toLong == nDocs)
    rows.foreach { r =>
      val emb = r.getAs[scala.collection.Seq[Double]]("emb")
      assert(emb.length == graft.operators.TextEmbed.Dim)
      val n2 = emb.map(x => x * x).sum
      assert(r.getAs[Double]("nrm") == 0.0 || math.abs(n2 - 1.0) < 1e-9,
        s"embedding not unit-norm: $n2")
    }
  }

  test("identical texts embed identically; near-dup search is self-consistent") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val embs = graft.operators.TextEmbed.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Double]]("emb").toVector).toMap
    // exact-dup texts (same normalized token stream) must collide exactly
    val byText = docs.groupBy { case (_, t) =>
      graft.functions.TextFunctions.normString(t)
    }.values.filter(_.size > 1)
    byText.foreach { grp =>
      val vecs = grp.keys.flatMap(embs.get).toSeq
      assert(vecs.distinct.size <= 1, "identical texts embedded differently")
    }
    // top-1 of each query in the composed search scores >= its rank-5
    val tk = graft.operators.TextEmbed.textNearDupTopK(spark, sf).collect()
    tk.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      val byRank = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("text LSH through the generalized tier: candidates bounded by the exact search") {
    // the approximate path can only surface TRUE cosines from a candidate
    // subset — every LSH hit must score <= the exact search's top-1 for
    // that query, and its top hit should usually BE the exact top-1
    val exactTop1 = graft.operators.TextEmbed.textNearDupTopK(spark, sf)
      .filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cosine")).toMap
    val lsh = graft.operators.TextEmbed.textLshTopK(spark, sf).collect()
    assert(lsh.nonEmpty, "LSH search found nothing on this corpus")
    lsh.foreach { r =>
      assert(r.getAs[Double]("cosine") <= exactTop1(r.getAs[Long]("q_id")) + 1e-9)
    }
    val agree = lsh.filter(r => r.getAs[Int]("rank") == 1)
      .count(r => r.getAs[Double]("cosine") == exactTop1(r.getAs[Long]("q_id")))
    assert(agree > 0, "LSH top-1 never matched the exact top-1")
  }
}

class CachesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("Caches.clear releases cached plans and memoized artifacts; queries rebuild") {
    // populate: a cached pipeline + a memoized checkpoint-rooted artifact
    val before = Dedup.minhashNearDups(spark, sf).count()
    val train = Similarity.ivfTrain(spark, sf).collect()
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(Artifacts.usage(spark).nonEmpty)
    Caches.clear(spark)
    assert(spark.sharedState.cacheManager.isEmpty, "cached plans survived clear")
    // the accounting goes too: a long-lived session's key set stays bounded
    assert(Artifacts.usage(spark).isEmpty, "artifact accounting survived clear")
    // memo dropped: a fresh call rebuilds (new DataFrame identity) and the
    // results are unchanged — clear is a release hook, not a semantic event
    val train2 = Similarity.ivfTrain(spark, sf).collect()
    assert(train2.map(_.toString).sorted.sameElements(train.map(_.toString).sorted))
    assert(Dedup.minhashNearDups(spark, sf).count() == before)
  }
}

class TextSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("token count edge cases") {
    val df = Seq("", "  ", "one", "one two  three", "\ttab\nnewline ").toDF("t")
    val got = df.select(TextFunctions.tokenCount(col("t"))).collect().map(_.getInt(0))
    assert(got.toSeq == Seq(0, 0, 1, 3, 2))
  }

  test("lang id picks the stopword-matching language") {
    val df = Seq(
      (1L, "the cat sat on the mat and it was happy", "en"),
      (2L, "le chat est sur la table et il est pour le chien", "fr"),
      (3L, "der hund und die katze sind für das haus", "de"),
      (4L, "el perro y el gato son para la casa", "es")).toDF("doc_id", "text", "lang")
    df.createOrReplaceTempView("tmp_docs")
    // reuse the scoring directly on this frame
    val toks = TextFunctions.tokens(col("text"))
    val scored = TextFunctions.langScores(toks).foldLeft(df.withColumn("toks", toks)) {
      case (d, (l, c)) => d.withColumn(s"score_$l", coalesce(c, lit(0.0)))
    }
    val langs = Seq("de", "en", "es", "fr")
    val best = greatest(langs.map(l => col(s"score_$l")): _*)
    val pred = langs.foldRight(lit("und")) { (l, acc) =>
      when(col(s"score_$l") === best && best > 0.0, lit(l)).otherwise(acc)
    }
    val out = scored.withColumn("pred", pred).select("lang", "pred").collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)}, got ${r.getString(1)}"))
  }

  test("join-based langIdQuery matches the lambda spec scoring (regression)") {
    // pins the round-2 relational rewrite to the round-1 interpreted-lambda
    // semantics, row for row, on real testdata
    val got = TextFunctions.langIdQuery(spark, sf).orderBy("doc_id").collect()
    val df = Tables.documents(spark, sf)
      .withColumn("toks", TextFunctions.tokens(col("text")))
    val scores = TextFunctions.langScores(col("toks"))
    val scored = scores.foldLeft(df) { case (d, (l, c)) =>
      d.withColumn(s"score_$l", round(coalesce(c, lit(0.0)), 6))
    }
    val langs = scores.keys.toSeq.sorted
    val best = greatest(langs.map(l => col(s"score_$l")): _*)
    val pred = langs.foldRight(lit("und")) { (l, acc) =>
      when(col(s"score_$l") === best && best > 0.0, lit(l)).otherwise(acc)
    }
    val want = scored.withColumn("pred_lang", pred)
      .select(Seq(col("doc_id"), col("lang"), col("pred_lang"))
        ++ langs.map(l => col(s"score_$l")): _*)
      .orderBy("doc_id").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"mismatch: $g vs $w") }
    // and the predictions are non-degenerate: more than one language appears
    assert(got.map(_.getAs[String]("pred_lang")).distinct.length > 1)
  }

  test("PII redaction replaces emails, IPs, and phone runs with typed tokens") {
    val df = Seq(
      "contact a.user+tag@sub.example.co or call +1 (415) 555-0100 now",
      "server at 192.168.0.17 responded",
      "no pii here at all").toDF("t")
    val got = df.select(TextFunctions.redactPii(col("t")).as("r")).collect()
      .map(_.getString(0))
    assert(got(0).contains("<EMAIL>") && got(0).contains("<PHONE>"))
    assert(!got(0).contains("@") && !got(0).contains("555"))
    assert(got(1) == "server at <IP> responded")
    assert(got(2) == "no pii here at all")
  }

  test("PII patterns: Java (Spark) matches pinned RE2 (DuckDB) behavior on firing paths") {
    // the corpus contains no PII, so the oracle only proves the no-op path;
    // these rows pin engine parity where the patterns actually fire
    // (expected values were produced by DuckDB RE2 with the same patterns —
    // note n_phones deliberately counts dotted IPs too: the counts are
    // per-pattern on the ORIGINAL text, replacement order handles overlap)
    val df = Seq(
      ("contact a.user+tag@sub.example.co or call +1 (415) 555-0100 now",
        "contact <EMAIL> or call <PHONE> now", 1, 0, 1),
      ("server at 192.168.0.17 responded", "server at <IP> responded", 0, 1, 1),
      ("no pii here at all", "no pii here at all", 0, 0, 0),
      ("mixed: bob@x.io and 10.0.0.1 and 020-7946-0958 end",
        "mixed: <EMAIL> and <IP> and <PHONE> end", 1, 1, 1),
      // vertical tab inside a digit run: Java \s would match it but RE2
      // would not — the explicit whitespace class excludes it on BOTH sides
      ("vt run 123456789 stays", "vt run 123456789 stays", 0, 0, 0)
    ).toDF("t", "want_red", "want_ne", "want_ni", "want_np")
    df.select(
      TextFunctions.redactPii(col("t")).as("red"),
      size(regexp_extract_all(col("t"), lit(TextFunctions.EmailRe), lit(0))).as("ne"),
      size(regexp_extract_all(col("t"), lit(TextFunctions.Ipv4Re), lit(0))).as("ni"),
      size(regexp_extract_all(col("t"), lit(TextFunctions.PhoneRe), lit(0))).as("np"),
      col("want_red"), col("want_ne"), col("want_ni"), col("want_np"))
      .collect().foreach { r =>
        assert(r.getAs[String]("red") == r.getAs[String]("want_red"))
        assert(r.getAs[Int]("ne") == r.getAs[Int]("want_ne"))
        assert(r.getAs[Int]("ni") == r.getAs[Int]("want_ni"))
        assert(r.getAs[Int]("np") == r.getAs[Int]("want_np"))
      }
  }

  test("repetition metrics: duplicated bigrams and lines are counted") {
    // "spark is fast" repeated: bigram "spark is" etc. recur
    val doc = (("spark is fast and spark is fast and spark is fast",
      1L) :: Nil).toDF("text", "doc_id")
    val toks = TextFunctions.tokens(col("text"))
    val bigrams = TextFunctions.ngrams(toks, 2)
    val r = doc.select(size(bigrams).as("n"),
      size(array_distinct(bigrams)).as("d")).collect()(0)
    assert(r.getInt(0) == 10 && r.getInt(1) < 10, s"$r")
    // and the registered query runs over the corpus with sane bounds
    val q = TextFunctions.repetitionQuery(spark, sf).collect()
    q.foreach { row =>
      val f = row.getAs[Double]("dup_bigram_frac")
      assert(f >= 0.0 && f <= 1.0)
    }
  }

  test("fingerprint is whitespace/case invariant") {
    val df = Seq("Hello  World", "hello world", " HELLO\tWORLD ").toDF("t")
    val fps = df.select(TextFunctions.fingerprint(col("t"))).collect().map(_.getLong(0))
    assert(fps.distinct.length == 1)
  }

  test("quality score bounded [0,1]") {
    val m = TextFunctions.qualityQuery(spark, sf).collect()
    m.foreach { r =>
      val q = r.getAs[Double]("quality_score")
      assert(q >= 0.0 && q <= 1.0)
    }
  }
}

class SentimentSpec extends AnyFunSuite {
  test("lexicon polarity and label thresholds") {
    assert(Sentiment.compound("great excellent win") > 0.5)
    assert(Sentiment.compound("crash loss fraud crisis") < -0.5)
    assert(Sentiment.compound("table chair window") == 0.0)
    assert(Sentiment.label(0.05) == "positive")
    assert(Sentiment.label(-0.05) == "negative")
    assert(Sentiment.label(0.049) == "neutral")
    assert(Sentiment.label(-0.049) == "neutral")
  }

  test("negation flips, boosters amplify") {
    val pos = Sentiment.compound("good")
    val negated = Sentiment.compound("not good")
    val boosted = Sentiment.compound("very good")
    assert(negated < 0 && pos > 0)
    assert(boosted > pos)
  }

  test("deterministic across calls") {
    val t = "profit surge beats fear of decline"
    assert(Sentiment.compound(t) == Sentiment.compound(t))
  }
}

class ForecastSpec extends AnyFunSuite {
  import SparkTestSession._

  lazy val out = Forecast.forecastQuery(spark, sf).collect()

  test("per qualifying key: exactly 90 actual + 30 forecast rows") {
    val byKey = out.groupBy(_.getAs[String]("symbol"))
    assert(byKey.nonEmpty, "no series qualified (need >=60 rows)")
    byKey.foreach { case (k, rows) =>
      val actual = rows.count(_.getAs[String]("type") == "actual")
      val fc = rows.count(_.getAs[String]("type") == "forecast")
      assert(actual == 90, s"$k: $actual actuals")
      assert(fc == 30, s"$k: $fc forecasts")
    }
  }

  test("forecast dates are business days strictly after history") {
    out.filter(_.getAs[String]("type") == "forecast").foreach { r =>
      val d = java.time.LocalDate.parse(r.getAs[String]("date"))
      assert(d.getDayOfWeek != java.time.DayOfWeek.SATURDAY)
      assert(d.getDayOfWeek != java.time.DayOfWeek.SUNDAY)
    }
  }

  test("confidence band contains prediction and widens") {
    val fc = out.filter(_.getAs[String]("type") == "forecast")
    fc.foreach { r =>
      val p = r.getAs[Double]("predicted_close")
      assert(r.getAs[Double]("confidence_lower") <= p + 1e-9)
      assert(r.getAs[Double]("confidence_upper") >= p - 1e-9)
    }
    val widths = fc.groupBy(_.getAs[String]("symbol")).map { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[String]("date"))
      val w = sorted.map(r => r.getAs[Double]("confidence_upper") - r.getAs[Double]("confidence_lower"))
      w.head <= w.last + 1e-9
    }
    assert(widths.forall(identity), "CI band must widen with horizon")
  }

  test("series below 60 rows produce nothing") {
    import spark.implicits._
    val tiny = (1 to 59).map(i =>
      Forecast.SeriesPoint("k", f"2024-01-$i%02d", 100.0 + i, 0.0))
    val got = Forecast.forecastGroup("k", tiny.iterator)
    assert(got.isEmpty)
  }
}

class MultimodalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("media table: binary payload + metadata, one row per doc") {
    val m = Multimodal.mediaTable(spark, sf)
    assert(m.count() == Tables.documents(spark, sf).count())
    val schema = m.schema.map(f => f.name -> f.dataType.typeName).toMap
    assert(schema("payload") == "binary")
    assert(Set("image", "audio", "video").contains(
      m.select("kind").distinct().collect().head.getString(0)))
  }

  test("feature extraction: deterministic, entropy bounded") {
    val f = Multimodal.extractFeatures(spark, sf).collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      val e = r.getAs[Double]("byte_entropy")
      assert(e >= 0.0 && e <= 8.0)
      val vec = r.getSeq[Float](r.fieldIndex("feature_vec"))
      assert(vec.length == 8)
      assert(math.abs(vec.map(_.toDouble).sum - 1.0) < 1e-3, "L1-normalized histogram")
    }
    val again = Multimodal.extractFeatures(spark, sf).collect()
    assert(f.map(_.getAs[Long]("checksum")).toSet == again.map(_.getAs[Long]("checksum")).toSet)
  }

  test("resize: payload shrinks by stride, metadata updated") {
    val before = Multimodal.mediaTable(spark, sf)
      .select("media_id", "width").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val after = Multimodal.resize(spark, sf, stride = 4).collect()
    assert(after.length == before.size)
    after.foreach { r =>
      assert(r.getAs[Int]("width") == math.max(1, before(r.getAs[Long]("media_id")) / 4))
      assert(r.getAs[Int]("n_bytes") > 0)
    }
  }

  test("winnowing: deterministic, and shared long substrings share fingerprints") {
    import graft.functions.TextFunctions.winnow
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    assert(winnow(a).toSeq == winnow(a).toSeq)
    // guarantee: common substring of length >= w+k-1 (19) gives >= 1 shared fp
    val common = "a very long shared passage that both documents contain verbatim"
    val d1 = s"prefix one $common suffix alpha"
    val d2 = s"completely different lead-in $common other tail"
    val shared = winnow(d1).toSet intersect winnow(d2).toSet
    assert(shared.nonEmpty)
    // empty / tiny inputs
    assert(winnow("").isEmpty)
    assert(winnow("ab").length == 1)
  }

  test("oracle precondition: corpus is pure printable ASCII (code points = payload bytes)") {
    // every media/fingerprint oracle recomputes byte statistics from DuckDB
    // code points — valid only while the text bytes ARE the char codes
    import org.apache.spark.sql.functions._
    val nonAscii = Tables.documents(spark, sf)
      .filter(col("text").rlike("[^\\x20-\\x7e]")).count()
    assert(nonAscii == 0, "non-ASCII text would break the byte-level oracles")
    // NULL text would silently diverge the minhash oracle's doc set: the
    // DuckDB CTEs' len(ths) branches are both NULL for NULL toks (doc
    // omitted) while Spark's when/otherwise hashes the empty concat — pin
    // the precondition so the latent gap can never go unnoticed (r16)
    assert(Tables.documents(spark, sf).filter(col("text").isNull).count() == 0,
      "NULL document text would diverge the minhash oracles' doc sets")
    // minhashIncrementalSql splits index/batch on doc_id % 2 with DuckDB's
    // C-style % (sign-preserving) where Spark-side splits use pmod —
    // equivalent ONLY for non-negative ids; pin the precondition the same
    // way as NULL text instead of leaving it to a code comment (r16 ADVICE)
    assert(Tables.documents(spark, sf).filter(col("doc_id") < 0).count() == 0,
      "negative doc_id would diverge DuckDB % from Spark pmod in the minhash split oracles")
    // and the normalized form never drops below the winnow k-gram width
    val minNorm = Tables.documents(spark, sf)
      .select(min(length(graft.functions.TextFunctions.normText(col("text")))))
      .head().getInt(0)
    assert(minNorm >= 8, s"doc shorter than winnow k=8 would take the hashCode fallback: $minNorm")
  }

  test("decodeStub checksum is FNV-1a 64 and bucket counts are recoverable from the vec") {
    // pins the exact arithmetic the DuckDB oracle mirrors
    val payload = "hello".getBytes("UTF-8")
    val (mean, _, checksum, vec) = Multimodal.decodeStub(payload)
    assert(checksum == 25347132070217633L) // independently computed FNV-1a 64
    assert(math.abs(mean - payload.map(_ & 0xff).sum.toDouble / 5) < 1e-12)
    val counts = vec.map(v => math.rint(v.toDouble * 5).toLong)
    assert(counts.sum == 5 && counts(3) == 5) // 'e','h','l','o' all in [96,128)
  }

  test("real PNG decode: ImageIO round-trip reproduces the deterministic pixel stats") {
    val payload = Array.tabulate(100)(i => ((i * 37) % 251).toByte)
    val (w, h) = (13, 9)
    val png = Multimodal.encodePng(payload, w, h)
    // a genuine PNG stream, not a renamed byte dump
    assert(png.take(8).map(_ & 0xFF).toSeq == Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
    val (dw, dh, rm, gm, bm, lum) = Multimodal.decodeImage(png)
    assert((dw, dh) == (w, h))
    // expectation straight from the pixel function — the decode must agree
    // because PNG is lossless (this IS the oracle's validity argument)
    val n = w * h
    def chanMean(c: Int) = BigDecimal(
      (0 until n).map(i => Multimodal.pixelValue(payload, 3L * i + c)).sum.toDouble / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rm == chanMean(0) && gm == chanMean(1) && bm == chanMean(2))
    val expLum = new Array[Long](8)
    (0 until n).foreach { i =>
      val s = (0 to 2).map(c => Multimodal.pixelValue(payload, 3L * i + c)).sum
      expLum((s / 3) / 32) += 1
    }
    assert(lum.toSeq == expLum.toSeq && lum.sum == n)
    // empty payload: all-black raster, decode still well-formed
    val (zw, zh, zr, zg, zb, zlum) = Multimodal.decodeImage(Multimodal.encodePng(Array.empty, 8, 8))
    assert((zw, zh) == (8, 8) && zr == 0.0 && zg == 0.0 && zb == 0.0 && zlum(0) == 64)
  }

  test("real WAV decode: AudioSystem round-trip reproduces the deterministic sample stats") {
    val payload = Array.tabulate(100)(i => ((i * 37) % 251).toByte)
    val nf = 200
    val wav = Multimodal.encodeWav(payload, nf)
    // a genuine RIFF/WAVE container, not a renamed byte dump
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val (dur, rmsL, rmsR, amp) = Multimodal.decodeWav(wav)
    // expectation straight from the sample function — the decode must
    // agree because PCM is lossless (this IS the oracle's validity
    // argument, the PNG leg's twin)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(dur == r6(nf / 8000.0))
    def rms(c: Int) = r6(math.sqrt(
      (0 until nf).map { i =>
        val s = Multimodal.sampleValue(payload, 2L * i + c).toLong; s * s
      }.sum.toDouble / nf))
    assert(rmsL == rms(0) && rmsR == rms(1))
    val expAmp = new Array[Long](8)
    (0 until 2 * nf).foreach { k =>
      expAmp(math.min(7, math.abs(Multimodal.sampleValue(payload, k)) / 4096)) += 1
    }
    assert(amp.toSeq == expAmp.toSeq && amp.sum == 2L * nf)
    // empty payload: silence, decode still well-formed
    val (zd, zl, zr, zamp) = Multimodal.decodeWav(Multimodal.encodeWav(Array.empty, 128))
    assert(zd == r6(128 / 8000.0) && zl == 0.0 && zr == 0.0 && zamp(0) == 256)
  }

  test("real MJPEG-in-AVI round-trip: container demux exact, JPEG means within the certification budget") {
    val payload = Array.tabulate(100)(i => ((i * 37) % 251).toByte)
    val (w, h, nF) = (13, 9, 6)
    val avi = Multimodal.encodeAvi(payload, w, h, nF)
    // a genuine RIFF/AVI container whose frames are genuine JPEG streams
    assert(new String(avi.take(4), "US-ASCII") == "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    val ffd8 = avi.sliding(2).indexWhere(p => (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8)
    assert(ffd8 > 0, "no JPEG SOI marker anywhere in the stream")
    val (nf, dw, dh, frames) = Multimodal.decodeAvi(avi)
    // geometry is lossless container metadata — exact
    assert((nf, dw, dh) == (nF, w, h) && frames.length == nF)
    // JPEG is lossy, so the VALIDITY argument is the measured mean
    // deviation: per-frame channel means must sit far inside the
    // certification budget even on this high-frequency worst-case raster
    frames.zipWithIndex.foreach { case ((fw, fh, rm, gm, bm), f) =>
      assert((fw, fh) == (w, h))
      def exact(c: Int) = (0 until w * h)
        .map(i => Multimodal.framePixel(payload, f, i, c, w, h)).sum.toDouble / (w * h)
      val dev = Seq(math.abs(rm - exact(0)), math.abs(gm - exact(1)),
        math.abs(bm - exact(2))).max
      assert(dev <= Multimodal.VideoMeanTol / 2,
        s"frame $f mean deviation $dev eats the certification margin")
    }
    // the registered flag itself, end-to-end
    val (rf, rw, rh, ok) = Multimodal.videoRoundTrip(payload, 1000, 700)
    assert(ok && rf == ((1000 + 700) % 8 + 4) && rw == (1000 % 24 + 8) && rh == (700 % 24 + 8))
    // empty payload: all-black frames, round-trip still certifies
    val (_, _, _, okEmpty) = Multimodal.videoRoundTrip(Array.empty, 64, 64)
    assert(okEmpty)
  }

  test("image/audio/video rows each carry their real decoded stats") {
    val f = Multimodal.extractFeatures(spark, sf).collect()
    val img = f.filter(_.getAs[String]("kind") == "image")
    val aud = f.filter(_.getAs[String]("kind") == "audio")
    val vid = f.filter(_.getAs[String]("kind") == "video")
    assert(img.nonEmpty && aud.nonEmpty && vid.nonEmpty)
    img.foreach { r =>
      val w = r.getAs[Int]("img_width"); val h = r.getAs[Int]("img_height")
      assert(w >= 8 && w <= 71 && h >= 8 && h <= 71)
      assert(r.getSeq[Long](r.fieldIndex("lum_hist")).sum == w.toLong * h)
      assert(!r.isNullAt(r.fieldIndex("r_mean")))
      assert(r.isNullAt(r.fieldIndex("duration_sec")) && r.isNullAt(r.fieldIndex("amp_hist")))
      assert(r.isNullAt(r.fieldIndex("vid_frames")))
    }
    aud.foreach { r =>
      val d = r.getAs[Double]("duration_sec")
      assert(d >= 128 / 8000.0 && d <= 1151 / 8000.0)
      // both channels of every decoded frame land in the histogram
      assert(r.getSeq[Long](r.fieldIndex("amp_hist")).sum ==
        math.round(d * 8000) * 2)
      assert(!r.isNullAt(r.fieldIndex("rms_l")) && !r.isNullAt(r.fieldIndex("rms_r")))
      assert(r.isNullAt(r.fieldIndex("img_width")) && r.isNullAt(r.fieldIndex("lum_hist")))
      assert(r.isNullAt(r.fieldIndex("vid_frames")))
    }
    vid.foreach { r =>
      // every video row's codec certification must hold — this is the
      // corpus-wide guarantee the oracle's `true` flag rides on
      assert(r.getAs[Boolean]("vid_codec_ok"),
        s"codec certification failed for media ${r.getAs[Long]("media_id")}")
      val nf = r.getAs[Int]("vid_frames")
      assert(nf >= 4 && nf <= 11)
      assert(r.getAs[Int]("vid_width") >= 8 && r.getAs[Int]("vid_width") <= 31)
      assert(r.isNullAt(r.fieldIndex("img_width")) && r.isNullAt(r.fieldIndex("lum_hist")))
      assert(r.isNullAt(r.fieldIndex("duration_sec")) && r.isNullAt(r.fieldIndex("amp_hist")))
    }
  }

  test("frame sampling covers video payloads with indexed frames") {
    val fr = Multimodal.frameSample(spark, sf).collect()
    assert(fr.nonEmpty)
    val byMedia = fr.groupBy(_.getAs[Long]("media_id"))
    byMedia.foreach { case (_, rows) =>
      val idx = rows.map(_.getAs[Int]("frame_idx")).sorted
      assert(idx.toSeq == (0 until rows.length), "frame indices contiguous from 0")
    }
  }

}
