package graft.serve

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.immutable.VectorMap
import graft.Tables

/** A minimal transactional table format on plain parquet — the contract a
  * Delta/Iceberg table provides for the serving layer (the reference names
  * Delta as its own north star, `docs/medium_article.md:233`), built from
  * Spark + Hadoop FS primitives only (this environment ships no table-format
  * jars and the dependency set is frozen).
  *
  * Layout:
  * {{{
  *   table/
  *     _txlog/00000000.txt          // commit v0: line 1 = op, rest = delta
  *     _txlog/00000001.txt          //   lines (+add / -remove of data files)
  *     _txlog/00000010.checkpoint   // full manifest at v10 (one per
  *                                  //   CheckpointInterval commits)
  *     data/<uuid>-part-*.parquet   // immutable, never rewritten
  * }}}
  *
  * COMMITS ARE DELTAS, Delta-log-style: a merge records only the files it
  * removed (`-rel`) and added (`+rel<TAB>stats`), so commit cost is
  * O(touched files) — a full-manifest-per-commit log would write O(table
  * files) metadata on EVERY daily merge of a million-file table. Full
  * rewrites (write/compact) are reset commits (adds only). Every
  * [[CheckpointInterval]] commits the winner also writes a `.checkpoint`
  * with the complete manifest, so snapshot resolution reads ONE checkpoint
  * plus at most CheckpointInterval−1 delta commits — O(1) in table
  * history, never a replay from v0. That replay exists once: every reader
  * and writer resolves one `Snapshot` — manifest and txn stamps together —
  * from one log listing, and the commit loop checkpoints its base snapshot
  * with the winning commit applied. Pre-delta logs (unprefixed lines) are
  * still readable as full-snapshot commits.
  *
  * The COMMIT POINT is the atomic rename of a staged manifest to
  * `_txlog/<version>.txt`. Hadoop `rename` refuses an existing destination,
  * so two writers racing for the same version produce exactly one winner —
  * the loser re-reads the new snapshot and retries on top (optimistic
  * concurrency, the Delta protocol; every writer runs the one
  * [[commitLoop]] with its own conflict rule). Readers
  * resolve a snapshot by manifest, so they never observe a half-written
  * table and can time-travel to any retained version. Checkpoints are
  * written AFTER the commit wins, outside the race (idempotent, and purely
  * an optimization: a missing checkpoint only means a longer replay). Data
  * files are immutable; losers' orphans are reclaimed by [[vacuum]].
  *
  * On a rename-less object store (S3) the commit needs a put-if-absent
  * primitive or a coordination service. Since r16 that is a PLUGGABLE
  * seam, not a caveat: every commit-point publish goes through the
  * [[CommitStore]] registered for the table's URI scheme —
  * [[HadoopRenameStore]] (atomic rename / hard-link) serves file and
  * HDFS out of the box; an object-store deployment registers its
  * conditional-put implementation (S3 `If-None-Match: *`, GCS
  * `ifGenerationMatch=0`, ADLS ETag) via [[registerCommitStore]] instead
  * of inheriting a rename that is not atomic there.
  */

/** The put-if-absent commit primitive — the ONLY operation the optimistic
  * concurrency protocol needs from storage. `putIfAbsent` must atomically
  * publish `tmp`'s content as `dest` IFF `dest` does not exist, returning
  * true exactly when this writer created it; an exists()+rename pair is
  * NOT a valid implementation on any store whose rename overwrites (two
  * racing writers would both "win" a version and one commit would vanish
  * — the lost-update TxStatsSpec's injected race pins against). */
trait CommitStore {
  def putIfAbsent(fs: FileSystem, tmp: Path, dest: Path): Boolean
}

/** The filesystem implementation. On HDFS, `rename` is atomic AND refuses
  * an existing destination — exactly the primitive needed. On a LOCAL
  * filesystem Hadoop's rename bottoms out in POSIX rename(2), which
  * silently REPLACES an existing destination, so local publishes
  * `link(2)`-then-unlink instead (hard link fails with EEXIST
  * atomically). */
object HadoopRenameStore extends CommitStore {
  override def putIfAbsent(fs: FileSystem, tmp: Path, dest: Path): Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(fs.makeQualified(dest).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      if (fs.exists(dest)) false
      else fs.rename(tmp, dest)
    }
  }
}

object TxTable {

  val MaxCommitRetries = 5

  private def hfs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def logDir(path: String) = new Path(path, "_txlog")
  private def commitFile(path: String, v: Long) =
    new Path(logDir(path), f"$v%08d.txt")

  /** Highest committed version, or None for a table that does not exist. */
  def latestVersion(spark: SparkSession, path: String): Option[Long] =
    new Log(hfs(spark, path), path).latest

  private def noTable(path: String) =
    new java.io.FileNotFoundException(s"TxTable at $path has no commits")

  /** One manifest line: a table-relative file name, optionally with
    * per-file stats (see [[TxStats]]). Manifest lines are
    * `rel<TAB>statsJson`; stats-less lines (pre-stats manifests) stay
    * readable — their files are simply never pruned. */
  case class ManifestEntry(rel: String, stats: Option[TxStats.FileStats]) {
    def line: String = stats match {
      case Some(s) => rel + "\t" + TxStats.toJson(s)
      case None => rel
    }
  }

  private object ManifestEntry {
    def parse(line: String): ManifestEntry = line.indexOf('\t') match {
      case -1 => ManifestEntry(line, None)
      case i => ManifestEntry(line.substring(0, i),
        TxStats.fromJson(line.substring(i + 1)))
    }
  }

  /** Checkpoint every this-many commits. Small here so tests exercise the
    * machinery; a production table would use Delta's default (10). */
  val CheckpointInterval = 10

  private def checkpointFile(path: String, v: Long) =
    new Path(logDir(path), f"$v%08d.checkpoint")

  /** A parsed commit: op + delta actions. `reset` commits (write/compact,
    * and every pre-delta full manifest) replace the whole state with their
    * adds; others remove then add. `meta` carries tab-separated key=value
    * tokens from the header line — today only `txn=appId:batchId`, the
    * Delta idempotent-writer stamp. */
  private case class Commit(op: String, reset: Boolean,
      removes: Seq[String], adds: Seq[ManifestEntry],
      meta: Map[String, String] = Map.empty) {
    def txn: Option[(String, Long)] = meta.get("txn").flatMap(parseStamp)
  }

  /** Full rewrites replace the whole state; every other op is a delta. */
  private def resetOp(op: String): Boolean = op == "write" || op == "compact"

  /** `appId:batchId` → (appId, batchId); the appId may not hold ':'. */
  private def parseStamp(t: String): Option[(String, Long)] = t.lastIndexOf(':') match {
    case -1 => None
    case i => Some(t.substring(0, i) -> t.substring(i + 1).toLong)
  }

  private def readLines(fs: FileSystem, p: Path): List[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  // --------------------------------------------------- torn-file framing
  /** Every log file (commit + checkpoint) ends with a `#eof <n>` trailer
    * (n = payload line count). The publish rename is atomic on HDFS/local,
    * but on a store without atomic rename (the documented Delta-on-S3
    * caveat) a crashed writer can leave a HALF-WRITTEN file at a committed
    * name. Without framing, a truncated body silently parses as a shorter
    * manifest — wrong data with no error. With it, any truncation removes
    * the trailer (it is the last line) and a mid-line cut breaks the line
    * count, so reads refuse loudly instead.
    *
    * Recovery (documented contract): a torn commit means the writer DIED
    * mid-publish — the version never happened. Delete the torn
    * `_txlog/NNNNNNNN.txt` and the table resolves at the previous version;
    * the version number becomes claimable again. A torn CHECKPOINT is
    * derivable state: delete it and reads fall back to the delta chain. */
  private val EofPrefix = "#eof "

  /** On-disk log format version — bumped when the log format changes
    * incompatibly (v2: the `#eof` torn-file framing; v1 files have no
    * trailer and are indistinguishable from a truncated v2 file, so they
    * must refuse). Long-lived scratch layers (the stored IVF index) key
    * their cache paths by this, so an index persisted by an older format
    * is simply a different path — rebuilt idempotently — never a spurious
    * torn-commit refusal. */
  val LogFormatVersion = 2

  private def framed(lines: Seq[String]): Array[Byte] =
    (lines :+ (EofPrefix + lines.length)).mkString("\n").getBytes("UTF-8")

  private def unframe(lines: List[String], p: Path, what: String): List[String] =
    lines.lastOption match {
      case Some(l) if l == EofPrefix + (lines.length - 1) => lines.init
      case _ =>
        // recovery advice must match what the file IS: a torn checkpoint is
        // derivable state (the version itself committed fine), while a torn
        // commit means the writer died mid-publish and the version never
        // happened — and a table whose WHOLE log lacks trailers is a
        // pre-v2 (trailer-less format) table, where deleting "the torn
        // file" one read at a time would serially destroy a healthy log
        val recovery =
          if (what == "checkpoint")
            s"A checkpoint is derivable state: delete $p and reads fall " +
            "back to the delta chain — the version itself is still committed."
          else
            s"If ONLY this file lacks the trailer, a crashed writer died " +
            s"mid-publish and this version never committed: delete $p and " +
            "the table resolves at the previous version. If EVERY commit " +
            "in the log lacks a trailer, this is a pre-v2 trailer-less " +
            "table — do NOT delete files one by one; migrate or re-ingest it."
        throw new java.io.IOException(
          s"TxTable: $what $p is torn/truncated (bad or missing '#eof' trailer). " +
          recovery)
    }

  /** A table whose EVERY commit lacks the `#eof` trailer is a pre-v2
    * (trailer-less format) table, not a torn one — one crashed writer
    * cannot have torn the whole log. Checked only on an unframe failure
    * (one extra log scan on the error path, nothing on healthy reads). */
  private def preV2Log(fs: FileSystem, path: String): Boolean = {
    val vs = new Log(fs, path).commits
    vs.nonEmpty && vs.forall { v =>
      val lines = readLines(fs, commitFile(path, v))
      !lines.lastOption.contains(EofPrefix + (lines.length - 1))
    }
  }

  private def readCommit(fs: FileSystem, path: String, v: Long): Commit = {
    val lines =
      try unframe(readLines(fs, commitFile(path, v)), commitFile(path, v), "commit")
      catch {
        // distinguish "this table predates the framing format" from "this
        // file is torn" PROGRAMMATICALLY — the torn-commit recovery advice
        // (delete the file) applied one read at a time would serially
        // destroy a healthy pre-v2 log
        case e: java.io.IOException if preV2Log(fs, path) =>
          throw new java.io.IOException(
            s"TxTable: $path is a pre-v$LogFormatVersion trailer-less table " +
            "(NO commit in its log carries an '#eof' trailer). This is a " +
            "format upgrade, not corruption — do not delete commit files; " +
            "migrate by re-writing the table with a current writer, or " +
            "re-ingest it.", e)
      }
    // header = op [\t key=value ...] — metadata rides the header line so
    // pre-meta readers (which take lines.head as the whole op) never see
    // it mixed into the action body; pre-meta FILES parse fine here (no
    // tab → no meta)
    val head = lines.head.split('\t')
    val (op, body) = (head.head, lines.tail)
    val meta = head.tail.flatMap { tok =>
      tok.indexOf('=') match {
        case -1 => None
        case i => Some(tok.substring(0, i) -> tok.substring(i + 1))
      }
    }.toMap
    val legacyFull = body.exists(l => !l.startsWith("+") && !l.startsWith("-"))
    if (legacyFull)
      Commit(op, reset = true, Nil, body.map(ManifestEntry.parse), meta)
    else
      Commit(op, resetOp(op),
        body.filter(_.startsWith("-")).map(_.substring(1)),
        body.filter(_.startsWith("+")).map(l => ManifestEntry.parse(l.substring(1))),
        meta)
  }

  /** Checkpoint metadata line prefix for retained idempotent-writer stamps
    * (Delta's SetTransaction-in-checkpoint): `#txn appId:batchId`. Kept
    * lexically distinct from the `#eof` framing trailer and filtered out of
    * entry parsing, so a checkpoint stays a plain manifest plus stamps. */
  private val TxnPrefix = "#txn "

  /** Parse one checkpoint file: (manifest entries, latest txn stamp per
    * appId as of that checkpoint). Pre-r14 checkpoints simply have no
    * `#txn` lines — their txn map is empty (stamps older than such a
    * checkpoint are invisible, the documented migration caveat). */
  private def checkpointLines(fs: FileSystem, path: String,
      c: Long): (Seq[ManifestEntry], Map[String, Long]) = {
    val f = checkpointFile(path, c)
    val lines = unframe(readLines(fs, f), f, "checkpoint").filter(_.nonEmpty)
    val (txnLines, entryLines) = lines.partition(_.startsWith(TxnPrefix))
    (entryLines.map(ManifestEntry.parse),
      txnLines.flatMap(l => parseStamp(l.substring(TxnPrefix.length))).toMap)
  }

  /** The table state at one version: the manifest (`files`, in commit
    * order) and the latest txn stamp per appId (`stamps`). A half the log
    * cannot root at this version is a Left naming the missing commits, and
    * its accessor refuses loudly — a hole is never folded into a
    * silently-wrong manifest or an older stamp.
    *
    * [[applied]] is the one fold step every reader and writer shares: a
    * reset commit replaces the files, then removes and adds follow, and the
    * commit's `txn` stamp wins for its appId. A reset keeps the stamps — a
    * compaction rewrites data, not writer history (Delta keeps
    * SetTransaction across OPTIMIZE). Rooting across a hole:
    *  - files re-root at the next reset, which replaces them all;
    *  - stamps re-root at the next reset only when no checkpoint roots the
    *    replay, which makes the root the OLDEST reset with a contiguous tail
    *    (a newer root would drop a stamp the fold can still know). Stamps on
    *    commits pruned below that root are unknowable and read as absent —
    *    the documented migration caveat; this engine's own vacuum
    *    checkpoints every kept version first, so only external deletion
    *    gets here;
    *  - above a checkpoint, a hole could hide a NEWER stamp, and answering
    *    with an older one would green-light a double apply, so the stamps
    *    stay unknowable. */
  private case class Snapshot(path: String, version: Long,
      files: Either[String, VectorMap[String, ManifestEntry]],
      stamps: Either[String, Map[String, Long]], fromCheckpoint: Boolean) {

    def entries: Seq[ManifestEntry] = files.fold(hole =>
      throw new java.io.FileNotFoundException(s"TxTable $path: version " +
        s"$version is not resolvable ($hole and no reset commit follows)"),
      _.values.toSeq)

    def txns: Map[String, Long] = stamps.fold(hole =>
      throw new java.io.FileNotFoundException(
        s"TxTable $path: txn state at version $version is not resolvable ($hole)"),
      identity)

    /** The state once `c` commits as the next version. */
    def applied(c: Commit): Snapshot = {
      val adds = c.adds.map(e => e.rel -> e)
      copy(version = version + 1,
        files = if (c.reset) Right(VectorMap.from(adds))
          else files.map(_.removedAll(c.removes) ++ adds),
        stamps = (if (c.reset && !fromCheckpoint) stamps.orElse(Right(Map.empty[String, Long]))
          else stamps).map(_ ++ c.txn))
    }

    /** This state carried to just below commit `next`: across missing
      * commits both halves become unknowable. */
    def reaching(next: Long): Snapshot =
      if (next == version + 1) this
      else {
        val hole = Left(s"commits ${version + 1}..${next - 1} are missing")
        copy(version = next - 1, files = hole, stamps = hole)
      }
  }

  /** One listing of `_txlog` — committed versions and checkpoints — with
    * each commit file read at most once, however many snapshots, conflict
    * checks or change-feed steps consult it. */
  private final class Log(fs: FileSystem, path: String) {
    private val names =
      try fs.listStatus(logDir(path)).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    private def versions(suffix: String): Vector[Long] =
      names.filter(_.endsWith(suffix)).map(_.stripSuffix(suffix).toLong).sorted.toVector
    val commits: Vector[Long] = versions(".txt")
    val checkpoints: Vector[Long] = versions(".checkpoint")
    def latest: Option[Long] = commits.lastOption

    private val read = scala.collection.mutable.Map.empty[Long, Commit]
    def commit(v: Long): Commit = read.getOrElseUpdate(v, readCommit(fs, path, v))

    /** The one log replay: the nearest checkpoint ≤ v (else the empty
      * table before v0) folded forward over the delta chain to v — one
      * checkpoint plus at most CheckpointInterval−1 commits, never a replay
      * of the whole history. Without a checkpoint a pruned prefix is a
      * hole like any other: state is never rebuilt over an empty base. */
    def snapshot(v: Long): Snapshot = {
      val root = checkpoints.filter(_ <= v).lastOption match {
        case Some(c) =>
          val (entries, txns) = checkpointLines(fs, path, c)
          Snapshot(path, c, Right(VectorMap.from(entries.map(e => e.rel -> e))),
            Right(txns), fromCheckpoint = true)
        case None =>
          Snapshot(path, -1L, Right(VectorMap.empty), Right(Map.empty), fromCheckpoint = false)
      }
      commits.filter(cv => cv > root.version && cv <= v)
        .foldLeft(root)((s, cv) => s.reaching(cv).applied(commit(cv)))
        .reaching(v + 1)
    }

    /** The snapshot at `version` (default: the latest) — a version the log
      * no longer holds is refused, never resolved from its neighbours. */
    def at(version: Option[Long]): Snapshot = {
      val v = version.orElse(latest).getOrElse(throw noTable(path))
      if (!commits.contains(v))
        throw new java.io.FileNotFoundException(s"TxTable $path has no version $v")
      snapshot(v)
    }
  }

  /** Checkpoints carry BOTH halves of durable state: the manifest AND the
    * retained txn stamps — so vacuum can prune a stamped commit without
    * reopening the idempotent-writer replay window. */
  private def writeCheckpoint(fs: FileSystem, path: String, s: Snapshot): Unit = {
    val lines = s.entries.map(_.line) ++
      s.txns.toSeq.sortBy(_._1).map { case (a, b) => s"$TxnPrefix$a:$b" }
    val tmp = new Path(logDir(path), s"_cptmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(framed(lines))
    finally out.close()
    if (!publish(fs, tmp, checkpointFile(path, s.version))) fs.delete(tmp, false)
  }

  /** Post-commit checkpoint hook — fired by the commit loop with the state
    * its winning commit produced, on the interval boundary. Failure-safe:
    * the checkpoint is derivable from the log, so best-effort is enough. */
  private def maybeCheckpoint(fs: FileSystem, path: String, s: Snapshot): Unit =
    if (s.version > 0 && s.version % CheckpointInterval == 0)
      try writeCheckpoint(fs, path, s)
      catch { case scala.util.control.NonFatal(_) => () }

  /** The snapshot's manifest entries (files + stats) — the metadata surface
    * tests and planners consult without reading any data. */
  def manifest(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[ManifestEntry] =
    new Log(hfs(spark, path), path).at(version).entries

  /** The stats-aware file index over a snapshot — also the hook tests use
    * to assert pruning decisions directly. */
  def fileIndex(spark: SparkSession, path: String,
      version: Option[Long] = None): StatsFileIndex =
    new StatsFileIndex(spark, path,
      manifest(spark, path, version).map(e => (e.rel, e.stats)))

  /** Snapshot read at the latest (default) or an explicit version — time
    * travel is just "resolve an older manifest". The scan goes through
    * [[StatsFileIndex]], so any filter Catalyst pushes down prunes whole
    * files from the manifest stats before parquet footers are touched. */
  def read(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame =
    scan(spark, path, manifest(spark, path, version))

  /** The stats-pruned scan over one snapshot's entries. */
  private def scan(spark: SparkSession, path: String,
      entries: Seq[ManifestEntry]): DataFrame = {
    if (entries.isEmpty)
      return spark.read.parquet(path + "/data") // never: guard only
    val index = new StatsFileIndex(spark, path, entries.map(e => (e.rel, e.stats)))
    GraftBridge.relationToDataFrame(spark, HadoopFsRelation(
      index, StructType(Nil), snapshotSchema(spark, path, entries.map(_.rel)), None,
      new ParquetFileFormat, Map.empty[String, String])(spark))
  }

  /** The snapshot's logical schema under ADDITIVE schema evolution: the
    * ordered union of the field lists across the snapshot's staging
    * generations. A merge that ships a batch with a NEW column rewrites
    * only the touched files, so a snapshot legitimately mixes file
    * schemas; the read schema must be the superset (older files' missing
    * columns surface as null — the standard parquet clipped-schema
    * behavior, same as Delta's mergeSchema) or the new column silently
    * vanishes whenever an old file happens to head the manifest.
    *
    * Cost: one footer per staging GENERATION, not per file — every file
    * of one `stageData` call shares a schema by construction (rel =
    * `data/<uuid>-part-NNNNN.parquet`), and generations are bounded by
    * retained commits (compaction resets to one). Data files are
    * immutable, so each generation's footer is inferred once per session
    * ([[Tables.parquetSchema]]): a re-read of a known snapshot starts no
    * job before it executes, and so does a merge's candidate scan or a
    * change feed over generations already read. Version pinning
    * composes for free: an old version's manifest lists only old
    * generations, so time travel sees the schema AS OF that version.
    *
    * Additive only: a field present in two generations must carry the
    * SAME type — a retype is a corrupt table, refused loudly (Delta's
    * rule; rewriting history is what `compact` is for).
    *
    * `rels` may be any file set of the table, not only a whole snapshot:
    * the change feed reads a commit's adds or removes at their own union. */
  private def snapshotSchema(spark: SparkSession, path: String,
      rels: Seq[String]): StructType = {
    // first file of each generation, in MANIFEST order (commit order) so
    // appended columns land after existing ones deterministically — a
    // random-uuid sort would shuffle field order between snapshots
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
    rels.foreach { rel =>
      val gen = rel.takeWhile(_ != '-')
      if (!seen.contains(gen)) seen(gen) = rel
    }
    val schemas = seen.values.toSeq.map(r => Tables.parquetSchema(spark, s"$path/$r"))
    schemas.tail.foldLeft(schemas.head) { (acc, s) =>
      s.fields.foldLeft(acc) { (a, f) =>
        a.fields.find(_.name == f.name) match {
          // structural comparison: parquet footers legitimately disagree on
          // nullability/containsNull across generations (a required column
          // in one file, optional in another) — only a real TYPE change is
          // evolution abuse
          case Some(existing) if org.apache.spark.sql.types.DataType
              .equalsIgnoreNullability(existing.dataType, f.dataType) => a
          case Some(existing) =>
            throw new IllegalStateException(
              s"TxTable $path: column '${f.name}' retyped across commits " +
                s"(${existing.dataType.simpleString} vs ${f.dataType.simpleString}) " +
                "— schema evolution is additive-only")
          case None => StructType(a.fields :+ f.copy(nullable = true))
        }
      }
    }
  }

  /** Stage `df` as immutable files under data/ and return their manifest
    * entries, stats included (no commit yet). The stats are recorded by
    * the write tasks themselves ([[StatsParquetFormat]]): staging is one
    * job, the same as a plain parquet write of `df`, and the first read of
    * the new files starts no schema-inference job either. */
  private def stageData(spark: SparkSession, df: DataFrame, path: String): Seq[ManifestEntry] = {
    val fs = hfs(spark, path)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val staging = fs.makeQualified(new Path(path, s"_staging_$uuid"))
    val stats = StatsParquetFormat.writing(spark, staging) {
      df.write.mode(SaveMode.Overwrite).format(classOf[StatsParquetFormat].getName)
        .save(staging.toString)
    }
    fs.mkdirs(new Path(path, "data"))
    val parts = fs.listStatus(staging).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val entries = parts.zipWithIndex.map { case (p, i) =>
      val rel = f"data/$uuid-part-$i%05d.parquet"
      if (!fs.rename(p, new Path(path, rel)))
        throw new java.io.IOException(s"TxTable: staging rename $p -> $rel failed")
      val st = stats.get(p.getName).map { s =>
        val status = fs.getFileStatus(new Path(path, rel))
        s.copy(bytes = status.getLen, mtime = status.getModificationTime)
      }
      ManifestEntry(rel, st)
    }
    fs.delete(staging, true)
    // the generation's first file is the one snapshotSchema reads the
    // schema of: known now, so the next read infers nothing
    entries.headOption.foreach(e => Tables.wroteParquet(spark, s"$path/${e.rel}", df.schema))
    entries
  }

  /** Atomically publish a DELTA commit as version `v`: `removes` as `-rel`
    * lines, `adds` as `+entry` lines — O(touched), not O(table). False ⇒
    * someone else won the version race (caller must re-read and retry). */
  private def tryCommit(fs: FileSystem, path: String, v: Long, c: Commit): Boolean = {
    fs.mkdirs(logDir(path))
    val tmp = new Path(logDir(path), s"_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    val header = (c.op +: c.meta.toSeq.sortBy(_._1).map { case (k, vl) => s"$k=$vl" })
      .mkString("\t")
    val body = c.removes.map("-" + _) ++ c.adds.map("+" + _.line)
    try out.write(framed(header +: body))
    finally out.close()
    val won = publish(fs, tmp, commitFile(path, v))
    if (!won) fs.delete(tmp, false)
    won
  }

  /** Per-scheme [[CommitStore]] registry. Rename-safe schemes (file,
    * hdfs, …) fall back to [[HadoopRenameStore]]; any other scheme with
    * no registered store fails FAST at publish time — see
    * [[RenameSafeSchemes]]. */
  private val commitStores =
    new java.util.concurrent.ConcurrentHashMap[String, CommitStore]()

  /** Register the commit primitive for a URI scheme (e.g. "s3a" → a
    * conditional-put store). Returns any store it replaced. */
  def registerCommitStore(scheme: String, store: CommitStore): Option[CommitStore] =
    Option(commitStores.put(scheme, store))

  /** Remove a scheme's registered store (falls back to rename/link). */
  def unregisterCommitStore(scheme: String): Unit = commitStores.remove(scheme)

  /** Schemes whose Hadoop rename already IS the needed primitive (atomic,
    * refuses an existing destination) — plus "file", which
    * [[HadoopRenameStore]] serves via hard links. Everything else MUST
    * register: falling back to exists()+rename on an overwriting-rename
    * store is precisely the non-atomic pair the trait contract forbids,
    * and it would fail as SILENT LOST COMMITS under writer races, not as
    * an error. */
  private val RenameSafeSchemes = Set("file", "hdfs", "viewfs", "webhdfs")

  /** Every commit-point publish — version commits AND checkpoints — goes
    * through the registered seam; the protocol above never calls rename
    * directly. Unregistered non-rename-safe schemes fail FAST at the
    * first commit instead of losing updates under concurrency. */
  private def publish(fs: FileSystem, tmp: Path, dest: Path): Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    val store = commitStores.get(scheme)
    if (store != null) store.putIfAbsent(fs, tmp, dest)
    else {
      require(RenameSafeSchemes.contains(scheme),
        s"TxTable: no CommitStore registered for scheme '$scheme' and its " +
        "rename is not fail-if-exists atomic — register a conditional-put " +
        s"implementation via TxTable.registerCommitStore(\"$scheme\", ...) " +
        "before writing (an exists()+rename fallback would lose commits " +
        "silently under writer races)")
      HadoopRenameStore.putIfAbsent(fs, tmp, dest)
    }
  }

  /** Test seam: invoked once after any op's first stage, before its first
    * commit attempt — lets specs interleave a racing writer at the exact
    * window optimistic concurrency must survive. No-op in production. */
  private[graft] var onStaged: () => Unit = () => ()

  /** Test seam: invoked at the top of every RETRY iteration (after a lost
    * race, before the snapshot re-read) — lets specs land a second racing
    * commit in the window the revalidation watermark must cover. */
  private[graft] var onRetry: () => Unit = () => ()

  /** Test telemetry: how many times a commit loop has staged again after
    * a lost race (the racing commits failed the op's conflict rule). */
  private[graft] val restages = new java.util.concurrent.atomic.AtomicLong

  /** One op's staged delta plus its conflict rule: `survives(c)` says
    * whether a commit `c` that landed after staging leaves the staged files
    * valid — false makes the loop stage again. */
  private case class Staged(removes: Seq[String], adds: Seq[ManifestEntry],
      survives: Commit => Boolean)

  /** The optimistic commit loop every writer runs — the Delta protocol,
    * written once. `stage(base)` stages the op's files on the snapshot
    * `base` (None: no table yet) outside the commit point, or returns None
    * to commit nothing. Each attempt:
    *  1. resolves the latest snapshot — one listing, one replay;
    *  2. applies the idempotent-writer guard (Delta's txnAppId:txnVersion):
    *     a `txn` stamp already committed is a REPLAY — the crash window
    *     between a streaming fold's table commit and its checkpoint
    *     commit — and returns the current version, never a double apply.
    *     One writer per appId is the contract (a streaming query per
    *     checkpoint), so the check races only against itself;
    *  3. re-checks every commit that landed since the staged files were
    *     last validated against the op's conflict rule, and stages again
    *     if one conflicts (checking only at lost-race time would miss a
    *     commit landing between that sample and the next attempt);
    *  4. publishes the delta as the next version through the put-if-absent
    *     commit point — losing the version race loops back to step 1;
    *  5. on the [[CheckpointInterval]] boundary, checkpoints the base
    *     snapshot with the winning commit applied — no second replay.
    * After [[MaxCommitRetries]] lost races it gives up loudly. */
  private def commitLoop(spark: SparkSession, path: String, op: String,
      txn: Option[(String, Long)] = None)(
      stage: Option[Snapshot] => Option[Staged]): Long = {
    val fs = hfs(spark, path)
    txn.foreach { case (appId, _) =>
      require(validAppId(appId),
        s"TxTable: txn appId '$appId' must be non-empty and free of tab/'='/':'/CR/LF")
    }
    val meta = txn.map { case (a, b) => "txn" -> s"$a:$b" }.toMap
    var staged: Option[Staged] = None
    var validatedThrough = -1L
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      if (attempt > 0) onRetry()
      val log = new Log(fs, path)
      val base = log.latest.map(log.snapshot)
      val baseV = base.fold(-1L)(_.version)
      for ((appId, batchId) <- txn; b <- base)
        if (b.txns.get(appId).exists(batchId <= _)) return baseV
      staged = staged.filter(s =>
        (validatedThrough + 1 to baseV).forall(rv => s.survives(log.commit(rv))))
      if (staged.isEmpty) {
        if (attempt > 0) restages.incrementAndGet()
        staged = stage(base)
        if (staged.isEmpty) return base.getOrElse(throw noTable(path)).version
        if (attempt == 0) onStaged()
      }
      validatedThrough = baseV
      val commit = Commit(op, resetOp(op), staged.get.removes, staged.get.adds, meta)
      if (tryCommit(fs, path, baseV + 1, commit)) {
        base.foreach(b => maybeCheckpoint(fs, path, b.applied(commit)))
        return baseV + 1
      }
      attempt += 1
    }
    throw new java.io.IOException(s"TxTable: lost $MaxCommitRetries version races at $path")
  }

  /** Full snapshot write (op=write): stage, then commit as the next
    * version. The previous snapshot stays readable (no file is touched).
    * Staged once: a reset commit replaces whatever raced in before it. */
  def write(spark: SparkSession, df: DataFrame, path: String): Long =
    commitLoop(spark, path, "write") { _ =>
      Some(Staged(Nil, stageData(spark, df, path), _ => true))
    }

  /** Latest batch id committed under `appId`'s `txn=` stamp — the read
    * half of the Delta txnAppId/txnVersion recipe. Read off the same
    * replay as the manifest (the nearest checkpoint's retained stamps
    * folded over the delta tail), so the answer survives vacuum pruning
    * the stamped commit itself: without checkpoint retention, "crash →
    * external compactions/vacuum before the stream restarts → replay of
    * the stamped batch" would double-apply. Throws FileNotFoundException
    * where [[Snapshot]] cannot root the stamps. Metadata-scale: one
    * checkpoint + ≤ CheckpointInterval commit reads. */
  def lastTxnBatch(spark: SparkSession, path: String, appId: String): Option[Long] = {
    val log = new Log(hfs(spark, path), path)
    log.latest.flatMap(v => log.snapshot(v).txns.get(appId))
  }

  /** The txn appId charset: the stamp is a `txn=appId:batchId` token on a
    * tab-separated header line, so tab, '=' and ':' would mis-split it, and
    * LF or a lone CR would split the header into extra lines (the log
    * reader's `getLines` breaks on both), making `unframe` refuse the
    * commit as torn — every later read of the table would fail. An empty
    * id would silently disarm per-writer identity. */
  private[graft] def validAppId(id: String): Boolean =
    id.nonEmpty &&
      !id.exists(c => c == '\t' || c == '=' || c == ':' || c == '\n' || c == '\r')

  /** Collapse duplicate keys WITHIN a batch — deterministic-id upsert
    * semantics (the ES sink's `{symbol}_{date}` ids collapse same-key docs
    * to one, `to_elasticsearch.py:78`). With a versionCol the LATEST row
    * wins (ES last-write-wins); without one the survivor is arbitrary —
    * only acceptable when same-key rows are identical. */
  private def collapseByKey(updates: DataFrame, keys: Seq[String],
      versionCol: Option[String]): DataFrame = versionCol match {
    case Some(v) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col(v).desc)
      updates.withColumn("__v_rn", row_number().over(w))
        .filter(col("__v_rn") === 1).drop("__v_rn")
    case None => updates.dropDuplicates(keys)
  }

  /** MERGE INTO by key — the serving layer's one keyed upsert (the
    * reference's deterministic-id ES bulk upsert, `to_elasticsearch.py:78`,
    * as a table-format commit): rows of `updates` replace same-key rows,
    * everything else is retained; a merge into an absent table is its
    * first commit. FILE-PRUNED, the property that makes MERGE affordable at
    * 100 TB: a broadcast semi-join of the update keys against the base
    * snapshot (tagged with `input_file_name`) finds the data files that
    * contain a matched key; only THOSE files are rewritten (non-matching
    * rows preserved, updates unioned in) — every untouched file is carried
    * into the new manifest verbatim, so merge cost scales with the touched
    * fraction, not the table (Delta's matched-file rewrite, minus
    * stats-based pruning). The read-merge-stage phase runs OUTSIDE the
    * commit point; on a version conflict the merge is recomputed against
    * the new snapshot (optimistic concurrency — no lock, no lost update).
    * With a versionCol the latest same-key row wins; re-running the same
    * merge is idempotent (new version, identical rows). Files in `path`
    * that no commit names (say, a plain parquet table written there
    * before) are neither read nor touched.
    *
    * Conflict rule (Delta's): a lost race re-commits the SAME staged files
    * when every racing commit is a non-reset that removed none of the
    * files the merge read and added no file whose leading-key range can
    * contain one of its update keys (stats-less adds conservatively
    * conflict) — disjoint-key writers cost no re-scan, no re-stage. The
    * re-stage re-runs the file rewrite only: `updates` itself is fixed, so
    * a batch that embeds state read from the table (a read-modify-write
    * fold) must go through [[mergeAt]] instead. */
  def merge(spark: SparkSession, updates: DataFrame, path: String,
      keys: Seq[String], versionCol: Option[String] = None,
      txn: Option[(String, Long)] = None): Long = {
    val batch = new MergeBatch(updates, keys, versionCol)
    commitLoop(spark, path, "merge", txn)(base => Some(stageMerge(spark, path, batch, base)))
  }

  /** A read-modify-write MERGE: the batch is a function of the version it
    * merges into — `updatesAt(v)` may read the table AS OF `v` (an
    * additive fold bakes the stored counts into its batch, like
    * [[FinanceMv.maintainDailyCloseMv]]). Any commit landing after the
    * read re-runs the WHOLE fold — `updatesAt` included — against the new
    * version, so a racing writer's delta is never overwritten with stale
    * arithmetic (compare-and-swap on the table version; a plain [[merge]]
    * would re-stage only the file rewrite). The table must exist. */
  def mergeAt(spark: SparkSession, path: String, keys: Seq[String],
      txn: Option[(String, Long)] = None)(updatesAt: Long => DataFrame): Long =
    commitLoop(spark, path, "merge", txn) { base =>
      val batch = new MergeBatch(updatesAt(base.getOrElse(throw noTable(path)).version), keys, None)
      Some(stageMerge(spark, path, batch, base).copy(survives = _ => false))
    }

  /** A merge batch collapsed to one row per key, plus the bounds of its
    * leading key — for the stats pre-filter on an existing base and the
    * disjointness rule after a lost race (one tiny agg; multi-key merges
    * still prune soundly on the leading key alone). Lazy: a merge into an
    * absent table reads neither, so its first commit starts no bounds job. */
  private class MergeBatch(updates: DataFrame, val keys: Seq[String],
      versionCol: Option[String]) {
    val rows: DataFrame = collapseByKey(updates, keys, versionCol)
    val keyRows: DataFrame = rows.select(keys.map(col): _*).distinct()
    lazy val (lo, hi) = {
      val row = keyRows.agg(
        min(col(keys.head)).as("lo"), max(col(keys.head)).as("hi")).first()
      (TxStats.toComparable(row.get(0)), TxStats.toComparable(row.get(1)))
    }
  }

  /** Stage one merge of `batch` into the snapshot at `base`: the touched
    * files' rewrite, plus the disjointness rule [[merge]] documents. */
  private def stageMerge(spark: SparkSession, path: String, batch: MergeBatch,
      base: Option[Snapshot]): Staged = {
    val keys = batch.keys
    val (touchedRels, readRels, rewritten) = base match {
      case Some(b) =>
        val baseFiles = b.entries
        // fail-fast additive-evolution guard: a retyped column must be
        // refused BEFORE the commit poisons the table (the read-side
        // snapshotSchema check is the safety net, not the gate)
        val current = snapshotSchema(spark, path, baseFiles.map(_.rel))
        batch.rows.schema.fields.foreach { f =>
          current.fields.find(_.name == f.name).foreach { existing =>
            if (!org.apache.spark.sql.types.DataType
                .equalsIgnoreNullability(existing.dataType, f.dataType))
              throw new IllegalArgumentException(
                s"TxTable $path: merge batch retypes column '${f.name}' " +
                  s"(${existing.dataType.simpleString} -> ${f.dataType.simpleString}) " +
                  "— schema evolution is additive-only")
          }
        }
        // stats pre-filter: a file whose key range cannot intersect the
        // update batch cannot hold a matched key — skip it in the scan
        // AND carry it verbatim. At 100 TB this is what bounds merge cost
        // by the touched region, not the table: the matched-file scan
        // reads only range-overlapping candidates.
        val candidates = baseFiles.filter { e => // no stats: must scan
          e.stats.forall(TxStats.rangesOverlap(_, keys.head, batch.lo, batch.hi))
        }
        // which candidate files hold a matched key? one scan, keys
        // broadcast, read at the snapshot schema just resolved
        val touchedNames =
          if (candidates.isEmpty) Set.empty[String]
          else spark.read.schema(current)
            .parquet(candidates.map(e => s"$path/${e.rel}"): _*)
            .withColumn("__file", input_file_name())
            .join(broadcast(batch.keyRows), keys, "left_semi")
            .select("__file").distinct().collect()
            .map(r => new Path(r.getString(0)).getName).toSet
        val touched = candidates.filter(
          e => touchedNames.contains(new Path(e.rel).getName))
        // mergeSchema on the touched read + allowMissingColumns on the
        // union: an update batch may ADD columns (additive schema
        // evolution — retained rows of rewritten files get null, the
        // snapshotSchema contract); without these a first evolving
        // merge crashes, and a mixed-schema touched set would silently
        // clip to its first file's fields. The USING join moves the keys
        // to the front; the select puts the table's column order back,
        // so a rewritten file reads like the one it replaces
        val rewrite =
          if (touched.isEmpty) batch.rows
          else {
            val kept = spark.read.option("mergeSchema", "true")
              .parquet(touched.map(e => s"$path/${e.rel}"): _*)
            kept.join(batch.keyRows, keys, "left_anti")
              .select(kept.columns.map(kept.col): _*)
              .unionByName(batch.rows, allowMissingColumns = true)
          }
        (touched.map(_.rel), candidates.map(_.rel).toSet, rewrite)
      case None => (Seq.empty[String], Set.empty[String], batch.rows)
    }
    // the commit is the DELTA (removed touched files, added staged ones);
    // carried files are implicit — O(touched) metadata per merge
    Staged(touchedRels, stageData(spark, rewritten, path), survives = { c =>
      !c.reset &&
        !c.removes.exists(readRels.contains) &&
        !c.adds.exists(e =>
          e.stats.forall(TxStats.rangesOverlap(_, keys.head, batch.lo, batch.hi)))
    })
  }

  /** OPTIMIZE-style compaction: rewrite the CURRENT snapshot into
    * `numFiles` files as a new version with identical content. File-pruned
    * merges append a few files per commit; periodic compaction folds the
    * accumulated small files together (vacuum then reclaims the old ones
    * once they age out of retention). Runs through the same optimistic
    * commit loop as any writer, re-staging after every lost race: a reset
    * commit of the STALE snapshot would silently undo the racing commit.
    *
    * `zorderBy = Some((x, y))` is OPTIMIZE ZORDER: the snapshot is
    * redistributed into contiguous Morton-key ranges before the rewrite,
    * so each new file covers a tight (lo, hi) box on BOTH columns — the
    * manifest stats recorded at commit then let [[StatsFileIndex]] prune
    * point/range filters on either column to a few files, where the
    * merge-accumulated layout satisfied almost none. */
  def compact(spark: SparkSession, path: String, numFiles: Int = 1,
      zorderBy: Option[(String, String)] = None): Long =
    commitLoop(spark, path, "compact") { base =>
      val snapshot = scan(spark, path, base.getOrElse(throw noTable(path)).entries)
      val arranged = zorderBy match {
        case Some((x, y)) =>
          graft.operators.Layout.zorderCluster(snapshot, x, y, numFiles)
        case None => snapshot.repartition(numFiles)
      }
      Some(Staged(Nil, stageData(spark, arranged, path), _ => false))
    }

  /** Delta-CDF-style change feed: row-level changes between two committed
    * versions, derived from the commit DELTAS — for a delta commit only
    * its removed/added files are read, so feed cost is O(touched files)
    * per commit, not O(table). This is what lets downstream consumers
    * (incremental indexers, cache invalidation, replication) follow a
    * 100 TB table by reading megabytes per merge.
    *
    * Per commit in `(fromV, toV]`, rows are classified by `keys`:
    *  - key only in the removed files            → `delete`
    *  - key only in the added files              → `insert`
    *  - key in both, any non-key column differs  → `update_preimage` (old
    *    row) + `update_postimage` (new row) — Delta's CDF naming
    *  - key in both, payload identical           → carried rewrite
    *    traffic, NOT a change (suppressed; a merge rewrites whole files,
    *    so most rows in a touched file are carries)
    * Reset commits (write/compact) diff the full previous snapshot
    * against the new one — correct, with the honest full-scan cost a
    * whole-table replacement implies (compact yields an empty feed).
    * Output: `change_type`, `commit_version`, then the table columns. */
  def changes(spark: SparkSession, path: String, fromV: Long, toV: Long,
      keys: Seq[String]): DataFrame = {
    val log = new Log(hfs(spark, path), path)
    val versions = log.commits.filter(v => v > fromV && v <= toV)
    if (versions.map(_ - fromV) != (1L to (toV - fromV)).toSeq)
      throw new java.io.FileNotFoundException(
        s"TxTable $path: change feed ($fromV, $toV] has missing commits: ${versions.mkString(",")}")
    def readRels(rels: Seq[String], schemaOf: => StructType): DataFrame =
      if (rels.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaOf)
      else spark.read.schema(snapshotSchema(spark, path, rels))
        .parquet(rels.map(r => s"$path/$r"): _*)
    // the CDC schema with zero change rows — the shape of the feed's most
    // common polling state (no commits since `fromV`, or only no-op
    // commits in the window); must be a valid empty frame, not a crash
    def emptyFeed: DataFrame = {
      val snap = scan(spark, path, log.at(Some(toV)).entries)
      val nonKey = snap.columns.filterNot(keys.contains).toSeq
      snap.limit(0).select(
        Seq(lit("").as("change_type"), lit(0).cast("int").as("commit_version"))
          ++ (keys ++ nonKey).map(col): _*)
    }
    val frames = versions.flatMap { v =>
      val c = log.commit(v)
      val (oldRels, newRels) =
        if (c.reset) (log.snapshot(v - 1).entries.map(_.rel), c.adds.map(_.rel))
        else (c.removes, c.adds.map(_.rel))
      // a commit touching no files (e.g. a merge of an empty batch) is an
      // empty diff, not an error — it must not poison every window
      // spanning it
      if (oldRels.isEmpty && newRels.isEmpty) None else Some {
      lazy val newDf = readRels(newRels, throw new IllegalStateException(
        s"TxTable $path: commit $v unreachable schema thunk"))
      val oldDf0 = readRels(oldRels, newDf.schema)
      val nw0 = if (newRels.isEmpty) readRels(Nil, oldDf0.schema) else newDf
      // additive schema evolution can land INSIDE a change window: the
      // commit's removed files carry the pre-evolution schema while its
      // adds carry the superset. Null-pad both sides to the column union
      // (types taken from whichever side has the field) so the diff joins
      // resolve — a pre-evolution row's new column reads null, exactly
      // what the snapshot read reports for it.
      val fieldType = (nw0.schema.fields ++ oldDf0.schema.fields)
        .map(f => f.name -> f.dataType).toMap
      val allCols = (nw0.columns ++ oldDf0.columns).distinct.toSeq
      def pad(df: DataFrame): DataFrame = df.select(allCols.map(c0 =>
        if (df.columns.contains(c0)) col(c0)
        else lit(null).cast(fieldType(c0)).as(c0)): _*)
      val oldDf = pad(oldDf0)
      val nw = pad(nw0)
      val nonKey = nw.columns.filterNot(keys.contains).toSeq
      val cols = (keys ++ nonKey).map(col)
      def stamp(t: String) = Seq(lit(t).as("change_type"),
        lit(v).cast("int").as("commit_version"))
      def tag(df: DataFrame, t: String) = df.select(stamp(t) ++ cols: _*)
      val deletes = tag(oldDf.join(nw, keys, "left_anti"), "delete")
      val inserts = tag(nw.join(oldDf, keys, "left_anti"), "insert")
      val o = oldDf.as("o"); val n = nw.as("n")
      val differs = nonKey.map(c0 => !(col(s"o.$c0") <=> col(s"n.$c0")))
        .reduceOption(_ || _).getOrElse(lit(false))
      val both = o.join(n, keys).filter(differs)
      def side(alias: String, t: String) = both.select(
        stamp(t) ++ keys.map(col) ++ nonKey.map(c0 => col(s"$alias.$c0").as(c0)): _*)
      deletes.unionByName(inserts)
        .unionByName(side("o", "update_preimage"))
        .unionByName(side("n", "update_postimage"))
      }
    }
    // allowMissingColumns: commits BEFORE an in-window evolution emit
    // narrower frames — their missing columns are null by definition
    if (frames.isEmpty) emptyFeed
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** DELETE FROM by predicate — the table-format verb a right-to-be-
    * forgotten request needs (a training-data lake must be able to purge
    * a document set; Delta's DELETE): files that cannot contain a
    * matching row are carried verbatim into the new manifest, files with
    * at least one match are rewritten WITHOUT the matching rows, one
    * atomic delta commit. File discovery goes through the stats-pruned
    * snapshot read, so the scan (and therefore the rewrite candidate set)
    * is bounded by the predicate's key range when stats cover it — delete
    * cost scales with the touched region, not the table. Physical removal
    * completes when [[vacuum]] ages out the superseded files (the purge
    * contract: logical immediately, physical after retention).
    *
    * SQL ternary semantics: rows where `condition` is NULL are NOT
    * matched (kept), exactly like `DELETE FROM t WHERE c`. Returns the
    * new version — or the CURRENT version unchanged when nothing
    * matched (an empty delete must not burn a commit: replaying it is
    * then idempotent by construction). Change feeds over the commit
    * emit the removed rows as `delete` rows for free (the manifest diff
    * IS the CDC source). Re-stages after every lost race: the racing
    * commit may have rewritten a co-located row or added a new match. */
  def delete(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column): Long =
    commitLoop(spark, path, "delete") { base =>
      val entries = base.getOrElse(throw noTable(path)).entries
      // stats-pruned match scan: the snapshot read's FileIndex drops files
      // whose ranges cannot satisfy pushed-down predicate fragments
      val touchedNames = scan(spark, path, entries)
        .filter(condition)
        .select(input_file_name().as("__file")).distinct().collect()
        .map(r => new Path(r.getString(0)).getName).toSet
      if (touchedNames.isEmpty) None
      else {
        val touched = entries.filter(e => touchedNames.contains(new Path(e.rel).getName))
        // The rewrite-side read must present the SNAPSHOT schema, not just
        // the union of the touched files': the match scan above ran over the
        // snapshot (old files null-padded), so a predicate referencing a
        // post-evolution column can match rows in pre-evolution files whose
        // footers lack that column — filtering the narrower mergeSchema read
        // with it would throw AnalysisException and fail the delete. Pad the
        // touched read to the snapshot schema (the changeFeed pad) first.
        val snapSchema = snapshotSchema(spark, path, entries.map(_.rel))
        val raw = spark.read.option("mergeSchema", "true")
          .parquet(touched.map(e => s"$path/${e.rel}"): _*)
        val present = raw.columns.toSet
        val kept = raw.select(snapSchema.fields.toSeq.map(f =>
            if (present(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)): _*)
          .filter(!coalesce(condition, lit(false)))
        Some(Staged(touched.map(_.rel), stageData(spark, kept, path), _ => false))
      }
    }

  /** Commit history (version, op, n_files) — newest first. Lists the
    * manifests actually present (vacuum prunes old ones, so the log need
    * not be contiguous from 0). One listing, one read per commit: each
    * version is its predecessor with the commit [[Snapshot.applied]]; only
    * the first version, a version after a gap and a version after an
    * unknowable one go back through the replay, which re-roots at a
    * checkpoint or reset. A version whose delta ancestry has a hole
    * (external mid-log deletion) reports -1 files rather than a
    * silently-wrong fold. */
  def history(spark: SparkSession, path: String): Seq[(Long, String, Int)] = {
    val log = new Log(hfs(spark, path), path)
    var prev: Option[Snapshot] = None
    log.commits.map { v =>
      val s = prev match {
        case Some(p) if p.version == v - 1 && p.files.isRight => p.applied(log.commit(v))
        case _ => log.snapshot(v)
      }
      prev = Some(s)
      (v, log.commit(v).op, s.files.fold(_ => -1, _.size))
    }.reverse
  }

  /** Drop all but the newest `keepVersions` manifests PRESENT (the log need
    * not be contiguous — earlier vacuums prune it), then delete data files
    * that no retained manifest references AND that are older than
    * `retentionMs`. The age threshold is what makes vacuum safe against a
    * CONCURRENT writer: stageData moves files into data/ before its commit
    * publishes, so a freshly-staged-but-uncommitted file is unreferenced —
    * deleting it would corrupt the commit about to win. Files younger than
    * the retention window are left alone (Delta's retention-threshold
    * rule); pass 0 only when no writer can be in flight. `keepVersions`
    * must be at least 1: keeping none would delete the whole log. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 2,
      retentionMs: Long = 60L * 60 * 1000): Unit = {
    require(keepVersions >= 1,
      s"TxTable $path: vacuum must keep at least one version, got keepVersions = $keepVersions")
    val fs = hfs(spark, path)
    val log = new Log(fs, path)
    if (log.commits.isEmpty) return
    val keep = log.commits.takeRight(keepVersions).map(log.snapshot)
    // kept versions must stay resolvable after their delta ancestry is
    // dropped: resolve each, then materialize its checkpoint, BEFORE
    // deleting anything
    val referenced = keep.flatMap(_.entries).map(e => new Path(path, e.rel).getName).toSet
    keep.filterNot(s => log.checkpoints.contains(s.version))
      .foreach(writeCheckpoint(fs, path, _))
    log.commits.dropRight(keepVersions).foreach(v => fs.delete(commitFile(path, v), false))
    log.checkpoints.filter(_ < keep.head.version)
      .foreach(v => fs.delete(checkpointFile(path, v), false))
    val cutoff = System.currentTimeMillis() - retentionMs
    val dataDir = new Path(path, "data")
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).toSeq
        .filter(st => !referenced.contains(st.getPath.getName)
          && st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, false))
  }
}
