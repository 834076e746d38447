package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static hygiene over the registered query surface and the source tree —
  * rules that hold for every CURRENT and FUTURE oracle or module, enforced
  * without a Spark session.
  */
class RepoHygieneSpec extends AnyFunSuite {

  /** Every main source file with its text; run from the repo root. */
  private lazy val mainSources: Seq[(java.io.File, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    files(root).filter(_.getName.endsWith(".scala")).sortBy(_.getPath).map { f =>
      f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
  }

  private def files(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) files(f) else Seq(f)
    }

  private val TxTableSource = "src/main/scala/graft/serve/TxTable.scala"

  /** The file of every match of `re` across the main sources. */
  private def sites(re: scala.util.matching.Regex): Seq[String] =
    mainSources.flatMap { case (f, text) => re.findAllIn(text).map(_ => f.getPath) }

  test("no bare \\s in oracle SQL: whitespace must be an explicit class") {
    // Java \s includes vertical tab \x0B, RE2's (DuckDB) does not — a bare
    // \s in a dual-dialect tokenizer diverges on any document containing a
    // VT. Every shared pattern spells the class out (TextFunctions.Ws).
    val offenders = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.contains("\\s") => name
    }
    assert(offenders.isEmpty,
      s"bare \\s in oracle SQL (Java-vs-RE2 VT divergence): ${offenders.mkString(", ")}")
  }

  test("no double-backslash escapes in oracle SQL string values") {
    // DuckDB standard-conforming strings do NOT process backslash escapes:
    // a regex must arrive with single backslashes. A doubled backslash in
    // the final SQL text means an s-interpolation layer was miscounted and
    // the pattern matches a literal backslash instead.
    val offenders = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.contains("\\\\") => name
    }
    assert(offenders.isEmpty,
      s"double backslash reached final SQL text: ${offenders.mkString(", ")}")
  }

  test("the streaming foreachBatch skeleton exists once, in TxStream") {
    // every streaming TxTable sink drains through TxStream.drain, which
    // stamps each micro-batch for exactly-once commits; a second
    // foreachBatch would be a sink that skips the stamp
    val allowed = new java.io.File("src/main/scala/graft/streaming/TxStream.scala")
    val offenders = mainSources.collect {
      case (f, text) if f != allowed && text.contains("foreachBatch") => f
    }
    assert(allowed.isFile && offenders.isEmpty,
      s"foreachBatch outside TxStream.scala: ${offenders.mkString(", ")}")
  }

  test("the optimistic commit loop exists once, in TxTable") {
    // every TxTable writer commits through one stage-validate-commit loop;
    // a second retry loop would be a writer with its own conflict rule,
    // and a ConcurrentModificationException a caller-side retry protocol
    val loops = sites("""\b(while|for)\b[^\n]*\bMaxCommitRetries\b""".r)
    assert(loops == Seq(TxTableSource), s"MaxCommitRetries loops: ${loops.mkString(", ")}")
    val cme = mainSources.collect {
      case (f, text) if text.contains("ConcurrentModificationException") => f
    }
    assert(cme.isEmpty, s"ConcurrentModificationException in ${cme.mkString(", ")}")
  }

  test("the TxTable log replay exists once: one checkpoint parser, one commit fold") {
    // every reader and writer resolves its snapshot through one replay
    // (Log.snapshot) and its one step (Snapshot.applied); a second
    // resolver would carry its own rooting rule, and the two would drift
    val cpParse = sites("""unframe\([^\n]*"checkpoint"""".r)
    assert(cpParse == Seq(TxTableSource), s"checkpoint parsers: ${cpParse.mkString(", ")}")
    val cpRead = sites("""\bcheckpointLines\(""".r)
    assert(cpRead == Seq(TxTableSource, TxTableSource),
      s"checkpointLines must have one caller, the replay: ${cpRead.mkString(", ")}")
    // a commit's removes reach a manifest only by leaving a map
    val fold = sites("""\bremoves\.(foreach|foldLeft)\b|(--|removedAll\()\s*[\w.]*\bremoves\b""".r)
    assert(fold == Seq(TxTableSource), s"commit folds: ${fold.mkString(", ")}")
  }

  test("spark-side whitespace class matches the oracle-side text") {
    // one definition, two dialects: the Spark pattern constant must be the
    // exact text the oracle SQL inlines
    assert(graft.functions.TextFunctions.Ws == "[ \\t\\n\\x0B\\f\\r]")
  }

  test("session-shared artifacts live in one registry: Artifacts") {
    // every session-shared artifact is declared once in Artifacts, the only
    // place a value may be keyed by session; a private memo elsewhere would
    // be invisible to the warm-up walk and to the build/hit accounting
    val retired = "Session" + "Memo"
    val memo = Seq("src", "tools").flatMap(d => files(new java.io.File(d))).filter { f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").contains(retired)
    }
    assert(memo.isEmpty, s"$retired in ${memo.mkString(", ")}")
    val keyed = sites("""Map\[\s*\(?\s*SparkSession\b""".r)
      .filterNot(_ == "src/main/scala/graft/Artifacts.scala")
    assert(keyed.isEmpty, s"maps keyed by SparkSession: ${keyed.mkString(", ")}")
    // the warm-up builds artifacts through their declarations, never by
    // caching a frame and hoping a consumer's plan matches it
    val bench = sites("""\.cache\(\)""".r).filter(_ == "src/main/scala/graft/Bench.scala")
    assert(bench.isEmpty, "Bench.scala calls .cache()")
  }

  test("no artifact build ends in .cache(): the registry persists what it stores") {
    // Artifact.apply caches every frame of a fresh value; a build that
    // caches its own result is a second, hand-kept copy of that policy.
    // The rule reads only the literal tail of the build body: a tail moved
    // one call deeper (a helper ending in .cache()) passes here, and is
    // harmless only because Artifacts.persist skips a plan the
    // CacheManager already holds
    val offenders = mainSources.flatMap { case (f, text) =>
      """\bArtifacts\.\w+\(""".r.findAllMatchIn(text).flatMap { m =>
        val keyEnd = closing(text, m.end - 1)
        val open = text.indexWhere(!_.isWhitespace, keyEnd + 1)
        if (open < 0 || (text(open) != '{' && text(open) != '(')) None
        else {
          val body = text.substring(open + 1, closing(text, open))
          val last = body.linesIterator.map(_.replaceAll("//.*", "").trim)
            .filter(_.nonEmpty).toSeq.lastOption.getOrElse("")
          if (last.contains(".cache()"))
            Some(s"${f.getPath}:${text.substring(0, m.start).count(_ == '\n') + 1}")
          else None
        }
      }
    }
    assert(offenders.isEmpty, s"artifact builds ending in .cache(): ${offenders.mkString(", ")}")
  }

  /** The index of the bracket closing the one at `open`, skipping string
    * and char literals and comments. */
  private def closing(text: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < text.length) {
      if (text.startsWith("\"\"\"", i)) i = text.indexOf("\"\"\"", i + 3) + 2
      else if (text.startsWith("//", i)) i = text.indexOf('\n', i) match { case -1 => text.length; case n => n }
      else if (text.startsWith("/*", i)) i = text.indexOf("*/", i + 2) + 1
      else if (text.startsWith("'\\", i)) i = text.indexOf('\'', i + 3)
      else if (text(i) == '\'' && i + 2 < text.length && text(i + 2) == '\'') i += 2
      else text(i) match {
        case '"' =>
          i += 1
          while (text(i) != '"') i += (if (text(i) == '\\') 2 else 1)
        case '(' | '{' | '[' => depth += 1
        case ')' | '}' | ']' =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    sys.error(s"unbalanced bracket at $open")
  }
}
