package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static hygiene over the registered query surface and the source tree —
  * rules that hold for every CURRENT and FUTURE oracle or module, enforced
  * without a Spark session.
  */
class RepoHygieneSpec extends AnyFunSuite {

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
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f)
      }
    val allowed = new java.io.File(root, "graft/streaming/TxStream.scala")
    val offenders = files(root).filter { f =>
      f.getName.endsWith(".scala") && f != allowed &&
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .contains("foreachBatch")
    }
    assert(allowed.isFile && offenders.isEmpty,
      s"foreachBatch outside TxStream.scala: ${offenders.mkString(", ")}")
  }

  test("the optimistic commit loop exists once, in TxTable") {
    // every TxTable writer commits through one stage-validate-commit loop;
    // a second retry loop would be a writer with its own conflict rule,
    // and a ConcurrentModificationException a caller-side retry protocol
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f)
      }
    val sources = files(root).filter(_.getName.endsWith(".scala")).map { f =>
      f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
    val retryLoop = """\b(while|for)\b[^\n]*\bMaxCommitRetries\b""".r
    val loops = sources.flatMap { case (f, text) =>
      retryLoop.findAllIn(text).map(_ => f).toSeq
    }
    assert(loops == Seq(new java.io.File(root, "graft/serve/TxTable.scala")),
      s"MaxCommitRetries loops: ${loops.mkString(", ")}")
    val cme = sources.collect {
      case (f, text) if text.contains("ConcurrentModificationException") => f
    }
    assert(cme.isEmpty, s"ConcurrentModificationException in ${cme.mkString(", ")}")
  }

  test("spark-side whitespace class matches the oracle-side text") {
    // one definition, two dialects: the Spark pattern constant must be the
    // exact text the oracle SQL inlines
    assert(graft.functions.TextFunctions.Ws == "[ \\t\\n\\x0B\\f\\r]")
  }
}
