package lakebench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Golden result hashes of the dashboard queries. [[write]] runs each query
  * once, stores its rows as parquet next to its oracle SQL (so `golden.py`
  * can replay the oracle in DuckDB and compare values) and writes the
  * `name<TAB>rows<TAB>hash` file the runs compare against. */
object Goldens {

  def read(path: String): Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, rows, h) = l.split("\t")
      n -> (rows.toLong, h.toLong)
    }.toMap
    finally src.close()
  }

  def write(spark: SparkSession, data: String, out: String): Unit = {
    val dir = s"$data/${Dashboard.Sf}"
    val qs = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val lines = Dashboard.Queries.map { case (_, _, q) =>
      val df = qs(q)(spark, dir)
      df.write.mode("overwrite").parquet(s"$out/$q")
      val (h, n) = ResultHash(df)
      s"$q\t$n\t$h"
    }
    val sql = Dashboard.Queries.flatMap { case (_, _, q) => oracle.get(q).map(q -> _) }.toMap
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "hashes.tsv"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "oracle_sql.json"),
      Json(sql).getBytes("UTF-8"))
  }
}
