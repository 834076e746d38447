package graft.tools
import org.apache.spark.sql.SparkSession

/** Phase decomposition of the bench's residual top lines (r18: everything
  * between 1.5 and 4 s after the DSIR memos landed). For each named
  * registry query: planning time vs first execution vs re-execution on
  * the SAME warm session the bench uses — separating "the artifact memo
  * does not cover this" (re-exec stays expensive) from "per-call plan
  * construction dominates" (re-exec is cheap, planning is not) from
  * "genuinely hot kernel" (everything is execution). */
object ProfileTop {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    val names = args.toSeq match {
      case Seq() => Seq("q_join_estimate", "q_join_estimate_guarantee",
        "q_asof_join", "q_asof_native", "q_asof_forward", "q_lm_score",
        "q_embed_text_pq", "q_embed_text_ivf", "q_label_noise")
      case more => more
    }
    def sec[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    // the bench's own warm-up artifacts, so phases read steady-state
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
      catch { case e: Throwable => println(s"[warm $n] $e") }
    }
    println(f"${"query"}%-28s ${"plan"}%8s ${"exec1"}%8s ${"exec2"}%8s ${"exec3"}%8s ${"exec4"}%8s")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val (tPlan, df) = sec { val d = fn(spark, dir); d.queryExecution.executedPlan; d }
      val (tExec1, _) = sec(df.queryExecution.toRdd.count())
      val df2 = fn(spark, dir)
      val (tExec2, _) = sec(df2.queryExecution.toRdd.count())
      val (tExec3, _) = sec(fn(spark, dir).queryExecution.toRdd.count())
      val (tExec4, _) = sec(fn(spark, dir).queryExecution.toRdd.count())
      println(f"$n%-28s $tPlan%8.2f $tExec1%8.2f $tExec2%8.2f $tExec3%8.2f $tExec4%8.2f")
      if (sys.env.contains("PROFILE_TOP_EXPLAIN"))
        println(df2.queryExecution.executedPlan.toString
          .split("\n").take(25).mkString("\n"))
    }
    spark.stop()
  }
}
