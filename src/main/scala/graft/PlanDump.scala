package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-capture utility for the optimization rounds: writes
  * `.explain("formatted")` of named declared queries to files
  * (`plans/rNN/<query>_before.txt` / `_after.txt` are committed as the
  * judge-checkable evidence for plan claims).
  *
  *   runMain graft.PlanDump <sfDir> <outDir> [q1,q2,...]
  *
  * Capturing a plan only ANALYZES the query; note that store-backed
  * queries stage their stores on first touch and streaming
  * choreographies run their drains before returning the final frame —
  * capture those selectively.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val names =
      if (args.length > 2) args(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    // SPARK_GRAFT_PLANDUMP_EXEC=1: EXECUTE the query first and dump the
    // AQE-FINAL executed plan (isFinalPlan=true) instead of the initial
    // one — the evidence mode for claims AQE decides at runtime (stage
    // reuse, join rewrites, coalescing). It runs df's OWN QueryExecution:
    // a sink write would plan and finalize a separate one.
    val exec = sys.env.get("SPARK_GRAFT_PLANDUMP_EXEC").isDefined
    for (n <- names; fn <- SparkEntry.queries.get(n)) {
      try {
        val df = fn(spark, dir)
        val p = if (exec) {
          df.queryExecution.toRdd.foreach(_ => ())
          df.queryExecution.executedPlan.toString
        } else df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(out, s"$n.txt"), p)
        println(s"[plandump] $n ok (${p.linesIterator.size} lines)")
      } catch {
        case e: Throwable => println(s"[plandump] $n FAILED: $e")
      }
    }
    spark.stop()
  }
}
