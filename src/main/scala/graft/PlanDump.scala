package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Optimization-round evidence dump: `.explain("formatted")` for a list of
  * declared queries, one file per query, so plan-shape claims in
  * OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <name>[,<name>...] [--executed]
  * Writes <outDir>/<name>_<suffix>.txt. Uses the same session config as
  * Bench so the captured plan is the benched plan.
  *
  * With `--executed`, each query's plan RUNS first (its rows are dropped
  * on the executors) and the dump appends the post-execution adaptive plan
  * (`AdaptiveSparkPlan isFinalPlan=true`) — the evidence for claims about
  * AQE stage reuse / runtime re-optimization that the static explain
  * cannot show.
  *
  * Exits 1 if ANY query fails (r17 advice: a swallowed failure leaves a
  * stale or missing dump, silently falsifying committed plan evidence). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <suffix> <names> [--executed]")
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val executed = args.drop(4).contains("--executed")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.spark.GraftSqlExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    var failed = List.empty[String]
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val static = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val body =
          if (!executed) static
          else {
            // run the df's OWN executed plan (a noop/write sink plans a
            // cloned QE, leaving this one un-executed and its
            // AdaptiveSparkPlan stuck at isFinalPlan=false); afterwards
            // toString prints the AQE FINAL plan including reused stages.
            // Rows are dropped on the executors, never brought to the driver.
            df.queryExecution.executedPlan.execute().foreach(_ => ())
            static + "\n\n=== Executed (AQE final) plan ===\n\n" +
              df.queryExecution.executedPlan.toString
          }
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          body.getBytes("UTF-8"))
        System.err.println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] FAILED: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
