package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to plans/<tag>/ —
  * the r18 optimization round's before/after plan evidence. The plan is
  * read AFTER executing the frame (ExplainAudit's discipline: under AQE
  * the pre-execution string is the unfinalised skeleton), so the dump
  * shows final join strategies, reused exchanges and codegen spans.
  *
  *   sbt "runMain graft.PlanDump r18/before q187_multilex_pipeline[,...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outTag = args(0) // e.g. "r18" with files suffixed _before/_after
    val suffix = args(1) // "before" | "after"
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    // ad-hoc conf overrides (QBench's device, r19): lets a conf-flagged
    // variant's plan be dumped as the honest "before" evidence, e.g. the
    // naive nested-loop similarity join:
    //   SPARK_GRAFT_CONF='spark.graft.similarityJoin.rewrite=false'
    val overrides = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
      .split(";").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val b0 = HarnessTuning(SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
    val spark = overrides.foldLeft(b0)((b, kv) => b.config(kv._1, kv._2)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Quiet.windowExecWarnings()
    val dir = Paths.get(s"plans/$outTag")
    Files.createDirectories(dir)
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.toRdd.foreach(_ => ())
      val formatted =
        df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString
      val body = s"== $name (sf=$sfDir) ==\n\n--- explain formatted " +
        s"(post-execution) ---\n$formatted\n--- executed adaptive plan " +
        s"---\n$executed\n"
      Files.write(dir.resolve(s"${name}_$suffix.txt"), body.getBytes("UTF-8"))
      println(s"[plandump] wrote plans/$outTag/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
