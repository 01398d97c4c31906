package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for declared queries to files — the
  * round's plan-evidence artifact (plans/rNN/<query>_{before,after}.txt).
  * The session is Bench's ([[graft.GraftSession]]), so the dumped plans
  * are the plans the bench actually runs.
  * Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...|all]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r10")
    val suffix = args.lift(2).getOrElse("before")
    val names: Seq[String] = args.lift(3).filterNot(_ == "all")
      .fold(graft.SparkEntry.queries.keySet)(graft.SparkEntry.onlyQueries)
      .toSeq.sorted
    val spark = graft.GraftSession.start("graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      spark.catalog.clearCache()
      System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
