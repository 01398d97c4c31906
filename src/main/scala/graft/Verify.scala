package graft
import java.nio.file.{Files, Paths}
import graft.queries.TextQueries
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local-iteration filter (same env contract as Bench); unset, the run
    // dumps the full inventory
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(SparkEntry.onlyQueries)
    val spark = GraftSession.start("graft-verify")
    // fail fast on confs whose non-default settings change RESULT VALUES:
    // the oracle SQL is built for the defaults, so running the compare
    // with e.g. sampleDenom=10 produces a guaranteed hash mismatch that
    // would read as a correctness failure instead of a config conflict.
    // (dedup.digestHex, whose OUTPUT IDENTITY specs pin, is deliberately
    // allowed: a green compare under it is evidence, not noise.)
    Seq("spark.graft.audit.sampleDenom" -> TextQueries.sampleDenom.toString
    ).foreach { case (k, dflt) =>
      spark.conf.getOption(k).filter(_ != dflt).foreach { v =>
        sys.error(s"$k=$v is a Bench-ladder knob: the DuckDB oracle is " +
          s"built for $k=$dflt, so an oracle compare under this setting " +
          "hash-mismatches by construction. Unset it for Verify runs.")
      }
    }
    new java.io.File(outDir).mkdirs()
    val selected = only.fold(SparkEntry.queries)(s =>
      SparkEntry.queries.filter(kv => s(kv._1)))
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        spark.catalog.clearCache() // q20/q44 persist() intermediates
        // localCheckpoint RDD caches are outside clearCache's reach and
        // otherwise live until a driver GC notices them (Bench has the
        // same release and its invariant: no frame may outlive a query run)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(
      only.fold(SparkEntry.oracleSql)(s => SparkEntry.oracleSql.filter(kv => s(kv._1)))))
    spark.stop()
  }

  /** oracle_sql.json: query name -> DuckDB SQL. Library-escaped — a tab or
    * CR in an oracle query that broke the compare's `json.load` would
    * silently zero the round's correctness. */
  def oracleJson(sql: Map[String, String]): String = Json.mapper.writeValueAsString(
    sql.foldLeft(Json.obj()) { case (o, (k, v)) => o.put(k, v) })
}
