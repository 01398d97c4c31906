package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same ladder hook as Bench (local identity checks under rung confs,
    // e.g. digestHex=16), restricted to spark.graft.* keys
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").map(_.trim)
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        require(k.startsWith("spark.graft."),
          s"SPARK_GRAFT_CONF only sets spark.graft.* keys, got $k")
        spark.conf.set(k, v)
      })
    // fail fast on confs whose non-default settings change RESULT VALUES:
    // the oracle SQL is built for the defaults, so running the compare
    // with e.g. sampleDenom=10 produces a guaranteed hash mismatch that
    // would read as a correctness failure instead of a config conflict.
    // (Confs with spec-pinned OUTPUT IDENTITY — dedup.digestHex,
    // approx.percentile at fixture scale — are deliberately allowed:
    // a green compare under them is evidence, not noise.)
    Seq("spark.graft.audit.sampleDenom" -> "1",
        "spark.graft.ann.nProbe" -> "2").foreach { case (k, dflt) =>
      spark.conf.getOption(k).filter(_ != dflt).foreach { v =>
        sys.error(s"$k=$v is a Bench-ladder knob: the DuckDB oracle is " +
          s"built for $k=$dflt, so an oracle compare under this setting " +
          "hash-mismatches by construction. Unset it for Verify runs.")
      }
    }
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (same env contract as Bench); the driver sets
    // nothing, so its run always dumps the full inventory
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = only.fold(SparkEntry.oracleSql)(s =>
        SparkEntry.oracleSql.filter(kv => s(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
