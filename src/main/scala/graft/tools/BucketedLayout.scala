package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Json

/** Materialize bucketed table layouts — the 100 TB answer to the fact-join
  * exchange (BASELINE.md "q116/q117 laddered": q117's irreducible shuffle
  * IS the distinct (l_partkey, l_suppkey) association build over unbucketed
  * input; with lineitem bucketed by l_partkey the distinct AND the part
  * join run exchange-free, moving the shuffle from every query to a
  * one-time ingest write).
  *
  * Each layout is written as a bucketed EXTERNAL table directory plus a
  * `_bucketspec` properties file; [[graft.sources.Tables]] re-registers the
  * layout in any later session from that spec when
  * `spark.graft.bucketed.<table>` points at the directory — bucket
  * metadata lives in the catalog, so a plain parquet read cannot carry it
  * across JVMs; the spec file is the portable source of truth.
  *
  * The write repartitions by the bucket key into exactly `n` partitions
  * BEFORE `bucketBy(n, key)`: repartition's HashPartitioning and the
  * bucket-id function are the same Murmur3 `pmod(hash(key), n)`, so every
  * write task holds exactly one bucket and each bucket lands in ONE file —
  * the layout under which Spark also honors the `sortBy` order at scan
  * time (multi-file buckets keep the partitioning but drop the sortedness).
  *
  * Usage: runMain graft.tools.BucketedLayout <srcDir> <outDir> <nBuckets>
  *          [layoutsCsv]
  * where layoutsCsv entries are `table:bucketCol` (default: the q117/q04
  * set — lineitem:l_partkey, lineitem:l_orderkey, orders:o_orderkey,
  * part:p_partkey). Emits one JSON line per layout with the write wall —
  * the honest price of moving the shuffle to ingest.
  */
object BucketedLayout {

  val DefaultLayouts: Seq[(String, String)] = Seq(
    "lineitem" -> "l_partkey",
    "lineitem" -> "l_orderkey",
    "orders"   -> "o_orderkey",
    "part"     -> "p_partkey")

  def layoutDir(outDir: String, table: String, key: String): String =
    s"$outDir/${table}_by_$key"

  /** Write one bucketed layout: external table files + `_bucketspec`. */
  def writeLayout(spark: SparkSession, df: DataFrame, path: String,
                  table: String, key: String, n: Int): Unit = {
    // ephemeral catalog name: saveAsTable is the only bucketed-write API;
    // the catalog entry is dropped after the write (the data + spec file
    // are the artifact, re-registered by Tables from the spec)
    val tmp = s"graft_bl_${table}_${key}_tmp"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    df.repartition(n, col(key))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(n, key).sortBy(key)
      .option("path", path)
      .saveAsTable(tmp)
    spark.sql(s"DROP TABLE IF EXISTS $tmp") // external: files survive
    val spec = s"table=$table\nbucketBy=$key\nsortBy=$key\nbuckets=$n\n"
    val p = new org.apache.hadoop.fs.Path(path, "_bucketspec")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(spec.getBytes("UTF-8")) finally out.close()
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_bucketed")
    val n = args.lift(2).flatMap(_.toIntOption).getOrElse(32)
    val layouts = args.lift(3).map(_.split(",").toSeq.map { s =>
      val Array(t, k) = s.split(":", 2); (t.trim, k.trim)
    }).getOrElse(DefaultLayouts)
    val spark = graft.GraftSession.start("graft-bucketed-layout")
    layouts.foreach { case (table, key) =>
      val t0 = System.nanoTime()
      writeLayout(spark, graft.sources.Tables.load(spark, src, table),
        layoutDir(out, table, key), table, key, n)
      val sec = (System.nanoTime() - t0) / 1e9
      println(Json.mapper.writeValueAsString(Json.obj()
        .put("layout", s"${table}_by_$key").put("buckets", n)
        .put("write_sec", Json.dec(sec, 1)).put("src", src)))
    }
    spark.stop()
  }
}
