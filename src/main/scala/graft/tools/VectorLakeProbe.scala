package graft.tools

import org.apache.spark.sql.functions._
import graft.Json
import graft.pipeline.VectorLake
import graft.sources.Tables

/** Scale probe for the materialized ANN index ([[graft.pipeline.VectorLake]]):
  * measures the three costs the design separates — full index BUILD over the
  * corpus, incremental APPEND of a small slice, and a query batch's TOPK —
  * so "increment cost = increment size" and "queries never re-bucket the
  * corpus" are numbers in BASELINE.md, not prose.
  *
  * Usage: runMain graft.tools.VectorLakeProbe <sfDir> <indexPath>
  *        [appendFraction=0.01] [nQueries=8]
  * Build banks all vectors EXCEPT the append slice (vec_id-derived, pure
  * function — same rows at any parallelism), append banks the slice, topK
  * answers nQueries corpus vectors against the final index. Prints one JSON
  * line with the three walls + index row count.
  */
object VectorLakeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val path = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_veclake_probe").toString)
    val appendDenom = args.lift(2).flatMap(_.toIntOption).getOrElse(100)
    val nQueries = args.lift(3).flatMap(_.toIntOption).getOrElse(8)
    val spark = graft.GraftSession.start("graft-veclake-probe")
    val emb = Tables.embeddings(spark, sfDir)
    val isAppend = col("vec_id") % appendDenom === 0
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // quantized-artifact costs separate the same way: TRAIN (the coarse
    // quantizer, once per corpus) vs BUILD (bank buckets + payloads +
    // SQ8 cells) vs APPEND (increment only) vs QUERY (topKSq8 — reads
    // two tiny metadata tables and the probed cells; its wall must be
    // independent of train/build cost, which this probe demonstrates by
    // timing them apart)
    val (cents, trainS) = timed(
      graft.queries.SimilarityQueries.ivfCentroids(spark, sfDir))
    val (_, buildS) = timed(VectorLake.build(spark, emb.filter(!isAppend),
      path, centroids = Some(cents)))
    val (_, appendS) = timed(VectorLake.append(spark, emb.filter(isAppend), path))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ((rows, banked), topkS) = timed {
      val r = VectorLake.topK(spark, queries, path).count()
      (r, spark.read.parquet(s"$path/buckets").count())
    }
    val ((sqRows, cellRows), topkSqS) = timed {
      val r = VectorLake.topKSq8(spark, queries, path).count()
      (r, spark.read.parquet(s"$path/cells").count())
    }
    println(Json.mapper.writeValueAsString(Json.obj()
      .put("metric", "veclake").put("sf", sfDir)
      .put("train_s", Json.dec(trainS, 3)).put("build_s", Json.dec(buildS, 3))
      .put("append_s", Json.dec(appendS, 3)).put("topk_s", Json.dec(topkS, 3))
      .put("topk_sq8_s", Json.dec(topkSqS, 3)).put("cell_rows", cellRows)
      .put("sq8_rows", sqRows).put("banked_rows", banked)
      .put("topk_rows", rows).put("append_denom", appendDenom)))
    spark.stop()
  }
}
