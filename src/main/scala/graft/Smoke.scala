package graft

/** Local smoke-check of the driver contract: runs SparkEntry.entry (the
  * flagship covid pipeline) and prints its row count + schema. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start("graft-smoke")
    val df = SparkEntry.entry(spark)
    println(s"[smoke] entry rows=${df.count()}")
    df.printSchema()
    df.show(5, truncate = false)
    spark.stop()
  }
}
