package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.pipeline.{CovidFixture, CovidPipeline}
import graft.sources.Sinks

/** Date-partitioned sink semantics: append creates one partition per date,
  * re-runs replace only their own partition, and per-date reads are
  * partition-PRUNED (no other date's files opened). */
class SinksSpec extends SparkSpec {

  private def flatFor(ds: String) =
    CovidPipeline.run(spark, CovidFixture.stage(spark, ds), ds).flat

  test("append + dynamic overwrite keep per-date partitions independent") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val d1 = "2023-03-02"; val d2 = "2023-03-03"
    Sinks.appendDatePartition(flatFor(d1), dir)
    Sinks.appendDatePartition(flatFor(d2), dir)
    assert(Sinks.readDatePartition(spark, dir, d1).count() === 240)
    assert(spark.read.parquet(dir).count() === 480)

    // idempotent re-run of d2: doubled rows would be the append bug
    Sinks.overwriteDatePartition(flatFor(d2), dir)
    assert(spark.read.parquet(dir).count() === 480)
    assert(Sinks.readDatePartition(spark, dir, d2).count() === 240)
  }

  test("Tables.events normalizes every writer's ts flavor to TimestampType") {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val dir = Files.createTempDirectory("graft_events_ts").toString
    val base = graft.sources.Tables.events(spark, sfDir).limit(100)
    // leg 1: engine-written TIMESTAMP (parquet isAdjustedToUTC=true)
    base.write.mode("overwrite").parquet(s"$dir/us/events.parquet")
    // leg 2: TIMESTAMP_NTZ (pandas/pyarrow write isAdjustedToUTC=false by
    // default — the r2 fixture change that broke all 13 event-time queries).
    // The third flavor, TIMESTAMP(NANOS)-as-long, needs a non-Spark writer
    // and is pinned by the sf fixtures themselves via this same loader.
    base.withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.mode("overwrite").parquet(s"$dir/ntz/events.parquet")
    assert(spark.read.parquet(s"$dir/ntz/events.parquet")
      .schema("ts").dataType === TimestampNTZType) // the trap is real
    val us = graft.sources.Tables.events(spark, s"$dir/us")
    val ntz = graft.sources.Tables.events(spark, s"$dir/ntz")
    assert(us.schema("ts").dataType === TimestampType)
    assert(ntz.schema("ts").dataType === TimestampType)
    // value-preserving under the UTC session TZ: identical epoch micros
    def micros(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq
    assert(micros(us) === micros(ntz))
  }

  test("clustered write makes row-group stats tight (scan skips row groups)") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_clustered").toString
    // many small row groups so pruning is observable on fixture-sized data
    spark.conf.set("parquet.block.size", (64 * 1024).toString)
    try {
      val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.01")
        .withColumn("day_of_data", to_date(col("ts")))
      Sinks.appendClusteredDatePartition(events, dir, clusterBy = "user_id")
      val df = spark.read.parquet(dir).filter(col("user_id") === 7)
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: FileSourceScanExec => s
      }.get
      // pushed filter + correct rows; with sorted row groups the parquet
      // reader's numOutputRows ~ matching rows, not the whole table
      assert(scan.metadata("PushedFilters").contains("EqualTo(user_id,7)"))
      val expected = graft.sources.Tables.events(spark, "/root/testdata/sf0.01")
        .filter(col("user_id") === 7).count()
      assert(df.count() === expected)
      assert(scan.metrics("numOutputRows").value < 10000,
        s"scan read ${scan.metrics("numOutputRows").value} rows — row-group pruning inactive")
    } finally spark.conf.unset("parquet.block.size")
  }

  test("z-ordered write prunes row groups for filters on EITHER z column") {
    val dir = Files.createTempDirectory("graft_zorder").toString
    spark.conf.set("parquet.block.size", (64 * 1024).toString)
    try {
      // single logical date + one input partition -> ONE file with many
      // row groups: any pruning observed comes from z-order stats alone
      val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
        .withColumn("day_of_data", to_date(lit("2024-01-01")))
        .repartition(1)
      Sinks.appendZOrderedDatePartition(events, dir,
        zCols = Seq("user_id", "value"))
      val total = spark.read.parquet(dir).count()
      def scanRows(filter: org.apache.spark.sql.Column): (Long, Long) = {
        val df = spark.read.parquet(dir).filter(filter)
        val matching = df.count()
        df.collect()
        val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
          case s: FileSourceScanExec => s
        }.get
        (scan.metrics("numOutputRows").value, matching)
      }
      // a 1-D clustered write gives one of these all the locality and the
      // other none; z-order gives BOTH enough for row-group skipping
      // selective in ROWS, not just range — value is skewed low, so the
      // selective value predicate is the high tail
      val (rowsReadUser, matchUser) = scanRows(col("user_id") === 7)
      val (rowsReadValue, matchValue) = scanRows(col("value") > 300.0)
      assert(matchUser > 0 && matchValue > 0)
      assert(rowsReadUser < total / 2,
        s"user_id filter read $rowsReadUser of $total rows — no z-locality")
      assert(rowsReadValue < total / 2,
        s"value filter read $rowsReadValue of $total rows — no z-locality")
    } finally spark.conf.unset("parquet.block.size")
  }

  test("dim filter dynamically prunes fact partitions (DPP)") {
    val dir = Files.createTempDirectory("graft_dpp").toString
    Seq("2023-03-01", "2023-03-02", "2023-03-03")
      .foreach(ds => Sinks.appendDatePartition(flatFor(ds), dir))
    import spark.implicits._
    val fact = spark.read.parquet(dir)
    // dim must be file-backed: a local Seq would have its filter constant-
    // folded into the LocalRelation and DPP needs a surviving selective
    // predicate on the pruning side
    val dimDir = Files.createTempDirectory("graft_dpp_dim").toString
    // the flag is a STRING compared with === (not a bare boolean column):
    // PartitionPruning only fires for "likely selective" predicate shapes
    // (comparisons/IN/LIKE), and `WHERE keep` is a lone attribute
    Seq(("2023-03-01", "n"), ("2023-03-02", "y"), ("2023-03-03", "n"))
      .toDF("ds", "flag")
      .select(col("ds").cast("date").as("day_of_data"), col("flag"))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    // the partition predicate exists only in the DIM — at plan time the
    // fact side cannot be statically pruned; DPP injects a runtime
    // subquery filter on the partition column from the broadcast side
    val joined = fact.join(dim.filter(col("flag") === "y"), Seq("day_of_data"))
    joined.collect()
    val scan = fileScans(joined)
      .find(_.metadata("Location").contains("graft_dpp")).get
    assert(scan.metadata("PartitionFilters").contains("dynamicpruning"),
      scan.metadata("PartitionFilters"))
    // only the surviving date's files were opened (240 of 720 rows)
    assert(joined.count() === 240)
    val filesInKeptPartition = new java.io.File(s"$dir/day_of_data=2023-03-02")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(scan.metrics("numFiles").value === filesInKeptPartition,
      s"scan opened ${scan.metrics("numFiles").value} files")
  }

  test("per-date read is partition pruning, not a data filter") {
    val dir = Files.createTempDirectory("graft_sink2").toString
    Sinks.appendDatePartition(flatFor("2023-03-02"), dir)
    Sinks.appendDatePartition(flatFor("2023-03-03"), dir)
    val df = Sinks.readDatePartition(spark, dir, "2023-03-02")
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s
    }.get
    assert(scan.metadata("PartitionFilters").contains("day_of_data"),
      scan.metadata("PartitionFilters"))
    // the pruned scan opens exactly the one partition's data files
    df.collect()
    val filesOnDisk = new java.io.File(s"$dir/day_of_data=2023-03-02")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(scan.metrics("numFiles").value === filesOnDisk)
  }

  test("csv and json round-trip with explicit schema preserve values") {
    import spark.implicits._
    // hostile-but-legal content: delimiter, quote, newline escape, unicode
    val rows = Seq(
      (1L, "plain", 1.5, java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456")),
      (2L, "a,b\"q\nnl", -0.25, java.sql.Timestamp.valueOf("2024-06-30 23:59:59.0")),
      (3L, "unicode £é中", 0.0, java.sql.Timestamp.valueOf("2024-12-31 00:00:00.0")))
    val df = rows.toDF("id", "s", "v", "ts")
    for (fmt <- Seq("csv", "json")) {
      val dir = Files.createTempDirectory(s"graft_$fmt").toString
      // default csv timestampFormat truncates to millis — pin micros
      val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      df.write.mode("overwrite")
        .option("header", "true") // csv-only; json ignores it
        .option("multiLine", "true")
        .option("timestampFormat", tsFmt)
        .format(fmt).save(dir)
      val back = spark.read.schema(df.schema) // explicit contract, no inference
        .option("header", "true").option("multiLine", "true")
        .option("timestampFormat", tsFmt)
        .format(fmt).load(dir)
        .as[(Long, String, Double, java.sql.Timestamp)].collect().toSet
      assert(back === rows.toSet, s"$fmt round-trip mangled values")
    }
  }

  test("compaction rewrites a partition to N sorted files, preserving rows exactly") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val rows = (0 until 2000).map(i => ((i * 7919) % 2000, s"v$i", "2024-03-01"))
    // simulate micro-batch litter: two appends of 8 files each, unsorted
    for (half <- rows.grouped(1000))
      graft.sources.Sinks.appendDatePartition(
        half.toDF("k", "v", "day_of_data").repartition(8), path)
    def partFiles = new java.io.File(s"$path/day_of_data=2024-03-01")
      .listFiles.filter(_.getName.endsWith(".parquet"))
    assert(partFiles.length === 16, "setup should litter 16 small files")
    val before = spark.read.parquet(path).as[(Int, String, String)].collect().sorted
    graft.sources.Sinks.compactDatePartition(spark, path, "2024-03-01",
      targetFiles = 2, clusterBy = "k")
    assert(partFiles.length === 2, "compaction must hit the target file count")
    val after = spark.read.parquet(path).as[(Int, String, String)].collect().sorted
    assert(after === before, "compaction changed the data")
    // the rewrite must also restore clustering: each file sorted on k
    for (f <- partFiles) {
      val ks = spark.read.parquet(f.getAbsolutePath).select("k").as[Int].collect()
      assert(ks.zip(ks.tail).forall { case (a, b) => a <= b },
        s"${f.getName} not sorted on the cluster key")
    }
  }

  test("schema evolution: added column merges across partitions, old rows read NULL") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    // day 1 written before the `score` column existed; day 2 after
    Seq((1L, "a", "2024-04-01"), (2L, "b", "2024-04-01"))
      .toDF("id", "v", "day_of_data")
      .write.partitionBy("day_of_data").mode("append").parquet(path)
    Seq((3L, "c", 0.5, "2024-04-02"))
      .toDF("id", "v", "score", "day_of_data")
      .write.partitionBy("day_of_data").mode("append").parquet(path)
    // default read infers ONE file's schema and silently loses the column
    // on a mixed table — mergeSchema is the explicit evolution contract
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.toSet === Set("id", "v", "score", "day_of_data"))
    val rows = merged.select("id", "score").as[(Long, Option[Double])]
      .collect().toMap
    assert(rows(1L).isEmpty && rows(2L).isEmpty, "pre-evolution rows must read NULL")
    assert(rows(3L) === Some(0.5))
  }

  test("corrupt file in the lake: ignoreCorruptFiles reads around it, default read fails") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    Seq((1L, "ok"), (2L, "ok2")).toDF("id", "v")
      .repartition(1).write.mode("append").parquet(path)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "part-corrupt.parquet"),
      "this is not parquet".getBytes)
    intercept[org.apache.spark.SparkException] {
      spark.read.parquet(path).collect() // fail-fast is the right DEFAULT
    }
    val survivors = spark.read.option("ignoreCorruptFiles", "true").parquet(path)
      .select("id").as[Long].collect().toSet
    assert(survivors === Set(1L, 2L), "good files must still read")
  }

  test("forgetKeys erases tombstoned users everywhere, reports counts, leaves other partitions untouched") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_forget").toString
    Seq(
      (1L, "a", "2024-05-01"), (2L, "b", "2024-05-01"),
      (1L, "c", "2024-05-02"), (3L, "d", "2024-05-02"),
      (1L, "e", "2024-05-03"),                    // partition becomes EMPTY
      (4L, "f", "2024-05-04"))                    // untouched partition
      .toDF("user_id", "v", "day_of_data")
      .write.partitionBy("day_of_data").mode("append").parquet(path)
    val untouched = new java.io.File(s"$path/day_of_data=2024-05-04")
      .listFiles.map(f => f.getName -> f.lastModified).toMap
    val audit = graft.sources.Sinks.forgetKeys(spark, path, "user_id",
      Seq(1L).toDF("user_id"))
    assert(audit === Seq("2024-05-01" -> 1L, "2024-05-02" -> 1L, "2024-05-03" -> 1L))
    val left = spark.read.parquet(path)
      .select("user_id", "v").as[(Long, String)].collect().toSet
    assert(left === Set((2L, "b"), (3L, "d"), (4L, "f")),
      "tombstoned rows must be gone, everything else intact")
    assert(!new java.io.File(s"$path/day_of_data=2024-05-03").exists,
      "a fully-erased partition must not keep stale files")
    assert(new java.io.File(s"$path/day_of_data=2024-05-04")
      .listFiles.map(f => f.getName -> f.lastModified).toMap === untouched,
      "partitions without tombstoned keys must keep their files byte-identical")
  }

  test("orc round-trip preserves values and pushes filters to the scan") {
    import spark.implicits._
    // orc is the columnar interchange twin of parquet (both ship in Spark
    // core) — same typed round-trip contract, plus predicate pushdown:
    // the lake must not lose either property when the format changes.
    val rows = Seq(
      (1L, "plain", 1.5, java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456")),
      (2L, "a,b\"q\nnl", -0.25, java.sql.Timestamp.valueOf("2024-06-30 23:59:59.0")),
      (3L, "unicode £é中", 0.0, java.sql.Timestamp.valueOf("2024-12-31 00:00:00.0")))
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    rows.toDF("id", "s", "v", "ts").write.mode("overwrite").orc(dir)
    val back = spark.read.schema("id BIGINT, s STRING, v DOUBLE, ts TIMESTAMP")
      .orc(dir)
    assert(back.as[(Long, String, Double, java.sql.Timestamp)].collect().toSet
      === rows.toSet, "orc round-trip mangled values")
    val plan = back.filter(col("id") > 1L).select("id", "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"),
      s"orc scan did not push the filter:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint,v:double>"),
      s"orc scan did not prune columns:\n$plan")
  }

  test("overwriteDatePartition replaces only its partition under a STATIC session mode and leaves the mode as it was") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "STATIC")
    try {
      val dir = Files.createTempDirectory("graft_overwrite_mode").resolve("lake").toString
      Seq((1L, "2024-06-01"), (2L, "2024-06-02")).toDF("id", "day_of_data")
        .write.partitionBy("day_of_data").parquet(dir)
      Sinks.overwriteDatePartition(Seq((3L, "2024-06-02")).toDF("id", "day_of_data"), dir)
      val rows = spark.read.parquet(dir)
        .select(col("id"), col("day_of_data").cast("string")).as[(Long, String)]
        .collect().toSet
      assert(rows === Set((1L, "2024-06-01"), (3L, "2024-06-02")))
      assert(spark.conf.get(key) === "STATIC")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("replaceDatePartition publishes one partition by rename; other partitions keep their files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_replace").resolve("lake").toString
    Seq((1L, "2024-07-01"), (2L, "2024-07-02")).toDF("id", "day_of_data")
      .write.partitionBy("day_of_data").parquet(dir)
    val untouched = partitionBytes(dir, "2024-07-01")
    var gated = false
    Sinks.replaceDatePartition(Seq(5L, 6L).toDF("id"), dir, "2024-07-02") { gated = true }
    assert(gated)
    val rows = spark.read.parquet(dir)
      .select(col("id"), col("day_of_data").cast("string")).as[(Long, String)]
      .collect().toSet
    assert(rows === Set((1L, "2024-07-01"), (5L, "2024-07-02"), (6L, "2024-07-02")))
    assert(partitionBytes(dir, "2024-07-01") === untouched)
    assert(partitionBytes(dir, "2024-07-02").keys.forall(n => n.startsWith("part-") || n.startsWith(".part-")))
    assert(stagingEntries(dir).isEmpty)
  }

  test("replaceDatePartition: a write that throws keeps the old partition, skips beforePublish and leaves no staging") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_replace_fail").resolve("lake").toString
    Seq((1L, "2024-07-01")).toDF("id", "day_of_data")
      .write.partitionBy("day_of_data").parquet(dir)
    val before = partitionBytes(dir, "2024-07-01")
    val failing = spark.range(4).select(
      when(col("id") === 2, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
    var gated = false
    intercept[Exception] {
      Sinks.replaceDatePartition(failing, dir, "2024-07-01") { gated = true }
    }
    assert(!gated)
    assert(partitionBytes(dir, "2024-07-01") === before)
    assert(stagingEntries(dir).isEmpty)
  }
}
