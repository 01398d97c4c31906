package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM (launched by `perfbench/run.py`).
  *
  *   gen    <dataDir> <workDir>            write the generated input tables
  *   record <dataDir> <workDir> <out.json> record expected query outputs
  *   run    --workload W --seed N --seconds S --trace 0|1 --data D --work W
  *          --expected E --spec BENCHMARK.json --record R --spans F
  *
  * `run` prints a run record line and then, as its last line, the result
  * object `{"correct","attempted","failed","metrics"}`; both are written with
  * Jackson. */
object Main {
  /** Sessions built per run; set-up time is their median. */
  val SetUps = 3

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("gen", data, work) =>
      val spark = Session.start(work)
      try DataGen.write(spark, data) finally Session.stop(spark)
    case Seq("record", data, work, out) => Record.write(data, work, out)
    case "run" +: rest => run(rest)
    case _ =>
      System.err.println("usage: gen|record|run ... (see perfbench/README.md)")
      sys.exit(2)
  }

  def workload(opts: Opts): Workload = opts.workload match {
    case "covid_backfill" => new CovidBackfill(opts)
    case "relational" =>
      new QueryWorkload(opts, QueryModules.Relational, stride = 4, "q01_agg", withStream = false)
    case "corpus" =>
      new QueryWorkload(opts, QueryModules.Corpus, stride = 9, "q15_token_stats", withStream = true)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def run(args: Seq[String]): Unit = {
    val opts = Opts.parse(args)
    val spec = Spec.load(opts.spec)
    val w = workload(opts)
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = Session.start(opts.work)
    w.setUp(spark)
    setups += Jvm.uptimeSeconds()
    for (_ <- 1 until SetUps) {
      Session.stop(spark)
      w.tearDown()
      val t0 = System.nanoTime()
      spark = Session.start(opts.work)
      w.setUp(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val rec = new Recorder
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    try {
      val t0 = System.nanoTime()
      rec.op("first_op") { w.firstOp(spark) }
      val firstOp = (System.nanoTime() - t0) / 1e9
      if (opts.trace) {
        val tracer = new Tracer(s"${opts.workload}-${opts.seed}")
        val out = new LayerOut(rec)
        val (gc0, jit0) = (Jvm.gcMillis(), Jvm.jitMillis())
        out.put("jvm.first_op_s", "s", firstOp)
        w.traced(spark, tracer, out)
        out.put("jvm.gc_ms", "ms", (Jvm.gcMillis() - gc0).toDouble)
        out.put("jvm.jit_ms", "ms", (Jvm.jitMillis() - jit0).toDouble)
        out.put("jvm.retained_heap_mb", "MB", Jvm.retainedHeapMb())
        w.check(spark, rec)
        tracer.writeJsonl(opts.spans)
        out.metrics.foreach { case (k, (v, _)) => metrics(k) = v }
      } else {
        val cpu0 = Jvm.cpuNanos()
        w.timed(spark, rec)
        metrics("cpu_s") = (Jvm.cpuNanos() - cpu0) / 1e9
        w.check(spark, rec)
        metrics("setup_s") = Stats.median(setups.toSeq)
        metrics("pass_s") = rec.latencies.collect { case (op, s) if op != "first_op" => s }.sum
      }
    } finally {
      Session.stop(spark)
      w.tearDown()
    }
    val declared = if (opts.trace) spec.perLayer else spec.endToEnd
    val unknown = metrics.keySet -- declared.map(_._1)
    require(unknown.isEmpty, s"metrics not declared in BENCHMARK.json: ${unknown.mkString(", ")}")
    val failed = math.min(rec.failures.size, rec.attempted)
    val result = Json.mapper.createObjectNode()
    result.put("correct", rec.failures.isEmpty)
    result.put("attempted", rec.attempted)
    result.put("failed", failed)
    val m = result.putObject("metrics")
    declared.foreach { case (name, unit) =>
      val v = metrics.getOrElse(name,
        if (opts.trace) 0.0 else throw new IllegalStateException(s"no value for $name"))
      m.putObject(name).put("value", v).put("unit", unit)
    }
    val record = Json.mapper.createObjectNode()
    record.put("record", "perfbench")
    record.put("workload", opts.workload).put("seed", opts.seed)
      .put("seconds", opts.seconds).put("trace", opts.trace)
    Json.putAll(record.putObject("workload_choices"), w.describe)
    Json.putAll(record.putObject("setup_samples_s"),
      setups.zipWithIndex.map { case (s, i) => i.toString -> s }.toMap)
    Json.putAll(record.putObject("failures"), rec.failures.toMap)
    val lat = record.putObject("latencies_s")
    rec.latencies.foreach { case (op, sec) => lat.put(op, sec) }
    record.set("result", result)
    val recordLine = Json.mapper.writeValueAsString(record)
    java.nio.file.Files.write(java.nio.file.Paths.get(opts.record),
      (recordLine + "\n").getBytes("UTF-8"))
    println(recordLine)
    println(Json.mapper.writeValueAsString(result))
    System.out.flush()
  }
}

/** The metric names and units declared in BENCHMARK.json. */
final case class Spec(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

object Spec {
  def load(path: String): Spec = {
    val root = Json.mapper.readTree(new java.io.File(path))
    def list(key: String): Seq[(String, String)] = root.get(key).elements().asScala
      .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
    Spec(list("end_to_end"), list("per_layer"))
  }
}

/** Records the expected output of every relational and corpus query and of
  * the streaming replay: two passes in opposite orders; a query whose
  * fingerprint differs between them keeps its row count only. */
object Record {
  def write(data: String, work: String, out: String): Unit = {
    val spark = Session.start(work)
    try {
      val opts = Opts("corpus", 0, 1, trace = false, data, work, expected = "")
      val queries = QueryModules.moduleOf.keys.toSeq.sortBy(QueryModules.number)
      val stream = new QueryWorkload(opts, Nil, 1, "", withStream = true)
      def pass(qs: Seq[String]): Map[String, Fingerprint] = qs.map { q =>
        val fp = Exec.fingerprint(graft.SparkEntry.queries(q)(spark, data))
        Exec.release(spark)
        System.err.println(s"[record] $q ${fp.rows} ${fp.hex}")
        q -> fp
      }.toMap + ("stream_near_dup_hits" -> stream.streamReplay(spark))
      val a = pass(queries)
      val b = pass(queries.reverse)
      val root = Json.mapper.createObjectNode()
      val outputs = root.putObject("outputs")
      val unstable = root.putArray("content_varies")
      (queries :+ "stream_near_dup_hits").foreach { q =>
        val o = outputs.putObject(q)
        o.put("rows", a(q).rows)
        if (a(q) == b(q)) o.put("hash", a(q).hex)
        else if (a(q).rows != b(q).rows) throw new IllegalStateException(s"$q row count varies")
        else { o.putNull("hash"); unstable.add(q) }
      }
      Json.mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out), root)
    } finally Session.stop(spark)
  }
}
