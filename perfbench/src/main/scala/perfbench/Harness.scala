package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkEntry}
import graft.sources.Tables

/** The benchmark's JVM side. One client (this thread) runs one registered
  * query at a time on a `local[cpus]` session and records raw timings;
  * `run.py` turns them into metrics. The engine is driven only through its
  * public entry points (`Tables.*`, `SparkEntry.queries`) and Spark's
  * public listener APIs.
  *
  * Usage: Harness --data DIR --order FILE --seconds N --trace 0|1
  *                --setups K --min-passes P --cpus N --out FILE [--dump DIR]
  *
  * `--order` holds one line per pass, each a comma-separated permutation
  * of the workload's queries (`*`: the whole registry); the first line
  * orders the verify pass, the next ones the timed passes.
  * `--dump DIR` also writes each verify-pass output as parquet, for the
  * DuckDB oracle compare that certifies recorded fingerprints.
  */
object Harness {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-ms resolution, comparable to Spark's event times. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** The pinned confs of `graft.Bench`'s session. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(sys.props("java.io.tmpdir"), "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Direct `Tables.<t>` calls: the sources layer's open cost (schema
    * inference included, since every call re-reads the footers). */
  def openTables(s: SparkSession, dir: String): Seq[(String, Double)] = tables.map { t =>
    val t0 = nowMs()
    val df = t match {
      case "region" => Tables.region(s, dir)
      case "nation" => Tables.nation(s, dir)
      case "customer" => Tables.customer(s, dir)
      case "supplier" => Tables.supplier(s, dir)
      case "part" => Tables.part(s, dir)
      case "orders" => Tables.orders(s, dir)
      case "lineitem" => Tables.lineitem(s, dir)
      case "events" => Tables.events(s, dir)
      case "documents" => Tables.documents(s, dir)
      case "embeddings" => Tables.embeddings(s, dir)
    }
    df.schema
    t -> (nowMs() - t0)
  }

  /** Order-independent fingerprint: row count and the exact sum of a
    * 64-bit hash of each row's JSON rendering. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(to_json(struct(col("*")))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  /** Between queries, outside any timed region: frees the finished
    * query's pinned blocks, as graft.Bench does, and collects the heap, so
    * no query pays for the garbage of the one before it. */
  def sweep(s: SparkSession): Unit = {
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(400)}"

  def main(args: Array[String]): Unit =
    try { run(args); System.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); System.exit(2) }

  def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val dir = opt("data")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val setups = opt("setups").toInt
    val minPasses = opt("min-passes").toInt
    val cpus = opt("cpus").toInt
    val orders = Files.readAllLines(Paths.get(opt("order"))).asScala.toSeq
      .map {
        case "*" => SparkEntry.queries.keys.toSeq.sorted
        case line => line.split(",").toSeq.filter(_.nonEmpty)
      }.filter(_.nonEmpty)
    require(orders.length >= 2 || seconds == 0, "--order needs a verify line and a pass line")
    val unknown = orders.flatten.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"queries not in the registry: ${unknown.toSeq.sorted.mkString(",")}")
    val out = new Rec()

    // Set-up, repeated: each builds a session with GraftExtensions,
    // warms the JVM and opens every table. The first also carries JVM
    // start-up, measured from the JVM's own start time.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setupTimes = (1 to setups).map { i =>
      val t0 = if (i == 1) jvmStart else nowMs()
      val s = session(cpus)
      s.range(1000000L).selectExpr("sum(id)").collect()
      openTables(s, dir)
      val dt = (nowMs() - t0) / 1000
      if (i < setups) s.stop()
      dt
    }
    out.add("setup_s", setupTimes.asJava)
    val spark = session(cpus)
    val batches = new BatchListener
    spark.streams.addListener(batches)

    // Verify pass: fingerprints of every output, outside the timed passes.
    val dump = opt.get("dump")
    val t0Verify = nowMs()
    val verify = new java.util.LinkedHashMap[String, Rec]()
    orders.head.foreach { q =>
      val r = new Rec()
      val t0 = nowMs()
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        val (rows, hash) = fingerprint(df)
        r.add("rows", rows).add("hash", hash)
        dump.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$q"))
      } catch { case e: Throwable => r.add("error", errorText(e)) }
      r.add("oracled", SparkEntry.oracleSql.contains(q)).add("secs", (nowMs() - t0) / 1000)
      verify.put(q, r)
      sweep(spark)
    }
    out.add("verify", verify).add("verify_s", (nowMs() - t0Verify) / 1000)
    dump.foreach { d =>
      val sql = orders.head.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap.asJava
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValue(new java.io.File(s"$d/oracle_sql.json"), sql)
    }

    /** One pass over `order`: each query built by its registered fn, then
      * run to a noop sink; a query that throws is recorded, not timed. */
    def pass(order: Seq[String]): Rec = {
      val execs = new java.util.ArrayList[Rec]()
      val passStart = nowMs()
      order.foreach { q =>
        val fn = SparkEntry.queries(q)
        val t0 = nowMs()
        val r = new Rec().add("query", q).add("start_ms", t0)
        try {
          val df = fn(spark, dir)
          val t1 = nowMs()
          df.write.format("noop").mode("overwrite").save()
          r.add("construct_end_ms", t1).add("end_ms", nowMs())
        } catch { case e: Throwable => r.add("error", errorText(e)).add("end_ms", nowMs()) }
        execs.add(r)
        sweep(spark)
      }
      new Rec().add("start_ms", passStart).add("end_ms", nowMs()).add("executions", execs)
    }

    val nextOrder = Iterator.from(0).map(i => orders(1 + i % (orders.length - 1)))
    val passes = new java.util.ArrayList[Rec]()

    // Timed passes, closed loop: a pass starts while fewer than
    // `minPasses` have run or less than `seconds` have elapsed. A traced
    // run alternates untraced and traced passes, so tracing overhead is
    // measured inside one run; the first pass, the slowest, is untraced.
    val tracer = new TraceListener
    var traceDrained = true
    val opens = new java.util.ArrayList[java.util.Map[String, Double]]()
    val deadline = nowMs() + seconds * 1000
    var p = 0
    while (seconds > 0 && (p < minPasses || nowMs() < deadline)) {
      val tracedPass = traced && p % 2 == 1
      if (tracedPass) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        opens.add(openTables(spark, dir).toMap.asJava)
      }
      passes.add(pass(nextOrder.next()).add("traced", tracedPass))
      if (tracedPass) {
        traceDrained &= PerfbenchBridge.drainListenerBus(spark.sparkContext, 30000L)
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      p += 1
    }
    out.add("passes", passes).add("cpus", cpus)
      .add("max_heap_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    out.add("batches_drained", PerfbenchBridge.drainListenerBus(spark.sparkContext, 30000L))
    out.add("batches", new java.util.ArrayList[Rec](batches.batches))
    if (traced) {
      out.add("trace_drained", traceDrained)
        .add("opens", opens)
        .add("phases", new java.util.ArrayList[Rec](tracer.phases))
        .add("jobs", tracer.jobRecords.asJava)
    }
    spark.stop()
    out.add("vm_hwm_kb", scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }.getOrElse(-1L))
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(new java.io.File(opt("out")), out)
  }
}
