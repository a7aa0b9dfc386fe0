package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Measures one workload for a fixed time and writes the raw samples
  * (`raw.json`), the results to check (`results/`) and, when traced,
  * the span/counter ledger (`ledger.jsonl`) into `--out`. `run.py`
  * checks the results and prints the metrics.
  *
  * One client: the main thread issues the next operation only after
  * the previous one completed (closed loop). */
object BenchMain {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, sfDir: String, out: File,
                        smoke: Boolean, extraCount: Option[String],
                        wrongExpectation: Boolean)

  /** Oracle-backed relational queries, each well under a second at
    * sf0.1: joins, aggregates, windows and rollups over the star schema
    * and `events` (README "relational_small"). */
  val relational: Seq[String] = Seq(
    "q10_topk_lineitems", "q16_rollup", "q20_range_join", "q76_frame_bounds",
    "q83_weighted_mix", "q98_calendar", "q104_histogram",
    "q116_correlated_min", "q128_notin_nullaware", "q130_bit_agg",
    "q138_ignore_nulls", "q159_frame_plan")

  /** Iterative data-prep operators whose oracle matches at sf0.1
    * (README "iterative_ops"). */
  val iterative: Seq[String] = Seq("q567_core_decomposition")

  /** Tables each query workload reads; the set-up reads their footers. */
  val tablesOf: Map[String, Seq[String]] = Map(
    "relational_small" -> Seq("region", "nation", "customer", "part", "orders",
      "lineitem", "events", "documents"),
    "iterative_ops" -> Seq("lineitem"))

  val Workloads = Seq("relational_small", "iterative_ops", "ingest_commit")
  val SetupRounds = 3
  /** A run makes whole passes until `--seconds` have gone by, and at
    * least this many, so that its figures are medians over passes. */
  val MinPasses = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flags = argv.filter(_.startsWith("--")).map(_.drop(2)).toSet
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("sf-dir"), new File(need("out")), flags("smoke"),
      m.get("extra-count"), flags("wrong-expectation"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    a.out.mkdirs()
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    var spark: SparkSession = null
    def newSession(): SparkSession = {
      val b = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(a.out, "spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File(a.out, "warehouse").getAbsolutePath)
        // the dedup watermark never expires state here, so an empty
        // trailing micro-batch would only commit an empty segment
        .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      // one WARN per unpersisted localCheckpoint otherwise
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
      s
    }
    val tr = new Tracer(() => spark)
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val passes = mutable.ArrayBuffer.empty[(Int, Double, Double, Double)]
    val snapshotMs = mutable.ArrayBuffer.empty[Double]
    val firstResult = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    var nextOp = 1L

    /** Runs one operation. `body` returns the rows or records it
      * produced, the check failures it found, and extra counters. */
    def op(pass: Int, name: String)(body: => (Long, Seq[String], Map[String, Double])): OpRecord = {
      val id = nextOp; nextOp += 1
      val traced = tr.traced
      var before = Map.empty[String, Double]
      if (traced) { tr.beginOp(id); tr.resetHeapPeak(); before = tr.counters() }
      val t0 = System.nanoTime()
      val c0 = ProcessCpu.ns
      val res = try Right(tr.span("op") { body }) catch { case t: Throwable => Left(t) }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuMs = (ProcessCpu.ns - c0) / 1e6
      val counters = mutable.Map.empty[String, Double]
      if (traced) {
        val after = tr.counters()
        after.foreach { case (k, v) => counters(k) = v - before.getOrElse(k, 0.0) }
        tr.spanMs(id).foreach { case (k, v) => if (k != "op_ms") counters(k) = v }
        counters("jvm.heap_peak_mb") = tr.heapPeakMb
      }
      val rec = res match {
        case Right((rows, problems, extra)) =>
          extra.foreach { case (k, v) => counters(k) = v }
          OpRecord(id, pass, name, traced, ms, cpuMs, rows, problems.isEmpty,
            problems.mkString("; "), counters)
        case Left(t) =>
          OpRecord(id, pass, name, traced, ms, cpuMs, 0L, ok = false,
            s"${t.getClass.getName}: ${t.getMessage}", counters)
      }
      if (!rec.ok) System.err.println(s"[perfbench] ${a.workload} $name FAILED: ${rec.error}")
      ops += rec
      rec
    }

    // drop what an operation left persisted, outside its timed window
    def clearBlocks(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
    }

    def queryOp(pass: Int, name: String): Unit = {
      val fn = SparkEntry.queries(name)
      op(pass, name) {
        val df = tr.span("queries.build") { fn(spark, a.sfDir) }
        // self-test hook: one extra job in one operator
        if (a.extraCount.contains(name)) df.count()
        val rows = tr.span("exec.action") { df.collect() }
        val extra = mutable.Map.empty[String, Double]
        if (tr.traced) {
          val phases = df.queryExecution.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            extra(s"plans.${p}_ms") = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
          }
          extra("ckpt.pinned_rdds") = spark.sparkContext.getPersistentRDDs.size.toDouble
        }
        if (!firstResult.contains(name)) firstResult(name) = (rows, df.schema)
        (rows.length.toLong, Nil, extra.toMap)
      }
      clearBlocks()
    }

    // ---- ingest_commit state ----
    val plan = if (a.smoke) Ingest.Smoke else Ingest.Full
    lazy val input = Ingest.generate(a.seed, plan)
    val ingestDir = new File(a.out, "ingest")
    def ingestPass(pass: Int, dir: File, in: Ingest.Input, pl: Ingest.Plan,
                   inputDir: File): Unit = {
      val start = ops.size
      Ingest.attempts.clear()
      // a micro-batch's CPU time runs from the previous one's end, so
      // that it covers the trigger's planning as well as its sink
      var lastCpu = ProcessCpu.ns
      val problems = try Ingest.runPass(spark, tr, in, pl, inputDir, dir,
        (name, body) => {
          val rec = op(pass, name) {
            val (n, rejected, written, bad) = body
            val extra = mutable.Map[String, Double]("ingest.rejected_urls" -> rejected.toDouble)
            if (tr.traced) {
              // the records the segment write reported, not the ids
              // handed to the connectors
              extra("ingest.records") = written.toDouble
              extra("txn.publish_attempts") = Ingest.attempts.lastOption.getOrElse(0).toDouble
              extra("txn.log_files") = Option(new File(dir, "table/_txnlog").list())
                .map(_.length.toDouble).getOrElse(0.0)
            }
            (n, bad, extra.toMap)
          }
          val now = ProcessCpu.ns
          ops(ops.size - 1) = rec.copy(cpuMs = (now - lastCpu) / 1e6)
          lastCpu = now
        }, snapshotMs, a.wrongExpectation)
      catch { case t: Throwable =>
        // the stream itself failed: what ran of the pass fails with it
        if (ops.size == start) op(pass, "stream") { throw t }
        Seq(s"stream failed: ${t.getClass.getName}: ${t.getMessage}")
      }
      // a micro-batch runs from its trigger to its acknowledged commit:
      // its latency is the trigger's execution time as the stream
      // reports it; the traced pass takes its counters from the report
      // its StreamingQueryListener received
      if (tr.traced) org.apache.spark.BenchBus.drain(spark.sparkContext)
      def dm(p: StreamingQueryProgress, k: String) =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      ops.indices.drop(start).foreach { i =>
        val o = ops(i)
        val batch = o.name.stripPrefix("batch-").toLong
        Ingest.lastProgress.get(batch).foreach(p => ops(i) = o.copy(ms = dm(p, "triggerExecution")))
        if (o.traced) tr.progressOf(batch).foreach { p =>
          o.counters("stream.batches") = 1
          o.counters("stream.batch_ms") = dm(p, "triggerExecution")
          o.counters("stream.add_batch_ms") = dm(p, "addBatch")
          o.counters("stream.query_planning_ms") = dm(p, "queryPlanning")
          o.counters("stream.wal_commit_ms") = dm(p, "walCommit") + dm(p, "commitOffsets")
          o.counters("stream.state_rows") =
            p.stateOperators.headOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
          o.counters("stream.duplicates_dropped") =
            p.numInputRows - o.counters.getOrElse("ingest.records", 0.0) -
              o.counters.getOrElse("ingest.rejected_urls", 0.0)
        }
      }
      if (problems.nonEmpty) {
        System.err.println(s"[perfbench] ingest pass $pass FAILED: ${problems.mkString("; ")}")
        ops.indices.drop(start).foreach { i => ops(i).ok = false; ops(i).error = problems.mkString("; ") }
      }
    }

    // ---- set-up, repeated; setup_s is the median of the rounds' CPU time ----
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupWallS = mutable.ArrayBuffer.empty[Double]
    for (round <- 0 until SetupRounds) {
      val t0 = if (round == 0) jvmStartMs else System.currentTimeMillis()
      // the first round counts from JVM start, when the process had
      // used no CPU time yet
      val c0 = if (round == 0) 0L else ProcessCpu.ns
      if (spark != null) spark.stop()
      spark = newSession()
      a.workload match {
        case "ingest_commit" =>
          deleteTree(ingestDir)
          Ingest.writeFiles(input, new File(ingestDir, "input"))
          // warm the streaming, connector and commit-log paths on the
          // first trigger's files only
          val warmIn = Ingest.Input(input.files.take(plan.filesPerTrigger))
          val warmDir = new File(ingestDir, "warm-input")
          Ingest.writeFiles(warmIn, warmDir)
          ingestPass(-1, new File(ingestDir, s"warm-$round"), warmIn, plan, warmDir)
          ops.clear()
          snapshotMs.clear()
        case w => Warmup.run(spark, a.sfDir, tablesOf(w))
      }
      setupWallS += (System.currentTimeMillis() - t0) / 1000.0
      setupS += (ProcessCpu.ns - c0) / 1e9
    }
    // process start to the first timed operation, all set-up rounds
    val coldStartCpuS = ProcessCpu.ns / 1e9
    val coldStartJitS = ProcessCpu.jitNs / 1e9
    val coldStartWallS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // ---- timed passes ----
    val names = if (a.workload == "relational_small") relational else iterative
    // a traced run traces every pass; its wall time against an untraced
    // run's is the tracing overhead
    tr.setTraced(a.trace)
    val tStart = System.nanoTime()
    var pass = 0
    val minPasses = if (a.smoke) 1 else MinPasses
    while (pass < minPasses || (!a.smoke && (System.nanoTime() - tStart) / 1e9 < a.seconds)) {
      val t0 = System.nanoTime()
      val jit0 = ProcessCpu.jitNs
      a.workload match {
        case "ingest_commit" =>
          ingestPass(pass, new File(ingestDir, s"pass-$pass"), input, plan,
            new File(ingestDir, "input"))
        case _ =>
          val order = new scala.util.Random(a.seed * 7919L + pass).shuffle(names)
          order.foreach(n => queryOp(pass, n))
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      if (a.workload == "ingest_commit") deleteTree(new File(ingestDir, s"pass-$pass"))
      // the heap the pass left live: what a full collection cannot free
      System.gc()
      val retainedMb = heapAfterGcMb
      passes += ((pass, wallS, retainedMb, (ProcessCpu.jitNs - jit0) / 1e9))
      pass += 1
    }

    tr.setTraced(false)

    // ---- outputs, outside every timed window ----
    val resultsDir = new File(a.out, "results")
    deleteTree(resultsDir)
    firstResult.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(new File(resultsDir, name).getAbsolutePath)
    }
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
    if (a.trace)
      Files.write(new File(a.out, "ledger.jsonl").toPath,
        tr.ledgerLines(a.workload, ops.toSeq).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8))
    val raw = Map(
      "workload" -> a.workload,
      "setup_s" -> setupS.toSeq,
      "setup_wall_s" -> setupWallS.toSeq,
      "cold_start_cpu_s" -> coldStartCpuS,
      "cold_start_wall_s" -> coldStartWallS,
      "cold_start_jit_s" -> coldStartJitS,
      "passes" -> passes.map { case (p, w, h, jit) =>
        Map("pass" -> p, "wall_s" -> w, "heap_retained_mb" -> h, "jit_cpu_s" -> jit) },
      "ops" -> ops.map(o => Map("pass" -> o.pass, "name" -> o.name, "ms" -> o.ms, "cpu_ms" -> o.cpuMs, "rows" -> o.rows, "ok" -> o.ok, "error" -> o.error)),
      "snapshot_ms" -> snapshotMs.toSeq,
      "rss_peak_mb" -> rssMb,
      "queries" -> firstResult.keys.toSeq,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => firstResult.contains(k) })
    Files.write(new File(a.out, "raw.json").toPath,
      Json.write(raw).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Heap in use right after the last collection, as the collector
    * reported it, summed over the heap pools. */
  def heapAfterGcMb: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** CPU time of the benchmark JVM without its JIT compiler threads: the
  * Java threads (those that have exited too), the garbage collector and
  * the VM's other threads. The JIT compiler's work is warm-up that a
  * long-lived engine pays once; in a run of a few passes it is up to
  * half the CPU time and moves from run to run (README). `run.py`
  * starts the JVM with a fixed set of compiler threads, so none of their
  * time is lost when one exits. */
object ProcessCpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tasks = new File("/proc/self/task")
  // /proc reports thread times in USER_HZ ticks, 100 per second on Linux
  private val NsPerTick = 10000000L

  def ns: Long = os.getProcessCpuTime - jitNs

  /** CPU time of the JIT compiler threads so far. */
  def jitNs: Long = Option(tasks.listFiles()).getOrElse(Array.empty[File]).iterator.map { t =>
    try {
      val stat = new String(Files.readAllBytes(new File(t, "stat").toPath), StandardCharsets.US_ASCII)
      val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
      if (!name.startsWith("C1 CompilerThre") && !name.startsWith("C2 CompilerThre")) 0L
      else {
        // utime and stime, the 14th and 15th fields of the line
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        (f(11).toLong + f(12).toLong) * NsPerTick
      }
    } catch { case _: java.io.IOException => 0L } // the thread has just exited
  }.sum
}

/** Session warm-up before timing: codegen, shuffle, parquet reading and
  * the hash, string, lambda and window paths all JIT on first use, and
  * the footer of every table the workload reads is read once. */
object Warmup {
  def run(spark: SparkSession, sfDir: String, tables: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val w = spark.range(1000).selectExpr("id", "id % 7 AS k")
    w.join(w.groupBy("k").count(), "k").collect()
    spark.range(1000)
      .selectExpr("cast(id as string) AS s", "id % 7 AS k")
      .selectExpr("md5(s) AS h", "transform(sequence(1, 8), i -> md5(concat(s, i))) AS a",
        "k", "row_number() OVER (PARTITION BY k ORDER BY s) AS rn")
      .groupBy("k").agg(min("h"), max("rn"), count(lit(1))).collect()
    tables.foreach(t => graft.Tables.table(spark, sfDir, t).count())
  }
}
