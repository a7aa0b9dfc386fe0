package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import graft.ingest.{Connectors, Normalize}
import graft.ops.TxnLog
import graft.streaming.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The ingest_commit workload: the paper's collect → transcript-or-STT
  * → normalize pipeline, run as a stream that commits one segment per
  * micro-batch to a transaction log. */
object Ingest {
  /** Shape of one run's input (README "ingest_commit"). */
  final case class Plan(files: Int, urlsPerFile: Int, filesPerTrigger: Int,
                        checkpointEvery: Int, snapshotEvery: Int)
  val Full = Plan(files = 12, urlsPerFile = 40, filesPerTrigger = 2,
    checkpointEvery = 4, snapshotEvery = 2)
  val Smoke = Plan(files = 4, urlsPerFile = 10, filesPerTrigger = 2,
    checkpointEvery = 2, snapshotEvery = 1)

  // Connector calls, counted by the wrapping factories below. Local
  // mode runs every task in this JVM, so one static counter sees all.
  val fetchCalls = new AtomicLong
  val asrCalls = new AtomicLong
  def callCounters: Map[String, Double] = Map(
    "ingest.fetch_calls" -> fetchCalls.get.toDouble,
    "ingest.asr_calls" -> asrCalls.get.toDouble)

  class CountingFetcher extends Connectors.StubTranscriptFetcher {
    override def fetch(videoId: String) = { fetchCalls.incrementAndGet(); super.fetch(videoId) }
  }
  class CountingAsr extends Connectors.StubAsrEngine {
    override def transcribe(audio: Array[Byte]) = { asrCalls.incrementAndGet(); super.transcribe(audio) }
  }

  /** One generated input line and what the program must make of it. */
  final case class Line(tsSec: Long, url: String, id: Option[String])

  /** Generated input: the files' lines plus the expectations derived
    * from the generator's own list, never from the program. */
  final case class Input(files: Seq[Seq[Line]]) {
    /** Ids in first-delivery order, per trigger (batch). */
    def freshIdsPerBatch(perTrigger: Int): Seq[Seq[String]] = {
      val seen = mutable.Set.empty[String]
      files.grouped(perTrigger).map { fs =>
        fs.flatten.flatMap(_.id).filter(seen.add).toSeq
      }.toSeq
    }
    def distinctIds: Set[String] = files.flatten.flatMap(_.id).toSet
  }

  private val idChars = ('0' to '9') ++ ('A' to 'Z') ++ ('a' to 'z') :+ '_' :+ '-'

  /** Seeded URL files. Per line: 15% re-deliver an earlier id (within
    * the watermark), 10% junk with no extractable id, else a new id of
    * which 20% are ids whose transcript fetch fails ("bad…" ids the
    * stub fetcher rejects). New ids take one of the URL forms of
    * `Normalize.youtubeUrlPatterns` or the bare id. */
  def generate(seed: Long, plan: Plan): Input = {
    val rnd = new scala.util.Random(seed)
    def randId(): String = {
      var s = ""
      while (s.isEmpty || s.startsWith("bad"))
        s = Seq.fill(11)(idChars(rnd.nextInt(idChars.size))).mkString
      s
    }
    def badId(): String = "bad" + Seq.fill(8)(idChars(rnd.nextInt(idChars.size))).mkString
    val forms: Seq[String => String] = Seq(
      id => s"https://www.youtube.com/watch?v=$id",
      id => s"https://www.youtube.com/watch?feature=share&v=$id&t=42s",
      id => s"https://youtu.be/$id",
      id => s"https://www.youtube.com/embed/$id?rel=0",
      id => s"https://www.youtube.com/shorts/$id",
      id => s"  $id ")
    val junkForms: Seq[Int => String] = Seq(
      n => s"https://example.com/articles/$n",
      n => s"https://www.youtube.com/watch?v=short$n",
      n => s"not a url $n")
    val issued = mutable.ArrayBuffer.empty[String]
    var junkNo = 0
    val base = 1767225600L // 2026-01-01T00:00:00Z
    val files = (0 until plan.files).map { f =>
      (0 until plan.urlsPerFile).map { j =>
        val ts = base + f * 60L + j
        val p = rnd.nextDouble()
        if (p < 0.15 && issued.nonEmpty) {
          val id = issued(rnd.nextInt(issued.size))
          Line(ts, forms(rnd.nextInt(forms.size))(id), Some(id))
        } else if (p < 0.25) {
          junkNo += 1
          Line(ts, junkForms(rnd.nextInt(junkForms.size))(junkNo % 1000), None)
        } else {
          val id = if (rnd.nextDouble() < 0.2) badId() else randId()
          issued += id
          Line(ts, forms(rnd.nextInt(forms.size))(id), Some(id))
        }
      }
    }
    Input(files)
  }

  /** Writes the files with increasing modification times, so that the
    * file stream reads them in generation order. */
  def writeFiles(input: Input, dir: File): Unit = {
    dir.mkdirs()
    input.files.zipWithIndex.foreach { case (lines, i) =>
      val f = new File(dir, f"urls-$i%04d.tsv")
      Files.write(f.toPath, lines.map(l => s"${l.tsSec}\t${l.url}\n").mkString
        .getBytes(StandardCharsets.UTF_8))
      f.setLastModified(1000000000000L + i * 1000L)
    }
  }

  val inputSchema: StructType = StructType(Seq(
    StructField("ts_s", LongType), StructField("url", StringType)))

  private def audioFor(id: String): Array[Byte] = Array.fill[Byte](3200)(1)

  /** One pass: stream the files into a fresh table, one micro-batch per
    * `filesPerTrigger` files, each committed to the log. Each
    * micro-batch runs inside `op`, which records it; its body returns
    * the ids handed to the
    * connectors, the URLs rejected, the records the segment write
    * reported (traced passes only, else 0) and the check failures.
    * Returns the failures found by the end-of-pass checks. */
  def runPass(spark: SparkSession, tr: Tracer, input: Input, plan: Plan,
              inputDir: File, passDir: File,
              op: (String, => (Long, Long, Long, Seq[String])) => Unit,
              snapshotMs: mutable.ArrayBuffer[Double],
              wrongExpectation: Boolean): Seq[String] = {
    val table = new File(passDir, "table").getAbsolutePath
    val fresh = input.freshIdsPerBatch(plan.filesPerTrigger)
    // records acknowledged up to each version, from the generator
    val ackedAt = fresh.map(_.size.toLong).scanLeft(0L)(_ + _)
      .map(_ + (if (wrongExpectation) 1L else 0L))
    val problems = mutable.ArrayBuffer.empty[String]
    val versions = mutable.ArrayBuffer.empty[Long]

    val stream = spark.readStream.schema(inputSchema)
      .option("sep", "\t").option("maxFilesPerTrigger", plan.filesPerTrigger.toString)
      .csv(inputDir.getAbsolutePath)
      .select(timestamp_seconds(col("ts_s")).as("ts"), col("url"))
      .withColumn("video_id", Normalize.videoId(col("url")))
      // junk rows have no id: key them by their URL so they are kept
      // (and counted as rejected) instead of collapsing into one null key
      .withColumn("dedup_key", coalesce(col("video_id"), concat(lit("url:"), col("url"))))
    val deduped = Sessions.dedupWithinWatermark(stream, "dedup_key", "ts")

    val q = deduped.writeStream
      .option("checkpointLocation", new File(passDir, "chk").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        op(f"batch-$batchId%03d", {
          import spark.implicits._
          // the stream's rows for one trigger are a few dozen URLs
          val rows = tr.span("stream.dedup") { batch.select("video_id").collect() }
          val ids = rows.flatMap(r => Option(r.getString(0))).toSeq
          val expected = fresh.lift(batchId.toInt).getOrElse(Nil)
          val bad = mutable.ArrayBuffer.empty[String]
          if (ids.sorted != expected.sorted)
            bad += s"batch $batchId: ${ids.size} fresh ids, expected ${expected.size}"
          val records = tr.span("ingest.fallback") {
            Connectors.ingestWithFallback(spark, ids.toDS(),
              () => new CountingFetcher, () => new CountingAsr, audioFor)
          }
          val seg = new File(passDir, f"table/seg-$batchId%05d.parquet").getAbsolutePath
          val written0 = tr.recordsWritten()
          tr.span("txn.segment_write") { records.coalesce(1).write.parquet(seg) }
          val written = tr.recordsWritten() - written0
          val res = tr.span("txn.commit") {
            TxnLog.commitWithRetry(spark, table, "ingest", Seq(TxnLog.Action("add", seg)))
          }
          versions += res.version
          attempts += res.attempts
          tr.span("txn.checkpoint") { TxnLog.checkpointIfDue(spark, table, plan.checkpointEvery) }
          if (res.version % plan.snapshotEvery == 0) {
            val t0 = System.nanoTime()
            val (df, v, _) = tr.span("txn.snapshot_resolve") { TxnLog.snapshot(spark, table) }
            val n = tr.span("txn.scan") { df.count() }
            snapshotMs += (System.nanoTime() - t0) / 1e6
            if (n != ackedAt(v.toInt))
              bad += s"snapshot at v$v has $n rows, expected ${ackedAt(v.toInt)}"
          }
          (ids.size.toLong, (rows.length - ids.size).toLong, written, bad.toSeq)
        })
        ()
      }
      .start()
    try q.awaitTermination() finally q.stop()
    lastProgress = q.recentProgress.map(p => p.batchId -> p).toMap

    // end-of-pass checks, outside every timed window
    val k = fresh.size.toLong
    if (versions.toSeq != (1L to k)) problems += s"commit versions $versions, expected 1..$k"
    val logged = TxnLog.commits(spark, table).map(_.version)
    if (logged != (1L to k)) problems += s"log holds versions $logged, expected 1..$k"
    val (snap, _, _) = TxnLog.snapshot(spark, table)
    val got = snap.select("id", "source_type").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq.sorted
    val want = input.distinctIds.toSeq.map { id =>
      ("yt_" + id) -> (if (id.startsWith("bad")) "youtube" else "youtube_transcript")
    }.sorted
    if (got != want) problems += s"table holds ${got.size} records, expected ${want.size}"
    val first = TxnLog.commits(spark, table).head
    if (TxnLog.tryCommit(spark, table, 1L, "replay", first.actions))
      problems += "replaying commit 1 was accepted"
    problems.toSeq
  }

  /** Publish attempts of the pass's commits, in order. */
  val attempts = mutable.ArrayBuffer.empty[Int]
  /** The last pass's progress reports, by batch id. */
  @volatile var lastProgress: Map[Long, org.apache.spark.sql.streaming.StreamingQueryProgress] = Map.empty
}
