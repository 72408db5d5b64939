package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipelines.CorpusIngest

/** The open-loop stream intake: a single-thread generator writes seeded
  * document files into a topic directory on a fixed schedule (it never
  * waits for the system), and `CorpusIngest.start` consumes them with a
  * processing-time trigger.
  *
  * One intake query serves the whole run. First the generator holds one
  * fixed rate, which gives latency: a landed document's latency is the
  * commit time of the micro-batch that landed it minus the time its file
  * was due. Then it bursts far above what the rate-limited source admits,
  * and the rows of a full micro-batch over its duration is the sustained
  * rate. */
object Intake {
  val TickMs = 100L
  val FixedRate = 1000.0 // docs/s of phase 1, below the sustained rate
  /** The intake admits at most this many files per micro-batch (the file
    * source's rate limit); the fixed-rate segment never reaches it. */
  val MaxFiles = 20
  /** The burst offers BurstRate docs/s in one file per BurstTickMs: far
    * more files than MaxFiles per batch time, so every batch it feeds is
    * full, and a full batch's rows over its duration is the highest rate
    * at which the backlog does not grow. */
  val BurstRate = 8000.0
  val BurstTickMs = 20L
  /** Leading part of the fixed-rate segment not sampled for latency: it
    * covers the query's first micro-batches. */
  val WarmupS = 1.0
  val Trig = "500 milliseconds"

  private val Words = Vector("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "value", "vector",
    "window", "of", "to", "in", "and")

  /** Open-loop document generator. Every doc is stamped with the time its
    * file was due; a stall makes later files late, never fewer. */
  final class Gen(topic: String, seed: Long) {
    private val rnd = new Random(seed)
    private var nextId = 0L
    private var fileNo = 0
    private val recentQuality = ArrayBuffer.empty[String]
    val dueMs = scala.collection.mutable.LongMap.empty[Long] // doc id -> due time
    var generated = 0L
    var quality = 0L
    var uniqueQuality = 0L
    var maxLagMs = 0L
    /** (wall ms after the write, cumulative rows written) */
    val written = ArrayBuffer.empty[(Long, Long)]
    Files.createDirectories(Paths.get(topic))

    private def doc(id: Long): (String, Boolean, Boolean) = {
      val r = rnd.nextDouble()
      if (r < 0.1) (s"short note d$id", false, false)
      else if (r < 0.2 && recentQuality.nonEmpty)
        (recentQuality(rnd.nextInt(recentQuality.size)), true, false)
      else {
        val body = Seq.fill(12 + rnd.nextInt(30))(Words(rnd.nextInt(Words.size))).mkString(" ")
        val t = s"the d$id $body and the end"
        recentQuality += t
        if (recentQuality.size > 100) recentQuality.remove(0)
        (t, true, true)
      }
    }

    /** Write `rate` docs/s for `seconds`, one file per tick. */
    def runAt(rate: Double, seconds: Double, tickMs: Long = TickMs): Unit = {
      val t0 = System.currentTimeMillis()
      val ticks = math.max(1, (seconds * 1000 / tickMs).toInt)
      (0 until ticks).foreach { i =>
        val due = t0 + i * tickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val n = (rate * (i + 1) * tickMs / 1000).toLong - (rate * i * tickMs / 1000).toLong
        val stamp = java.time.Instant.ofEpochMilli(due).toString
        val sb = new StringBuilder
        (0L until n).foreach { _ =>
          val id = nextId; nextId += 1
          val (text, q, u) = doc(id)
          if (q) quality += 1
          if (u) uniqueQuality += 1
          dueMs(id) = due
          sb ++= s"""{"doc_id":$id,"text":"$text","event_ts":"$stamp"}""" += '\n'
        }
        val tmp = Paths.get(topic, f".part-$fileNo%06d.json")
        Files.writeString(tmp, sb.toString)
        Files.move(tmp, Paths.get(topic, f"part-$fileNo%06d.json"), StandardCopyOption.ATOMIC_MOVE)
        fileNo += 1; generated += n
        val now = System.currentTimeMillis()
        maxLagMs = math.max(maxLagMs, now - due)
        written += (now -> generated)
      }
    }
  }

  private def start(spark: SparkSession, root: String, trigger: Trigger): StreamingQuery = {
    val source = spark.readStream.schema("doc_id LONG, text STRING, event_ts TIMESTAMP")
      .option("maxFilesPerTrigger", MaxFiles).json(s"$root/topic")
    CorpusIngest.start(source, s"$root/corpus", s"$root/index", s"$root/ckpt",
      "doc_id", "text", "event_ts", trigger = trigger)
  }

  private def consumed(l: StreamListener, id: java.util.UUID): Long =
    l.all.filter(_._2.id == id).map(_._2.numInputRows).sum

  /** Wait until every generated row has been consumed and committed. */
  private def drain(l: StreamListener, q: StreamingQuery, gen: Gen, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (consumed(l, q.id) < gen.generated && System.nanoTime() < deadline && q.isActive)
      Thread.sleep(20)
    consumed(l, q.id) >= gen.generated
  }

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, (p * s.size).toInt)) }

  def run(spark: SparkSession, kv: Map[String, String], jvmStartMs: Long, seconds: Double,
          traced: Boolean, seed: Long): Map[String, Any] = {
    val out = kv("out")
    val l = new StreamListener
    spark.streams.addListener(l)

    // set-up: session plus one warm drain of a small topic, three full
    // micro-batches (60 files of 100 docs)
    val warm = new Gen(s"$out/warm/topic", seed + 1)
    warm.runAt(10000, 0.6, tickMs = 10)
    val wq = start(spark, s"$out/warm", Trigger.AvailableNow())
    wq.awaitTermination()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // One intake query for the whole run; the generator first holds the
    // fixed rate (latency), then bursts (sustained rate).
    val root = s"$out/intake"
    val gen = new Gen(s"$root/topic", seed)
    val q = start(spark, root, Trigger.ProcessingTime(Trig))
    val c0 = Run.cpuS()
    val t0 = System.nanoTime()
    gen.runAt(FixedRate, WarmupS)
    val firstSampled = gen.generated
    gen.runAt(FixedRate, seconds * 0.5)
    val lastSampled = gen.generated
    val fixedWall = (System.nanoTime() - t0) / 1e9
    val fixedEndMs = System.currentTimeMillis()
    val fixedCpu = Run.cpuS() - c0

    // burst: many more files than a micro-batch admits, so the batches it
    // feeds are full; a full batch's rows over its duration is the rate
    // the intake sustains
    val burstStartMs = System.currentTimeMillis()
    gen.runAt(BurstRate, seconds * 0.2, tickMs = BurstTickMs)
    val drained = drain(l, q, gen, 60)
    q.stop()
    def startMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli
    val fullRows = MaxFiles * (BurstRate * BurstTickMs / 1000).toLong
    val full = l.all.map(_._2).filter(p => p.id == q.id && startMs(p) >= burstStartMs &&
      p.numInputRows == fullRows).map(p => fullRows / (p.durationMs.get("triggerExecution") / 1e3))
    val sustained = pct(full, 0.5)
    val events = l.all.filter(_._2.id == q.id)
    val commitMs = events.map { case (ms, p) => p.batchId -> ms }.toMap
    val landed = CorpusIngest.readCorpus(spark, s"$root/corpus").select("doc_id", "batch")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val latencies = landed.collect { case (id, b) if id >= firstSampled && id < lastSampled =>
      (commitMs(b) - gen.dueMs(id)) / 1e3 }

    val fixedBatchS = events.filter(_._1 <= fixedEndMs).map(_._2)
      .filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution").toDouble / 1e3)
    val checks = Seq(
      ("stream drained", 1L, if (drained) 1L else 0L),
      ("stream burst fed at least two full micro-batches", 1L, if (full.size >= 2) 1L else 0L),
      ("stream docs landed = unique quality docs", gen.uniqueQuality, landed.size.toLong))
    val jobs = Seq(Map("name" -> "intake", "wall_s" -> pct(fixedBatchS, 0.5), "oracle" -> false, "output" -> "",
      "checks" -> checks.map { case (w, e, a) => Map("what" -> w, "expected" -> e, "actual" -> a) }))

    val layer: Map[String, Double] = if (!traced) Map.empty else {
      // progress of the fixed-rate part only
      val fixed = events.filter(_._1 <= fixedEndMs)
      val ps = fixed.map(_._2)
      def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble / 1e3).getOrElse(0.0))
      val backlogRows = fixed.map { case (ms, _) =>
        val g = gen.written.takeWhile(_._1 <= ms).lastOption.map(_._2).getOrElse(0L)
        (g - fixed.filter(_._1 <= ms).map(_._2.numInputRows).sum).toDouble
      }
      val perFile = FixedRate * TickMs / 1000
      val docs = spark.read.schema("doc_id LONG, text STRING, event_ts TIMESTAMP")
        .json(s"$root/topic").select("text").localCheckpoint()
      val emb = spark.read.parquet(s"${kv("smoke")}/embeddings.parquet").select("embedding")
      Workloads.kernels(docs, emb) ++ Map(
        "stream.batches" -> events.size.toDouble,
        "stream.batch_p50_s" -> pct(dur("triggerExecution"), 0.5),
        "stream.add_batch_s" -> pct(dur("addBatch"), 0.5),
        "stream.latest_offset_s" -> pct(dur("latestOffset"), 0.5),
        "stream.wal_commit_s" -> pct(dur("walCommit"), 0.5),
        "stream.query_planning_s" -> pct(dur("queryPlanning"), 0.5),
        "stream.backlog_files_max" -> (if (backlogRows.isEmpty) 0.0 else backlogRows.max / perFile),
        "stream.state_rows" -> events.flatMap(_._2.stateOperators.map(_.numRowsTotal.toDouble)).foldLeft(0.0)(math.max),
        "stream.state_mem_mb" -> events.flatMap(_._2.stateOperators.map(_.memoryUsedBytes / 1048576.0)).foldLeft(0.0)(math.max),
        "stream.dup_drop_frac" -> (if (gen.quality > 0) (gen.quality - landed.size).toDouble / gen.quality else 0.0),
        "stream.generator_lag_s" -> gen.maxLagMs / 1e3)
    }
    Map("workload" -> "intake_stream", "setup_s" -> setupS, "peak_rss_mb" -> Run.peakRssMb(),
      "input_rows" -> gen.generated, "fixed_rate" -> FixedRate,
      "latencies_s" -> latencies, "sustained_rows_per_s" -> sustained, "burst_start_ms" -> burstStartMs,
      "progress" -> events.map { case (ms, p) => Seq(startMs(p).toDouble, ms.toDouble, p.numInputRows.toDouble,
        p.durationMs.get("triggerExecution").toDouble) },
      "passes" -> Seq(Map("pass" -> 0, "traced" -> traced, "wall_s" -> pct(fixedBatchS, 0.5),
        "segment_s" -> fixedWall, "cpu_s" -> fixedCpu, "batches" -> fixedBatchS,
        "jobs" -> jobs, "layer" -> layer)),
      "spans" -> Json.Raw("[]"))
  }
}
