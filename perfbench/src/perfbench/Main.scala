package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.bench.QueryMetricsListener

/** What a job leaves to be checked: a result frame that the runner
  * writes (and the oracle compares), or invariant checks as (what,
  * expected, actual), evaluated after the pass with the listeners off. */
sealed trait JobOut
final case class Result(df: DataFrame) extends JobOut
final case class Checks(checks: () => Seq[(String, Long, Long)]) extends JobOut

/** One job of a closed-loop pass. `oracle` names the catalog entry whose
  * DuckDB oracle checks the written result. */
final case class Job(name: String, oracle: Boolean, run: Ctx => JobOut)

/** A job whose clock has stopped; `record` evaluates its checks. */
final case class Done(job: Job, wallS: Double, output: String, checks: () => Seq[(String, Long, Long)]) {
  def record(): Map[String, Any] = {
    val cs = try checks() catch { case e: Throwable =>
      Seq(("check error: " + String.valueOf(e.getMessage).take(300), 1L, 0L)) }
    Map("name" -> job.name, "wall_s" -> wallS, "oracle" -> job.oracle, "output" -> output,
      "checks" -> cs.map { case (w, e, a) => Map("what" -> w, "expected" -> e, "actual" -> a) })
  }
}

/** What a job sees: the session, the input directory, this pass's output
  * directory, the span recorder, and per-pass counters a job may add to. */
final class Ctx(val spark: SparkSession, val dir: String, val outDir: String, val trace: Trace) {
  val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Entry point. Modes:
  *   gen <outDir> <sf>          GenSf.writeAll at `sf` into `outDir`
  *   oracle-sql <file>          dump SparkEntry.oracleSql as JSON
  *   run key=value...           one timed run of a workload (see [[Run]])
  */
object Main {
  def session(local: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$local/spark-local")
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$local/checkpoints")
    spark
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") =>
      val spark = session(args(1) + ".work")
      graft.tools.GenSf.writeAll(spark, args(1), args(2).toDouble)
      spark.stop()
    case Some("oracle-sql") =>
      Files.writeString(Paths.get(args(1)), Json.render(graft.SparkEntry.oracleSql))
    case Some("run") =>
      val kv = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
      Run(kv)
    case _ =>
      System.err.println("usage: perfbench.Main gen <outDir> <sf> | oracle-sql <file> | run key=value...")
      sys.exit(2)
  }
}

/** One timed run in this (fresh) JVM: set-up (session built, one warm
  * pass over the smoke-size inputs), then closed-loop passes until the
  * time budget is spent, then the record is written to `out/record.json`. */
object Run {
  def nowS(): Double = System.nanoTime() / 1e9
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** Peak resident set of this process so far (VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def apply(kv: Map[String, String]): Unit = {
    val workload = kv("workload")
    val out = kv("out")
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val seed = kv("seed").toLong
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Main.session(out)
    val record =
      if (workload == "intake_stream")
        Intake.run(spark, kv, jvmStartMs, seconds, traced, seed)
      else batch(spark, kv, workload, jvmStartMs, seconds, traced, seed)
    Files.writeString(Paths.get(s"$out/record.json"), Json.render(record))
    spark.stop()
  }

  /** Data files under `dir` (checksum sidecars and markers excluded). */
  private def files(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil else Seq(f)
    walk(new java.io.File(dir))
  }

  private def batch(spark: SparkSession, kv: Map[String, String], workload: String,
                    jvmStartMs: Long, seconds: Double, traced: Boolean, seed: Long): Map[String, Any] = {
    val out = kv("out")
    val trace = new Trace(false)
    val sc = spark.sparkContext

    // Listeners are attached only for traced passes (see `listen`).
    val qm = if (traced) Some(new QueryMetricsListener()) else None
    val stages = new StageListener
    val plans = new PlanListener
    def listen(on: Boolean): Unit = {
      val all = qm.toSeq ++ Seq(stages)
      all.foreach(sc.removeSparkListener(_))
      spark.listenerManager.unregister(plans)
      if (on) { all.foreach(sc.addSparkListener(_)); spark.listenerManager.register(plans) }
    }

    def reset(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
      System.gc()
    }

    // One pass over the job list: (wall, CPU, finished jobs, counters).
    // Job clocks, wall and CPU, exclude the reset between jobs.
    def pass(jobs: Seq[Job], dir: String, passDir: String,
             layer: Boolean): (Double, Double, Seq[Done], Ctx) = {
      val ctx = new Ctx(spark, dir, passDir, trace)
      var wall = 0.0
      var cpu = 0.0
      val done = jobs.map { j =>
        val confBefore = spark.conf.getAll
        val c0 = cpuS()
        val t0 = nowS()
        val checks: () => Seq[(String, Long, Long)] = try trace.span(s"job.${j.name}") {
          j.run(ctx) match {
            case Result(df) =>
              trace.span("exec.result_write")(df.write.mode("overwrite").parquet(s"$passDir/${j.name}"))
              () => Nil
            case Checks(f) => f
          }
        } catch { case e: Throwable =>
          val err = Seq(("error: " + String.valueOf(e.getMessage).take(300), 1L, 0L)); () => err }
        val dt = nowS() - t0
        wall += dt
        cpu += cpuS() - c0
        val rddsLeft = sc.getPersistentRDDs.size
        val storageMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
        val confAfter = spark.conf.getAll
        val confWrites = (confBefore.keySet ++ confAfter.keySet).count(k => confBefore.get(k) != confAfter.get(k))
        if (layer) {
          ctx.add(s"job.${j.name}_s", dt)
          ctx.add("cache.rdds_left", rddsLeft)
          ctx.add("cache.storage_mb_left", storageMb)
          ctx.add("session.conf_writes", confWrites)
        }
        reset()
        Done(j, dt, if (j.oracle) s"$passDir/${j.name}" else "", checks)
      }
      (wall, cpu, done, ctx)
    }

    // set-up: session (built above) plus one warm pass on smoke inputs
    val (warmS, _, warmDone, _) = pass(Workloads.jobs(workload, seed, out, 0.1), kv("smoke"), s"$out/warm", layer = false)
    warmDone.foreach(_.record())
    val jobs = Workloads.jobs(workload, seed, out, 1.0)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // A fixed number of passes per run for a given `seconds`. Traced runs
    // alternate untraced and traced passes (at least untraced, traced,
    // untraced), so the tracing overhead is measured in the same JVM as
    // the layer figures.
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val nPasses = math.max(if (traced) 3 else 1,
      math.round(Workloads.passesPer10s(workload) * seconds / 10).toInt)
    var i = 0
    while (i < nPasses) {
      val tracedPass = traced && i % 2 == 1
      trace.on = tracedPass
      trace.pass = i
      listen(tracedPass)
      qm.foreach(_.reset()); stages.reset(); plans.reset()
      val (wall, cpu, done, ctx) = trace.span("pass")(pass(jobs, kv("data"), s"$out/pass$i", layer = tracedPass))
      val layer: Map[String, Double] =
        if (!tracedPass) Map.empty
        else {
          val m = qm.get.read(spark)
          val st = stages.read(spark)
          val self = trace.selfSeconds(i)
          val opsSelf = self.filter(_._1.startsWith("ops.")).map { case (k, v) => s"${k}_s" -> v }
          ctx.counters.toMap ++ st ++ plans.read() ++ opsSelf ++ Map(
            "plan.build_s" -> self.getOrElse("plan.build", 0.0),
            "exec.result_write_s" -> self.getOrElse("exec.result_write", 0.0),
            "exec.core_idle_frac" -> (1.0 - st("exec.task_run_s") / (wall * 4)),
            "exec.shuffle_write_rows" -> m.shuffleWriteRows.toDouble,
            "exec.shuffle_read_rows" -> m.shuffleReadRows.toDouble,
            "exec.shuffle_write_bytes" -> m.shuffleWriteBytes.toDouble,
            "exec.reread_ratio" -> (if (m.shuffleWriteRows > 0) m.shuffleReadRows.toDouble / m.shuffleWriteRows else 0.0),
            "exec.spill_bytes" -> (m.spillMemBytes + m.spillDiskBytes).toDouble,
            "exec.peak_task_mem_mb" -> m.peakTaskMemBytes / 1048576.0,
            "trace.self_covered_s" -> self.filter { case (k, _) => k != "pass" && !k.startsWith("job.") }.values.sum,
            "sink.files_written" -> files(s"$out/pass$i").size.toDouble,
            "sink.bytes_written" -> files(s"$out/pass$i").map(_.length).sum.toDouble)
        }
      // The invariant checks run queries of their own: only after the
      // listeners are read and detached, so no layer figure counts them.
      listen(false)
      passes += Map("pass" -> i, "traced" -> tracedPass, "wall_s" -> wall, "cpu_s" -> cpu,
        "jobs" -> done.map(_.record()), "layer" -> layer)
      i += 1
    }
    trace.on = false
    Map("workload" -> workload, "setup_s" -> setupS, "warm_pass_s" -> warmS,
      "warm_jobs" -> warmDone.map(d => d.job.name -> d.wallS).toMap, "peak_rss_mb" -> peakRssMb(),
      "input_rows" -> Workloads.inputRows(spark, workload, kv("data")),
      "passes" -> passes.toSeq,
      "spans" -> Json.Raw(trace.json(trace.spans.headOption.map(_.startNs).getOrElse(0L))))
  }
}
