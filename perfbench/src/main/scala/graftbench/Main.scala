package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark side: one client in one process at local[cores],
  * submitting the next job only when the previous one has completed (a
  * closed loop). It writes raw measurements and output digests as JSON; the
  * runner (run.py) checks the digests against the DuckDB reference and
  * reports the metrics.
  *
  *   --workload NAME --seconds S --trace 0|1 --transcripts DIR --docs DIR
  *   --work DIR --out FILE
  */
object Main {

  final case class JobRec(wallS: Double, cpuS: Double, storageBytes: Long,
      digest: Map[String, Long], error: Option[String]) {
    def toJson: Map[String, Any] = Map("wall_s" -> wallS, "cpu_s" -> cpuS,
      "digest" -> digest, "error" -> error.orNull)
  }

  /** Warm-up ends when job times have stopped falling: two jobs in a row
    * no faster than the best earlier one by more than this share, after at
    * least MinWarmup jobs (the JIT still moves job times after plateaus of
    * a few jobs: measured at local[4], qf_checkpoint jobs fell from 5.4 s to
    * 1.1 s by the 4th job and to 0.75 s only by the 9th), or at a cap that
    * keeps a run within its time budget. */
  val SettledShare = 0.02
  val MinWarmup = 6
  val MinTimedJobs = 6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (cores * 3).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new Meter(spark.sparkContext)
    def make(name: String): Workload = name match {
      case "qf_checkpoint" => new QfCheckpoint(spark, opt("transcripts"), work)
      case "suite_transcripts" => new SuiteTranscripts(spark, opt("transcripts"))
      case "dedup_docs" => new DedupDocs(spark, opt("docs"))
    }
    val names = Seq("qf_checkpoint", "suite_transcripts", "dedup_docs")
    require(names.contains(opt("workload")), s"unknown workload ${opt("workload")}")
    val result =
      try {
        if (opt("trace") == "1")
          traced(spark, meter, (opt("workload") +: names.filterNot(_ == opt("workload"))).map(make))
        else timed(meter, make(opt("workload")), opt("seconds").toDouble)
      } finally spark.stop()
    Files.writeString(Paths.get(opt("out")), Json.write(result))
  }

  /** Run one job: timed call, then (untimed) digest and release. `around`
    * wraps the timed call, e.g. in a trace span. Storage is read before the
    * digest, so the check's own blocks never count. */
  def runJob(w: Workload, meter: Meter, verify: Boolean = true,
      around: (=> Unit) => Unit = f => f): JobRec = {
    var out: Try[w.Out] = null
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    around { out = Try(w.job()) }
    val wall = (System.nanoTime() - t0) / 1e9
    out match {
      case Failure(e) => JobRec(wall, 0.0, 0L, Map.empty, Some(e.toString))
      case Success(o) =>
        val cpu = meter.window(t0Ms, System.currentTimeMillis()).cpuS
        val stored = meter.storageBytes()
        val digest = if (verify) Try(w.digest(o)) else Try(Map.empty[String, Long])
        Try(w.release(o))
        JobRec(wall, cpu, stored, digest.getOrElse(Map.empty),
          digest.failed.toOption.map(_.toString))
    }
  }

  /** Jobs at the target size until job times stop falling. */
  def warmUp(w: Workload, meter: Meter, maxJobs: Int): Seq[JobRec] = {
    val recs = mutable.ArrayBuffer.empty[JobRec]
    def stalled(i: Int) = recs(i).wallS >= recs.take(i).map(_.wallS).min * (1 - SettledShare)
    def settled = recs.size >= MinWarmup && stalled(recs.size - 1) && stalled(recs.size - 2)
    while (recs.size < maxJobs && !settled) recs += runJob(w, meter, verify = false)
    recs.toSeq
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Seconds since the JVM started. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def timed(meter: Meter, w: Workload, seconds: Double): Map[String, Any] = {
    val sessionS = sinceStart()
    val warm = warmUp(w, meter, maxJobs = 10)
    val setupS = sinceStart()
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val t0 = System.nanoTime()
    while (jobs.size < MinTimedJobs || (System.nanoTime() - t0) / 1e9 < seconds) {
      System.gc() // every timed job starts from a collected heap
      meter.startStorage()
      jobs += runJob(w, meter)
    }
    val peakMb = jobs.map(_.storageBytes).max / 1048576.0
    Map("mode" -> "timed", "workload" -> w.name,
      "setup_s" -> setupS, "session_s" -> sessionS, "storage_peak_mb" -> peakMb,
      "warmup" -> warm.map(_.toJson), "jobs" -> jobs.map(_.toJson),
      "run_checks" -> Try(w.runChecks()).getOrElse(Map.empty))
  }

  /** The traced run: every workload's layer spans, plus the traced and
    * untraced whole job alternately for the tracing overhead. */
  def traced(spark: SparkSession, meter: Meter, ws: Seq[Workload]): Map[String, Any] = {
    val tracer = new Tracer(spark.sparkContext, meter)
    val perWorkload = ws.map { w =>
      val jobs = mutable.ArrayBuffer.empty[JobRec]
      val untraced = mutable.ArrayBuffer.empty[Double]
      val tracedS = mutable.ArrayBuffer.empty[Double]
      var rows = 0L
      val root = tracer.span(w.name, "") {
        warmUp(w, meter, maxJobs = 4)
        rows = w.inputRows
        // alternate which runs first, so a still-falling job time
        // favours neither side
        for (i <- 0 until 4) {
          if (i == 0 || i == 3) {
            val u = runJob(w, meter)
            jobs += u
            untraced += u.wallS
          } else {
            val t = runJob(w, meter, around = f =>
              tracer.span(w.name + ".job", w.name) { f; (rows, Map.empty) })
            jobs += t
            tracedS += t.wallS
          }
        }
        w.traceLayers(tracer)
        (rows, Map.empty)
      }
      w.name -> Map("jobs" -> jobs.map(_.toJson),
        "trace_overhead" -> (median(tracedS.toSeq) / median(untraced.toSeq) - 1),
        "tasks_failed" -> root.w.tasksFailed,
        "run_checks" -> Try(w.runChecks()).getOrElse(Map.empty))
    }.toMap
    Map("mode" -> "trace", "workloads" -> perWorkload,
      "spans" -> tracer.spans.map { s =>
        Map("name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "wall_s" -> s.wallS, "cpu_s" -> s.w.cpuS,
          "plan_s" -> math.max(s.w.firstJobMs - s.startMs, 0L) / 1e3,
          "shuffle_mb" -> s.w.shuffleMb, "task_skew" -> s.w.taskSkew,
          "jobs" -> s.w.jobs, "counts" -> s.counts)
      })
  }
}

/** Minimal JSON writer for the measurement file. */
object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }
}
