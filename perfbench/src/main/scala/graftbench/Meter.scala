package graftbench

import scala.collection.mutable

import org.apache.spark.{GraftBenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** Task, job and block counters from Spark's public listener API.
  *
  * Work is attributed to an interval of wall-clock time: a job belongs to the
  * interval its submission time falls in, and a stage to the first job that
  * listed it, so a stage reused by a later job is never counted twice.
  * Intervals never overlap because the benchmark runs one call at a time.
  * (Job groups alone cannot do this: graft's suite runner submits jobs from
  * a cached thread pool whose threads keep the job group they inherited when
  * they were created.) */
final class Meter(sc: SparkContext) extends SparkListener {

  private final class StageAcc {
    var cpuNs = 0L
    var shuffleBytes = 0L
    var failed = 0
    val runMs = mutable.ArrayBuffer.empty[Long]
  }

  private val jobTimes = mutable.ArrayBuffer.empty[Long]
  private val stageOwner = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageAcc]
  // storage: RDD blocks (persists, caches, checkpoint pins) are tracked
  // while they exist; other blocks (broadcasts, large task results) count
  // from their creation to the end of the job that made them, because
  // when they are dropped depends on garbage collection.
  private val rddBlocks = mutable.Map.empty[String, Long]
  private val otherSeen = mutable.Set.empty[String]
  private var rddHeld = 0L
  private var rddPeak = 0L
  private var otherNew = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val idx = jobTimes.size
    jobTimes += e.time
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = idx)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val acc = stages.getOrElseUpdate(e.stageId, new StageAcc)
    if (e.reason != Success) acc.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      acc.cpuNs += m.executorCpuTime
      acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      acc.runMs += m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = info.blockId.name
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    if (info.blockId.isRDD) {
      rddHeld += size - rddBlocks.getOrElse(key, 0L)
      if (size == 0L) rddBlocks.remove(key) else rddBlocks(key) = size
      rddPeak = math.max(rddPeak, rddHeld)
    } else if (size > 0L && otherSeen.add(key)) otherNew += size
  }

  // an unpersisted RDD's blocks are dropped without block updates
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    rddBlocks.keys.filter(_.startsWith(prefix)).toSeq.foreach { k =>
      rddHeld -= rddBlocks(k)
      rddBlocks.remove(k)
    }
  }

  def drain(): Unit = GraftBenchBus.drain(sc)

  /** Start measuring one job's storage. */
  def startStorage(): Unit = {
    drain()
    synchronized { rddPeak = rddHeld; otherNew = 0L }
  }

  /** Peak bytes held since startStorage (see the note on the fields). */
  def storageBytes(): Long = { drain(); synchronized(rddPeak + otherNew) }

  /** Counters of everything submitted in [t0Ms, t1Ms]. */
  def window(t0Ms: Long, t1Ms: Long): Window = {
    drain()
    synchronized {
      val idx = jobTimes.indices
        .filter(i => jobTimes(i) >= t0Ms && jobTimes(i) <= t1Ms).toSet
      val owned = stageOwner.collect { case (s, j) if idx(j) => s }
        .flatMap(s => stages.get(s)).toSeq
      val largest = owned.filter(_.runMs.nonEmpty)
        .sortBy(a => -a.runMs.sum).headOption
      val skew = largest.map { a =>
        val sorted = a.runMs.sorted
        sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
      }.getOrElse(1.0)
      Window(
        jobs = idx.size,
        firstJobMs = if (idx.isEmpty) t1Ms else idx.map(jobTimes(_)).min,
        cpuS = owned.map(_.cpuNs).sum / 1e9,
        shuffleMb = owned.map(_.shuffleBytes).sum / 1048576.0,
        taskSkew = skew,
        tasksFailed = owned.map(_.failed).sum)
    }
  }
}

final case class Window(jobs: Int, firstJobMs: Long, cpuS: Double,
    shuffleMb: Double, taskSkew: Double, tasksFailed: Int)

final case class Span(name: String, parent: String, startMs: Long,
    endMs: Long, wallS: Double, w: Window, counts: Map[String, Double])

/** One span around each call into a layer, kept in memory until the run
  * ends. Each span also tags its jobs with a Spark job group of its name. */
final class Tracer(sc: SparkContext, meter: Meter) {
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Run `f` as span `name`; `f` returns the span's rows_out and any extra
    * counts. Span bounds are epoch ms, the clock Spark stamps job
    * submissions with; the wall time is measured with nanoTime. */
  def span(name: String, parent: String)(f: => (Long, Map[String, Double])): Span = {
    meter.drain()
    Thread.sleep(5) // keep the job timestamps of adjacent spans apart
    val outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (rows, counts) =
      try f
      finally {
        if (outer == null) sc.clearJobGroup()
        else sc.setJobGroup(outer, outer, interruptOnCancel = false)
      }
    val wallS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val s = Span(name, parent, startMs, endMs, wallS,
      meter.window(startMs, endMs), counts + ("rows_out" -> rows.toDouble))
    spans += s
    s
  }

  /** Attach a count computed after span `name` ended. */
  def addCount(name: String, key: String, value: Double): Unit = {
    val i = spans.lastIndexWhere(_.name == name)
    spans(i) = spans(i).copy(counts = spans(i).counts + (key -> value))
  }
}
