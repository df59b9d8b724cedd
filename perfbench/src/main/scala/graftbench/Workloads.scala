package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core._
import graft.operators.Dedup
import graft.sources.BatchReader
import graft.transcripts.{Checkpoint, QualityFilter}

/** One workload: the timed job, the check of its output against the
  * reference digest, and the traced per-layer calls. */
trait Workload {
  type Out
  def name: String
  def inputRows: Long
  /** One timed job, from reading the input to the job's sink. */
  def job(): Out
  /** Digest of the job's output; runs outside the timed interval. */
  def digest(out: Out): Map[String, Long]
  /** Frees what the job left behind; runs outside the timed interval. */
  def release(out: Out): Unit = ()
  /** Checks made once per run, outside any timed interval. */
  def runChecks(): Map[String, Long] = Map.empty
  /** The traced calls, one span per layer, each over a cached input. */
  def traceLayers(t: Tracer): Unit
}

object Workload {
  /** Materialise `df` to the noop sink; returns its row count, taken by an
    * observation riding the same job. */
  def sinkNoop(df: DataFrame, extra: Column*): Map[String, Long] = {
    val obs = new Observation()
    df.observe(obs, count(lit(1)).as("rows"), extra: _*)
      .write.format("noop").mode("overwrite").save()
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Number].longValue() }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def cached(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_AND_DISK)
    c.count()
    c
  }
}

import Workload._

/** The production job in QualityFilterJob's shape: read the transcript
  * table, run the quality filter, commit with Checkpoint.runResumable into
  * a fresh outDir. */
final class QfCheckpoint(spark: SparkSession, path: String, work: Path)
    extends Workload {
  type Out = (Path, Checkpoint.RunReport)
  val name = "qf_checkpoint"
  lazy val inputRows: Long = spark.read.parquet(path).count()
  private var seq = 0

  private def freshDir(): Path = {
    seq += 1
    work.resolve(s"qf-out-$seq")
  }

  def job(): Out = {
    val dir = freshDir()
    (dir, Checkpoint.runResumable(spark.read.parquet(path), dir.toString))
  }

  def digest(out: Out): Map[String, Long] = {
    val (dir, report) = out
    val flags = Seq("lang_ok", "ppl_ok", "len_ok", "symbol_ok", "rep_ok",
      "role_seq_ok", "email_found", "phone_found", "ssn_found", "tox_found")
    def n(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val aggs = Seq(count(lit(1)).as("rows_in"), n(col("keep")).as("kept"),
      n(col("pii_found")).as("pii"),
      coalesce(sum(when(col("keep"), length(col("scrubbed_text")))), lit(0L))
        .cast("long").as("scrubbed_chars_kept")) ++
      flags.map(f => n(col(f)).as(s"flag.$f"))
    val row = Checkpoint.readCommitted(spark, dir.toString)
      .agg(aggs.head, aggs.tail: _*).head()
    val fromOutput = row.schema.fieldNames.map(f => f -> row.getAs[Long](f)).toMap
    fromOutput ++ Map(
      "lineage.rows_in" -> report.lineage.map(_.rowsIn).sum,
      "lineage.kept" -> report.lineage.map(_.rowsKept).sum,
      "lineage.pii" -> report.lineage.map(_.piiRows).sum)
  }

  override def release(out: Out): Unit = deleteTree(out._1)

  def traceLayers(t: Tracer): Unit = {
    t.span("scan", name) {
      (sinkNoop(spark.read.parquet(path))("rows"), Map.empty)
    }
    val input = cached(spark.read.parquet(path))
    try {
      t.span("transcripts.roleseq", name) {
        (sinkNoop(QualityFilter.withRoleSeq(input))("rows"), Map.empty)
      }
      t.span("functions.qf_score", name) {
        (sinkNoop(QualityFilter.withScoresFused(input))("rows"), Map.empty)
      }
      t.span("transcripts.filter", name) {
        val m = sinkNoop(QualityFilter(input),
          sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
        (m("rows"), Map("keep_frac" -> m("kept").toDouble / math.max(m("rows"), 1L)))
      }
      val dir = freshDir()
      t.span("transcripts.checkpoint", name) {
        val report = Checkpoint.runResumable(input, dir.toString)
        val files = Files.walk(dir.resolve("data")).iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
        (report.lineage.map(_.rowsIn).sum, Map(
          "write_mb" -> files.map(Files.size).sum / 1048576.0,
          "files" -> files.size.toDouble))
      }
      deleteTree(dir)
    } finally input.unpersist(blocking = true)
  }
}

/** A GE suite in SUMMARY format over the transcript table, loaded with
  * BatchReader.read(persist = true) and validated with Graft.validate. */
final class SuiteTranscripts(spark: SparkSession, path: String) extends Workload {
  type Out = (SuiteResult, DataFrame)
  val name = "suite_transcripts"
  lazy val inputRows: Long = spark.read.parquet(path).count()

  private val roles: Seq[Any] = QualityFilter.AllowedRoles
  /** (id, expectation) in suite order; the ids match the DuckDB reference. */
  val mapExps: Seq[(String, Expectation)] = Seq(
    "m_text_not_null" -> ExpectColumnValuesToNotBeNull("text"),
    "m_tool_not_null" -> ExpectColumnValuesToNotBeNull("tool", mostly = 0.1),
    "m_role_in_set" -> ExpectColumnValuesToBeInSet("role", roles, mostly = 0.95),
    "m_role_in_set_strict" ->
      ExpectColumnValuesToBeInSet("role", roles, mostly = 0.995),
    "m_text_length" -> ExpectColumnValueLengthsToBeBetween("text", Some(1), Some(200)),
    "m_text_no_email" ->
      ExpectColumnValuesToNotMatchRegex("text", QualityFilter.EmailRe, mostly = 0.95),
    "m_text_no_ssn" -> ExpectColumnValuesToNotMatchRegex("text", QualityFilter.SsnRe))
  val windowExps: Seq[(String, Expectation)] = Seq(
    "w_conv_turn_unique" -> ExpectCompoundColumnsToBeUnique(Seq("conv_id", "turn_idx")),
    "w_ts_increasing" -> ExpectColumnValuesToBeIncreasing("ts",
      partitionBy = Seq("conv_id"), orderBy = Seq("turn_idx")))
  val aggExps: Seq[(String, Expectation)] = Seq(
    "a_row_count" -> ExpectTableRowCountToBeBetween(Some(1), None),
    "a_turn_mean" -> ExpectColumnMeanToBeBetween("turn_idx", Some(0), Some(100)),
    "a_turn_min" -> ExpectColumnMinToBeBetween("turn_idx", Some(0), Some(0)),
    "a_turn_max" -> ExpectColumnMaxToBeBetween("turn_idx", Some(0), Some(100)))
  val all: Seq[(String, Expectation)] = mapExps ++ windowExps ++ aggExps

  private def suite(exps: Seq[(String, Expectation)]) =
    Suite("transcripts_" + exps.size, exps.map(_._2))
  private def validate(df: DataFrame, exps: Seq[(String, Expectation)]) =
    Graft.validate(df, suite(exps), ResultFormat.Summary)

  def job(): Out = {
    val df = BatchReader.read(spark, path, persist = true)
    (validate(df, all), df)
  }

  def digest(out: Out): Map[String, Long] = {
    val evrs = out._1.results
    require(evrs.size == all.size, s"${evrs.size} results for ${all.size} expectations")
    def long(e: Evr, k: String): Long = e.result(k).asInstanceOf[Number].longValue()
    val rows = long(evrs(all.indexWhere(_._1 == "a_row_count")), "observed_value")
    all.zip(evrs).flatMap { case ((id, _), e) =>
      val ok = s"$id.success" -> (if (e.success) 1L else 0L)
      if (id.startsWith("a_")) {
        val obs = e.result("observed_value").asInstanceOf[Number]
        // the mean is checked as mean * rows: turn_idx has no nulls, so
        // that is the column's exact integer sum in both engines
        val v = if (id == "a_turn_mean") math.round(obs.doubleValue() * rows)
          else obs.longValue()
        Seq(ok, s"$id.observed" -> v)
      } else Seq(ok,
        s"$id.element_count" -> long(e, "element_count"),
        s"$id.unexpected_count" -> long(e, "unexpected_count"),
        s"$id.missing_count" -> long(e, "missing_count"))
    }.toMap
  }

  override def release(out: Out): Unit = out._2.unpersist(blocking = true)

  def traceLayers(t: Tracer): Unit = {
    var input: DataFrame = null
    t.span("sources.read", name) {
      input = BatchReader.read(spark, path, persist = true)
      (input.count(), Map.empty)
    }
    try {
      for ((layer, exps) <- Seq("map" -> mapExps, "window" -> windowExps,
          "agg" -> aggExps)) {
        t.span(s"core.validate.$layer", name) {
          validate(input, exps)
          (inputRows, Map.empty)
        }
      }
      val whole = t.span("core.validate", name) {
        validate(input, all)
        (inputRows, Map.empty)
      }
      t.addCount("core.validate", "expectations_per_job",
        all.size.toDouble / math.max(whole.w.jobs, 1))
    } finally input.unpersist(blocking = true)
  }
}

/** The q90 composition at q90's exact setting (maxDf = Int.MaxValue):
  * ngramJaccardPairs -> connectedComponents -> dedupByPairs. */
final class DedupDocs(spark: SparkSession, path: String) extends Workload
    with AdaptiveSparkPlanHelper {
  type Out = Map[String, Long]
  val name = "dedup_docs"
  lazy val inputRows: Long = spark.read.parquet(path).count()

  private def pairs(docs: DataFrame): DataFrame =
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5, maxDf = Int.MaxValue)

  private def survivors(docs: DataFrame, p: DataFrame): Map[String, Long] = {
    val r = Dedup.dedupByPairs(docs, "doc_id", p, "doc_a", "doc_b")
      .agg(count(lit(1)), coalesce(sum("doc_id"), lit(0L))).head()
    Map("survivors" -> r.getLong(0), "survivor_id_sum" -> r.getLong(1))
  }

  def job(): Out = {
    val docs = spark.read.parquet(path)
    survivors(docs, pairs(docs))
  }

  def digest(out: Out): Map[String, Long] = out

  override def runChecks(): Map[String, Long] =
    Map("pairs" -> pairs(spark.read.parquet(path)).count())

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(-1L)

  def traceLayers(t: Tracer): Unit = {
    val docs = cached(spark.read.parquet(path))
    var verified: DataFrame = null
    try {
      t.span("operators.pairs", name) {
        val p = pairs(docs)
        val n = p.collect().length.toLong
        // after the action: the index self-join's output rows, and the
        // share of candidate pairs (the grouped join output) that verify
        val plan = p.queryExecution.executedPlan
        val indexRows = collect(plan) { case j: SortMergeJoinExec =>
          metric(j, "numOutputRows") }.sum
        val candidates = collect(plan) {
          case f: FilterExec if f.child.isInstanceOf[HashAggregateExec] =>
            metric(f.child, "numOutputRows")
        }.sum
        (n, Map("index_rows" -> indexRows.toDouble,
          "verify_yield" -> n.toDouble / math.max(candidates, 1L)))
      }
      verified = cached(pairs(docs))
      var cc: DataFrame = null
      t.span("operators.cc", name) {
        cc = Dedup.connectedComponents(verified, "doc_a", "doc_b")
        (cc.count(), Map.empty)
      }
      t.addCount("operators.cc", "clusters",
        cc.select("cluster").distinct().count().toDouble)
      t.span("operators.cc_distributed", name) {
        (Dedup.connectedComponents(verified, "doc_a", "doc_b",
          driverEdgeLimit = 0).count(), Map.empty)
      }
      t.span("operators.dedup", name) {
        (survivors(docs, verified)("survivors"), Map.empty)
      }
    } finally {
      if (verified != null) verified.unpersist(blocking = true)
      docs.unpersist(blocking = true)
    }
  }
}
