package graft.perfbench

import graft.GraftQuery
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.lit
import scala.collection.mutable

/** What a workload gives the runner: one repetition of its unit of
  * work, made of operations that each call the engine's public API, and
  * the correctness checks that run once at the end. */
trait Workload {
  /** One repetition; every engine call goes through `ctx.op`. */
  def rep(ctx: Ctx, repNo: Int): Unit
  /** Checks that run once, after the timed repetitions. */
  def check(ctx: Ctx): Unit
  /** Operation latency reported as `op_*` (`None`: the ops recorded by
    * `ctx.op`). The streaming workload reports trigger latency. */
  def opSeconds(ctx: Ctx): Option[Seq[Double]] = None
  /** Layer figures this workload adds to the traced run. */
  def layers(ctx: Ctx, reps: Seq[Span]): Map[String, Double] = Map.empty
  /** Called once, when the timed repetitions start. */
  def timingStarts(ctx: Ctx): Unit = ()
}

object Workload {
  def apply(name: String, data: String, work: String, seed: Long): Workload = name match {
    case "headline" => new Headline(data, seed)
    case "reload_maintain" => new ReloadMaintain(data, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private[perfbench] def sumSpans(reps: Seq[Span], all: Vector[Span], name: String)
      : (Double, Long) = {
    val ids = reps.map(_.id).toSet
    val hit = all.filter(s => s.name == name && ids.contains(s.trace))
    (hit.map(_.seconds).sum, hit.map(_.counters.jobs).sum)
  }
}

/** The frozen headline queries, one long-lived session, a seeded
  * random order on every pass. Each query's result is collected; its
  * order-independent hash must not change between passes. */
final class Headline(sf: String, seed: Long) extends Workload {
  private val queries: Seq[GraftQuery] = graft.SparkEntry.headlines
  private val hashes = mutable.Map.empty[String, Int]
  private val sources = mutable.Map.empty[String, Seq[String]]
  private val last = mutable.Map.empty[String, (Array[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType)]

  def rep(ctx: Ctx, repNo: Int): Unit = {
    val order = new scala.util.Random(seed * 1000003L + repNo).shuffle(queries)
    order.foreach { q =>
      ctx.op(q.name) {
        if (ctx.tracer.isOn) ctx.tracer.span("sources") {
          sources.getOrElse(q.name, Nil).foreach { t =>
            val df = if (t == "events") graft.sources.Tables.events(ctx.spark, sf)
              else graft.sources.Tables.table(ctx.spark, sf, t)
            df.schema
          }
        }
        val df = ctx.tracer.span("operators")(q.fn(ctx.spark, sf))
        val rows = df.collect()
        last(q.name) = (rows, df.schema)
        sources.getOrElseUpdate(q.name, readTables(df))
        val h = scala.util.hashing.MurmurHash3.unorderedHash(rows.toSeq)
        val first = hashes.getOrElseUpdate(q.name, h)
        ctx.require(s"stable_hash.${q.name}", first == h)
      }
    }
  }

  /** Source tables a query's plan reads, by file name. */
  private def readTables(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
            .filter(graft.sources.Tables.all.contains)
        case _ => Nil
      }
    }.flatten.distinct

  /** Dump each query's last collected result, with its oracle SQL, for
    * the DuckDB check. */
  def check(ctx: Ctx): Unit = queries.foreach { q =>
    last.get(q.name).foreach { case (rows, schema) =>
      ctx.op(s"dump.${q.name}") {
        ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"${ctx.out}/results/${q.name}")
      }
    }
    ctx.oracle(q.name, q.oracle.get)
  }

  override def layers(ctx: Ctx, reps: Seq[Span]): Map[String, Double] = {
    val all = ctx.tracer.finished
    val n = reps.size.toDouble
    val (srcS, srcJobs) = Workload.sumSpans(reps, all, "sources")
    val (opS, opJobs) = Workload.sumSpans(reps, all, "operators")
    Map("sources.resolve_s" -> srcS / n, "sources.resolve_jobs" -> srcJobs / n,
      "operators.build_s" -> opS / n, "operators.build_jobs" -> opJobs / n)
  }
}

/** The write path. Each repetition runs the reference flow as a
  * truncate-then-reload (ingest the CSV, run the raw_texi -> core_texi
  * models, run the five data-quality tests), then evicts the session's
  * memoized indexes and drains the arrival files through the streaming
  * simhash census maintainer, one file per trigger, and serves the
  * maintained census. */
final class ReloadMaintain(data: String, work: String) extends Workload {
  private val csv = s"$data/taxi.csv"
  private val arrivals = s"$data/arrivals"
  private val expected: Map[String, Long] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$data/taxi_expected.json")))
    "\"(\\w+)\":\\s*(\\d+)".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }
  private val rowsLoaded = mutable.ArrayBuffer.empty[Long]
  private var tables: Map[String, org.apache.spark.sql.DataFrame] = Map.empty
  private var census: org.apache.spark.sql.DataFrame = _
  private val log = new TriggerLog
  private var listening: SparkSession = null
  private var firstTrigger = 0
  private var failedTimedMaintains = 0

  def rep(ctx: Ctx, repNo: Int): Unit = {
    if (listening ne ctx.spark) { ctx.spark.streams.addListener(log); listening = ctx.spark }
    ctx.op("reload") {
      val target = s"$work/texi_data"
      val rows = ctx.tracer.span("etl")(graft.etl.Ingest.load(ctx.spark, csv, target))
      rowsLoaded += rows
      ctx.require("raw_rows_loaded", rows == expected("raw_texi"))
      val raw = ctx.spark.read.parquet(target)
      tables = ctx.tracer.span("model") {
        graft.models.TaxiPipeline.registry(raw, lit("2026-01-01")).run(ctx.spark, s"$work/models")
      }
      val dq = ctx.tracer.span("dq") {
        graft.dq.DataQuality.runAll(tables("core_texi"), graft.dq.DataQuality.coreTexiSuite)
      }
      ctx.require("dq_tests_run", dq.size == 5)
      dq.foreach(r => ctx.require(s"dq.${r.name}", r.violations == 0))
    }
    val maintained = ctx.op("maintain") {
      graft.spark.SessionMemo.evictAll(ctx.spark)
      val idx = ctx.tracer.span("streaming") {
        graft.streaming.Streams.streamSimhashCensus(ctx.spark, data, Some(arrivals), Some(1))
      }
      ctx.require("census_served", idx.rows.collect().nonEmpty)
      census = idx.rows
    }
    if (!maintained && ctx.timing) failedTimedMaintains += 1
  }

  /** Triggers of the timed repetitions; a failed maintenance counts as
    * one trigger that misses any limit. */
  override def opSeconds(ctx: Ctx): Option[Seq[Double]] = {
    org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext)
    Some(log.snapshot.drop(firstTrigger).map(_.totalMs / 1000.0) ++
      Seq.fill(failedTimedMaintains)(Double.PositiveInfinity))
  }

  override def timingStarts(ctx: Ctx): Unit = {
    org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext)
    firstTrigger = log.snapshot.size
  }

  def check(ctx: Ctx): Unit = {
    if (tables.nonEmpty) ctx.op("check.counts") {
      ctx.require("raw_texi_rows", tables("raw_texi").count() == expected("raw_texi"))
      ctx.require("core_texi_rows", tables("core_texi").count() == expected("core_texi"))
    }
    if (census != null) ctx.op("dump.census") {
      census.coalesce(1).write.mode("overwrite").parquet(s"${ctx.out}/results/simhash_census")
    }
    ctx.oracle("simhash_census", graft.operators.Dedup.simhashCorpusCensusSql)
  }

  override def layers(ctx: Ctx, reps: Seq[Span]): Map[String, Double] = {
    val all = ctx.tracer.finished
    val n = reps.size.toDouble
    val ids = reps.map(_.id).toSet
    val (etlS, _) = Workload.sumSpans(reps, all, "etl")
    val (modelS, _) = Workload.sumSpans(reps, all, "model")
    val (dqS, dqJobs) = Workload.sumSpans(reps, all, "dq")
    val modelBytes = all.filter(s => s.name == "model" && ids.contains(s.trace))
      .map(_.counters.bytesWritten).sum
    val c = reps.map(_.counters).foldLeft(Counters())(_ + _)
    val t = math.max(1L, c.triggers).toDouble
    Map("etl.load_s" -> etlS / n,
      "etl.rows" -> (if (rowsLoaded.isEmpty) 0.0 else rowsLoaded.sum.toDouble / rowsLoaded.size),
      "model.run_s" -> modelS / n, "model.bytes_written" -> modelBytes / n,
      "dq.run_s" -> dqS / n, "dq.jobs" -> dqJobs / n,
      "streaming.trigger_s" -> c.triggerMs / t / 1000.0,
      "streaming.add_batch_s" -> c.addBatchMs / t / 1000.0,
      "streaming.trigger_overhead_s" -> (c.triggerMs - c.addBatchMs) / t / 1000.0,
      "streaming.jobs_per_trigger" -> c.triggerJobs / t)
  }
}
