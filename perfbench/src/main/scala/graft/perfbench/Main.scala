package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** State one run shares with its workload: the session, the tracer,
  * the operation tally and the correctness checks. */
final class Ctx(val out: String) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Seconds of every operation of the timed repetitions; a failed
    * operation is recorded as +Infinity, never dropped. */
  val latencies = mutable.ArrayBuffer.empty[Double]
  var timing = false
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val oracles = mutable.LinkedHashMap.empty[String, String]

  /** One engine operation: counted, timed, traced, and on failure
    * counted once as failed with a latency that misses any limit.
    * Returns whether it succeeded. */
  def op(label: String)(body: => Unit): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try { tracer.span(label)(body); true } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failed += 1
        errors += s"$label: ${e.getClass.getName}: ${e.getMessage}".take(2000)
        false
    }
    if (timing) latencies += (if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity)
    ok
  }

  def require(name: String, ok: Boolean): Unit =
    checks(name) = checks.getOrElse(name, true) && ok

  /** Register a result dumped under `out/results/<name>` for comparison
    * with `sql` run by DuckDB over the same inputs. */
  def oracle(name: String, sql: String): Unit = oracles(name) = sql
}

/** Runs one workload in one JVM and writes its raw figures as JSON:
  *
  *   --workload <name> --data <inputs dir> --work <scratch dir>
  *   --out <results dir> --seconds <n> --trace <0|1> --setups <n>
  *   --cores <n> --seed <n>
  *
  * Set-up is repeated `setups` times, each a fresh session plus one
  * untimed repetition. Timed repetitions then run back to back (one
  * closed-loop client) until `seconds` have passed. With tracing on,
  * every other repetition is traced, so one run yields both the layer
  * split and the tracing overhead. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val ctx = new Ctx(a("out"))
    val wl = Workload(a("workload"), a("data"), a("work"), a("seed").toLong)

    val sessionS, setupS = mutable.ArrayBuffer.empty[Double]
    (1 to a("setups").toInt).foreach { i =>
      if (ctx.spark != null) {
        graft.spark.SessionMemo.evictAll(ctx.spark)
        ctx.spark.stop()
      }
      val t0 = System.nanoTime()
      ctx.spark = graft.spark.Sessions.local("perfbench", a("cores").toInt)
      ctx.tracer = new Tracer(ctx.spark)
      val t1 = System.nanoTime()
      wl.rep(ctx, -i)
      sessionS += (t1 - t0) / 1e9
      setupS += (System.nanoTime() - t0) / 1e9
    }

    wl.timingStarts(ctx)
    ctx.timing = true
    val repS, tracedS, untracedS = mutable.ArrayBuffer.empty[Double]
    val tracedReps = mutable.ArrayBuffer.empty[Span]
    val start = System.nanoTime()
    var repNo = 0
    while (repNo < (if (trace) 2 else 1) || (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = trace && repNo % 2 == 0
      if (traced) ctx.tracer.start() else ctx.tracer.stop()
      val t0 = System.nanoTime()
      ctx.tracer.span("rep")(wl.rep(ctx, repNo))
      val s = (System.nanoTime() - t0) / 1e9
      repS += s
      if (traced) { tracedS += s; tracedReps += ctx.tracer.finished.last }
      else untracedS += s
      repNo += 1
    }
    ctx.tracer.stop()
    ctx.timing = false
    val opS = wl.opSeconds(ctx).getOrElse(ctx.latencies.toSeq)

    val layers: Map[String, Double] = if (!trace) Map.empty else {
      val n = tracedReps.size.toDouble
      val c = tracedReps.map(_.counters).foldLeft(Counters())(_ + _)
      Map(
        "spark.session_s" -> Stats.median(sessionS.toSeq),
        "spark.jobs" -> c.jobs / n, "spark.tasks" -> c.tasks / n,
        "spark.task_run_s" -> c.taskRunMs / n / 1000.0,
        "spark.task_deser_s" -> c.taskDeserMs / n / 1000.0,
        "spark.sched_delay_s" -> c.schedDelayMs / n / 1000.0,
        "spark.gc_s" -> c.gcMs / n / 1000.0,
        "spark.shuffle_write_bytes" -> c.shuffleWriteBytes / n,
        "spark.spill_bytes" -> c.spillBytes / n,
        "plans.planning_s" -> c.planningMs / n / 1000.0,
        "plans.exchanges" -> c.exchanges / n,
        "trace.overhead_pct" ->
          (Stats.median(tracedS.toSeq) / Stats.median(untracedS.toSeq) - 1.0) * 100.0
      ) ++ wl.layers(ctx, tracedReps.toSeq)
    }
    if (trace) java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${a("out")}/spans.jsonl"), ctx.tracer.spansJson)

    wl.check(ctx)
    val heapMb = {
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      def afterGc(): Double = {
        System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1048576.0
      }
      // Spark's ContextCleaner frees broadcast and shuffle state only after
      // a GC has enqueued their references, so collect until the figure
      // settles
      var (prev, cur, n) = (Double.MaxValue, afterGc(), 0)
      while (math.abs(prev - cur) >= 1.0 && n < 8) { prev = cur; cur = afterGc(); n += 1 }
      cur
    }
    ctx.spark.stop()

    val json = Json.obj(Seq(
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "errors" -> ctx.errors.toSeq,
      "checks" -> ctx.checks,
      "oracles" -> ctx.oracles,
      "setup_s" -> setupS.toSeq, "session_s" -> sessionS.toSeq,
      "rep_s" -> repS.toSeq, "op_s" -> opS,
      "retained_heap_mb" -> heapMb,
      "layers" -> layers))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a("out")}/run.json"), json)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer for the run's figures. Non-finite numbers are
  * written as `Infinity`/`NaN`, which Python's json module reads. */
object Json {
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
      else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Runs several harness invocations, separated by `--next`, in one JVM.
  * The build runs it once on small inputs of every workload to record
  * the class-data archive that later runs start from. */
object Train {
  def main(argv: Array[String]): Unit = {
    val groups = argv.foldLeft(List(List.empty[String])) {
      case (acc, "--next") => Nil :: acc
      case (acc, a) => (a :: acc.head) :: acc.tail
    }
    groups.reverse.map(_.reverse).foreach(g => Main.main(g.toArray))
  }
}
