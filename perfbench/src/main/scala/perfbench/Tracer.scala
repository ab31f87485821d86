package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer. Times are epoch microseconds; `op` is the id of
  * the benchmark op the call belongs to (null until resolved by time).
  */
final case class Span(
    name: String, start: Long, end: Long, op: String,
    job: Int = -1, attrs: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

/** What the harness knows about one op of a traced pass. */
final case class OpRecord(
    id: String, name: String, kind: String, latencyS: Double, inputBytes: Long,
    sinkBytes: Long, sinkFiles: Long)

/** In-memory span recorder for traced passes.
  *
  * The harness opens spans around its own calls into the engine (`op`,
  * `build` for query construction, `exec` for running to the sink). The
  * Spark listener, query-execution listener and streaming-query listener
  * add `job`, `stage`, `plan.*` and `stream.batch` spans plus per-task
  * counters. Jobs and stages carry their op through the job group the
  * harness sets per op; planning and stream spans are assigned to the op
  * whose span contains their start. Spans stay in memory and are written
  * out once, at the end of the run.
  */
final class Tracer(cores: Int) {
  @volatile private var on = false
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.Map[(String, String), Double]()
  private val jobGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  private def allSpans: Seq[Span] = synchronized(spans.toList)

  private def record(s: Span): Unit = synchronized { spans += s; () }
  private def add(op: String, key: String, v: Double): Unit = synchronized {
    counters((op, key)) = counters.getOrElse((op, key), 0.0) + v
  }
  private def max(op: String, key: String, v: Double): Unit = synchronized {
    counters((op, key)) = math.max(counters.getOrElse((op, key), 0.0), v)
  }

  /** Runs `body` inside a span when tracing is on. */
  def span[A](name: String, op: String)(body: => A): A =
    if (!on) body
    else {
      val s = nowUs
      try body finally record(Span(name, s, nowUs, op))
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time * 1000L
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (g, s) = synchronized((jobGroup.getOrElse(e.jobId, null), jobStart.remove(e.jobId)))
      if (g != null) s.foreach { st =>
        record(Span("job", st, e.time * 1000L, g, e.jobId))
        add(g, "jobs", 1)
      }
    }
    private def opOf(stageId: Int): String = synchronized {
      stageJob.get(stageId).flatMap(jobGroup.get).orNull
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = opOf(e.stageId)
      val m = e.taskMetrics
      if (op != null && m != null) {
        synchronized {
          stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
        }
        add(op, "tasks", 1)
        add(op, "task_ms", m.executorRunTime.toDouble)
        add(op, "cpu_ns", m.executorCpuTime.toDouble)
        add(op, "gc_ms", m.jvmGCTime.toDouble)
        add(op, "sw_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(op, "sw_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add(op, "sw_ns", m.shuffleWriteMetrics.writeTime.toDouble)
        add(op, "sr_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(op, "in_bytes", m.inputMetrics.bytesRead.toDouble)
        add(op, "in_records", m.inputMetrics.recordsRead.toDouble)
        add(op, "spill", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        max(op, "peak_exec", m.peakExecutionMemory.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val op = opOf(info.stageId)
      val tasks = synchronized(stageTasks.remove(info.stageId)).getOrElse(mutable.ArrayBuffer())
      if (op != null) {
        for (s <- info.submissionTime; c <- info.completionTime)
          record(Span("stage", s * 1000L, c * 1000L, op,
            synchronized(stageJob.getOrElse(info.stageId, -1))))
        add(op, "stages", 1)
        if (tasks.size >= 2) {
          val sorted = tasks.sorted
          add(op, "skew_max_ms", sorted.last.toDouble)
          add(op, "skew_med_ms", sorted(sorted.size / 2).toDouble)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      phases.foreach { case (phase, p) =>
        val name = if (phase == "planning") "plan.physical" else s"plan.$phase"
        record(Span(name, p.startTimeMs * 1000L, p.endTimeMs * 1000L, null))
      }
      if (phases.nonEmpty) {
        val at = phases.values.map(_.startTimeMs).min * 1000L
        record(Span("plan.census", at, at, null, attrs = PlanCensus(qe.executedPlan)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp)
      val s = start.getEpochSecond * 1000000L + start.getNano / 1000L
      record(Span("stream.batch", s, s + p.batchDuration * 1000L, null))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stops recording once every event posted so far has been delivered. */
  def detach(spark: SparkSession): Unit = {
    on = false
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Rank in the layer tree: a span's parent is the most specific span of
    * a lower rank, in the same op, whose interval holds the span's start.
    */
  private def rank(name: String): Int = name match {
    case "op" => 1
    case "build" | "exec" => 2
    case "stream.batch" => 3
    case "job" => 4
    case "stage" => 5
    case _ => 4 // plan.*
  }

  /** Spark reports job, stage and planning times in whole milliseconds. */
  private val SlackUs = 1000L

  /** The pass's spans with every span assigned to its op, or dropped
    * when it belongs to no op of the pass (output checks run between ops).
    */
  private def passSpans(ops: Seq[OpRecord]): Seq[Span] = {
    val ids = ops.map(_.id).toSet
    val all = allSpans
    val opSpans = all.filter(s => s.name == "op" && ids(s.op))
    all.flatMap { s =>
      if (s.op != null) Some(s).filter(x => ids(x.op))
      else opSpans
        .find(o => s.start >= o.start - SlackUs && s.start <= o.end)
        .map(o => s.copy(op = o.op))
    }
  }

  /** Duration of `s` not covered by its children. */
  private def selfUs(s: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, s.dur - covered)
  }

  /** The pass's spans with, for each, the index of its parent span in the
    * layer tree, or -1 for an op span.
    */
  def tree(ops: Seq[OpRecord]): IndexedSeq[(Span, Int)] = {
    val ss = passSpans(ops).filter(_.name != "plan.census").toIndexedSeq
    val jobs = ss.indices.filter(ss(_).name == "job").map(i => (ss(i).op, ss(i).job) -> i).toMap
    def parentOf(s: Span): Int =
      if (s.name == "op") -1
      else if (s.name == "stage" && jobs.contains((s.op, s.job))) jobs((s.op, s.job))
      else ss.indices.filter { i =>
        val p = ss(i)
        p.op == s.op && rank(p.name) < rank(s.name) &&
          s.start >= p.start - SlackUs && s.start <= p.end
      }.sortBy(i => (-rank(ss(i).name), ss(i).dur)).headOption.getOrElse(-1)
    ss.map(s => s -> parentOf(s))
  }

  /** Self time per layer, in seconds. */
  def selfTimes(ops: Seq[OpRecord]): Map[String, Double] = {
    val t = tree(ops)
    val children = t.indices.groupBy(i => t(i)._2)
    val layerOf = (s: Span) => if (s.name.startsWith("plan.")) "plan" else s.name
    Tracer.Layers.map { layer =>
      s"self.${layer.replace('.', '_')}_s" ->
        t.indices.filter(i => layerOf(t(i)._1) == layer).map { i =>
          selfUs(t(i)._1, children.getOrElse(i, Nil).map(t(_)._1))
        }.sum / 1e6
    }.toMap
  }

  /** Per-layer metrics of one traced pass. */
  def passMetrics(ops: Seq[OpRecord], passWallS: Double): Map[String, Double] = {
    val ss = passSpans(ops)
    def sumOver(os: Seq[OpRecord], key: String): Double =
      synchronized(os.map(o => counters.getOrElse((o.id, key), 0.0)).sum)
    def c(key: String): Double = sumOver(ops, key)
    def durS(name: String): Double = ss.filter(_.name == name).map(_.dur).sum / 1e6
    def census(key: String): Double =
      ss.filter(_.name == "plan.census").map(_.attrs.getOrElse(key, 0.0)).sum
    val builds = ss.filter(_.name == "build")
    val buildJobs = ss.count { j =>
      j.name == "job" && builds.exists(b =>
        b.op == j.op && j.start >= b.start - SlackUs && j.start <= b.end)
    }
    def opsOf(kind: String) = ops.filter(_.kind == kind)
    val mrOps = ops.filter(_.kind.startsWith("mr."))
    val mrIn = mrOps.map(_.inputBytes).sum.toDouble
    val taskS = c("task_ms") / 1000.0
    val skewMed = c("skew_med_ms")
    Map(
      "operators.build_s" -> durS("build"),
      "operators.build_jobs" -> buildJobs.toDouble,
      "mr.holistic_job_s" -> opsOf("mr.holistic").map(_.latencyS).sum,
      "mr.aggregated_job_s" -> opsOf("mr.aggregated").map(_.latencyS).sum,
      "mr.split_job_s" -> opsOf("mr.split").map(_.latencyS).sum,
      "mr.pairs_emitted" -> sumOver(opsOf("mr.holistic"), "sw_records"),
      "mr.shuffle_bytes_per_input_byte" ->
        (if (mrIn > 0) sumOver(mrOps, "sw_bytes") / mrIn else 0.0),
      "plan.analysis_s" -> durS("plan.analysis"),
      "plan.optimization_s" -> durS("plan.optimization"),
      "plan.physical_s" -> durS("plan.physical"),
      "plan.exchanges" -> census("exchanges"),
      "plan.global_sorts" -> census("global_sorts"),
      "plan.interpreted_exprs" -> census("interpreted_exprs"),
      "cache.inmem_scans" -> census("inmem_scans"),
      "sched.jobs" -> c("jobs"),
      "sched.stages" -> c("stages"),
      "sched.tasks" -> c("tasks"),
      "sched.task_s" -> taskS,
      "sched.cpu_s" -> c("cpu_ns") / 1e9,
      "sched.gc_s" -> c("gc_ms") / 1000.0,
      "sched.utilization" -> (if (passWallS > 0) taskS / (passWallS * cores) else 0.0),
      "sched.stage_skew" -> (if (skewMed > 0) c("skew_max_ms") / skewMed else 0.0),
      "shuffle.write_bytes" -> c("sw_bytes"),
      "shuffle.read_bytes" -> c("sr_bytes"),
      "shuffle.records" -> c("sw_records"),
      "shuffle.write_s" -> c("sw_ns") / 1e9,
      "mem.spill_bytes" -> c("spill"),
      "mem.peak_exec_bytes" -> synchronized(
        ops.map(o => counters.getOrElse((o.id, "peak_exec"), 0.0)).foldLeft(0.0)(math.max)),
      "scan.bytes_read" -> c("in_bytes"),
      "scan.records_read" -> c("in_records"),
      "sink.bytes_written" -> ops.map(_.sinkBytes).sum.toDouble,
      "sink.files" -> ops.map(_.sinkFiles).sum.toDouble,
      "stream.batches" -> ss.count(_.name == "stream.batch").toDouble,
      "stream.batch_s" -> durS("stream.batch"),
    ) ++ selfTimes(ops)
  }
}

object Tracer {
  /** The layers whose self time the report gives, outermost first. */
  val Layers: Seq[String] = Seq("op", "build", "exec", "stream.batch", "plan", "job", "stage")
}

/** Counts over an executed plan, descending into adaptive query stages
  * and subqueries.
  */
object PlanCensus extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Map(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeExec]).toDouble,
      "global_sorts" -> nodes.count {
        case s: SortExec => s.global
        case _ => false
      }.toDouble,
      "interpreted_exprs" -> nodes.map(_.expressions.map(
        _.collect { case e: CodegenFallback => e }.size).sum).sum.toDouble,
      "inmem_scans" -> nodes.count(_.isInstanceOf[InMemoryTableScanExec]).toDouble)
  }
}
