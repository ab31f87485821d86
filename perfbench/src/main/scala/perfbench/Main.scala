package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, GraftSession, SparkEntry}

/** Benchmark harness: one workload, one closed-loop client, `local[4]`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <fixture dir> --work <scratch dir> --digests <file>
  * Main --oracle-sql <out.json>     # oracle SQL of every registry op
  * }}}
  *
  * Set-up is cold: `setup_s` runs from the start of the JVM, through
  * class loading, a session with `GraftExtensions`, `GraftSession.init`
  * and [[WarmUps]] untimed warm-up passes (JIT, codegen, first-time
  * builds), until the first measured op is ready; generating the
  * workload's input is left out. Measured passes then run until
  * `--seconds` have passed, and at least [[MinPasses]] of them. Every
  * measured op's output is checked after its timer stops. With
  * `--trace 1` untraced and traced passes alternate, per-layer numbers
  * come from the traced ones, and the difference of the two pass medians
  * is the tracing overhead. The last stdout line is the result object.
  */
object Main {
  val Cores = 4
  /** Warm-up passes in set-up: after one, the JIT is still compiling and
    * op latencies keep falling through the next passes.
    */
  val WarmUps = 2
  /** Measured passes per run at least; a traced run alternates untraced
    * and traced passes, so it always has one of each.
    */
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt.get("oracle-sql") match {
      case Some(out) => writeOracleSql(new File(out))
      case None => run(opt)
    }
    sys.exit(0)
  }

  private def writeOracleSql(out: File): Unit = {
    val sql = SparkEntry.oracleSql
    val entries = (Workloads.Interactive ++ Workloads.Curation).distinct.sorted.map { n =>
      Json.str(n) + ": " + Json.str(sql.getOrElse(n,
        throw new IllegalStateException(s"no oracle SQL for $n")))
    }
    Files.writeString(out.toPath, entries.mkString("{\n", ",\n", "\n}\n"))
  }

  private final case class Pass(wallS: Double, ops: Seq[OpRecord], traced: Boolean)

  private def run(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val digests = Json.flatStrings(Files.readString(new File(opt("digests")).toPath))
    val g0 = System.nanoTime()
    val ops = Workloads.ops(workload, seed, opt("data"), work, digests)
    val inputGenS = (System.nanoTime() - g0) / 1e9
    val needsInit = ops.exists(_.kind == "query")
    val rng = new java.util.SplittableRandom(seed)
    val tracer = new Tracer(Cores)
    var spark: SparkSession = null
    var passNo = 0
    val errors = mutable.ArrayBuffer[String]()

    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .master(s"local[$Cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
        .config("spark.local.dir", new File(work, "local").getAbsolutePath)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    /** One pass over `ops`, measured passes in a seeded order. Failed or
      * wrong ops are counted when `measured`; warm-up ops are not checked.
      * Warm-up passes keep the declared order, so that every run's JIT
      * profile comes from the same sequence.
      */
    def pass(measured: Boolean, traced: Boolean): (Pass, Int) = {
      passNo += 1
      val order = if (measured) shuffled(ops, rng) else ops
      if (traced) tracer.attach(spark)
      var failed = 0
      val recs = order.zipWithIndex.map { case (op, i) =>
        if (op.clearsCache) spark.catalog.clearCache()
        val id = s"p$passNo-$i-${op.name}"
        spark.sparkContext.setJobGroup(id, op.name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        val err =
          try { tracer.span("op", id)(op.run(spark, tracer, id)); None }
          catch { case e: Exception => Some(s"${op.name}: $e") }
        val latency = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.clearJobGroup()
        val wrong = if (!measured || err.nonEmpty) err else
          try op.check(spark)
          catch { case e: Exception => Some(s"${op.name} check: $e") }
        wrong.foreach { w => failed += 1; errors += w }
        val input = if (err.isEmpty) op.inputBytes else 0L
        val (sinkBytes, sinkFiles) = if (traced) op.sink else (0L, 0L)
        OpRecord(id, op.name, op.kind, latency, input, sinkBytes, sinkFiles)
      }
      if (traced) tracer.detach(spark)
      (Pass(recs.map(_.latencyS).sum, recs, traced), failed)
    }

    // cold set-up, timed from JVM start; the input generated above is not
    // part of it
    val t0 = System.nanoTime()
    spark = newSession()
    if (needsInit) GraftSession.init(spark, opt("data"))
    val t1 = System.nanoTime()
    val warm = (1 to WarmUps).map { _ =>
      val (w, warmFailed) = pass(measured = false, traced = false)
      if (warmFailed > 0) errors += s"$warmFailed warm-up op(s) failed"
      w
    }
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - inputGenS
    System.err.println(f"[perfbench] set-up: JVM ${setupS - (System.nanoTime() - t0) / 1e9}%.2f s, " +
      f"session ${(t1 - t0) / 1e9}%.2f s, warm-up " +
      warm.flatMap(_.ops).map(o => f"${o.id} ${o.latencyS}%.2f").mkString(", "))

    val passes = mutable.ArrayBuffer[Pass]()
    var attempted = 0
    var failed = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var traceMetrics = Seq.empty[Map[String, Double]]
    while (passes.size < MinPasses || System.nanoTime() < deadline) {
      val traced = trace && passes.size % 2 == 1
      val (p, f) = pass(measured = true, traced = traced)
      passes += p
      System.err.println(f"[perfbench] pass${if (traced) " (traced)" else ""}: " +
        p.ops.map(o => f"${o.id} ${o.latencyS}%.3f").mkString(", "))
      attempted += p.ops.size
      failed += f
      if (traced) traceMetrics :+= tracer.passMetrics(p.ops, p.wallS)
    }
    spark.stop()

    val untraced = passes.filterNot(_.traced)
    // a typical pass: every op at its median latency over the untraced passes
    val typical = untraced.flatMap(_.ops).groupBy(_.name).values
      .map(rs => median(rs.map(_.latencyS))).toSeq
    val passS = typical.sum
    val latencies = untraced.flatMap(_.ops.map(_.latencyS))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("op_p50_s", median(typical), "s"))
      else {
        val tracedS = median(passes.filter(_.traced).map(_.wallS))
        val layer = traceMetrics.flatMap(_.keys).distinct.sorted.map { k =>
          (k, median(traceMetrics.map(_(k))), unitOf(k))
        }
        layer ++ Seq(("trace.pass_s", tracedS, "s"), ("trace.overhead_s", tracedS - passS, "s"))
      }
    if (trace) writeTrace(tracer, work, workload, seed, passes.filter(_.traced).toSeq)
    errors.take(20).foreach(e => System.err.println(s"[perfbench] $e"))
    println(f"[perfbench] $workload seed=$seed: set-up $setupS%.2f s; " +
      s"passes ${passes.map(p => f"${p.wallS}%.2f").mkString(" ")} s; " +
      s"${latencies.size} op latency samples, ${ops.size} ops per pass")
    val correct = errors.isEmpty
    println(Json.result(correct, attempted, failed, metrics))
  }

  /** Unit of each per-layer metric, by naming convention. */
  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes") || k.endsWith("bytes_read") || k.endsWith("bytes_written")) "bytes"
    else if (k == "sched.utilization" || k == "sched.stage_skew" ||
      k == "mr.shuffle_bytes_per_input_byte") "ratio"
    else "count"

  /** Writes the traced passes' spans, each with its parent's index, and
    * the median self time per layer.
    */
  private def writeTrace(tracer: Tracer, work: File, workload: String, seed: Long,
      traced: Seq[Pass]): Unit = {
    val dir = new File(work.getParentFile, "traces")
    dir.mkdirs()
    var base = 0
    val spans = traced.flatMap { p =>
      val t = tracer.tree(p.ops)
      val lines = t.zipWithIndex.map { case ((s, parent), i) =>
        s"""{"id":${base + i},"parent":${if (parent < 0) "null" else base + parent},""" +
          s""""name":${Json.str(s.name)},"start_us":${s.start},"end_us":${s.end},""" +
          s""""op":${Json.str(s.op)},"job":${s.job}}"""
      }
      base += t.size
      lines
    }
    val self = traced.map(p => tracer.selfTimes(p.ops))
    val selfJson = Tracer.Layers.map { l =>
      val k = s"self.${l.replace('.', '_')}_s"
      Json.str(l) + ":" + median(self.map(_(k)))
    }.mkString("{", ",", "}")
    Files.writeString(new File(dir, s"$workload-seed$seed.json").toPath,
      s"""{"workload":${Json.str(workload)},"seed":$seed,"self_s_median_per_pass":$selfJson,""" +
        s""""spans":[${spans.mkString(",\n")}]}""" + "\n")
  }

  private def shuffled[A](xs: Seq[A], rng: java.util.SplittableRandom): Seq[A] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toList
  }

  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.toIndexedSeq.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The little JSON the harness reads and writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A flat object of string values, such as `digests.json`. */
  def flatStrings(text: String): Map[String, String] =
    "\"([^\"\\\\]+)\"\\s*:\\s*\"([^\"\\\\]*)\"".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${
      ms.mkString(", ")}}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric is $v")
    else java.math.BigDecimal.valueOf(v).toPlainString
}
