package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.mr.{JobSpec, KeyValue, MRJob, WordCount}

/** One unit of user work. `run` is the timed part; `check` runs after the
  * timer stops and returns an error message when the output is wrong.
  */
trait Op {
  def name: String
  /** `query` or one of [[WordCountOp.Kinds]]: how the tracer files it. */
  def kind: String
  /** Clear Spark's cache before the op, outside the timer. */
  def clearsCache: Boolean = false
  def run(spark: SparkSession, t: Tracer, id: String): Unit
  def check(spark: SparkSession): Option[String]
  /** Bytes of input a MapReduce op reads; 0 for registry queries. */
  def inputBytes: Long = 0L
  /** (bytes, files) the op's file sink wrote; read after `check`. */
  def sink: (Long, Long) = (0L, 0L)
}

/** A registry query: construct it, run it to the `noop` sink, then check
  * the collected rows against the digest of the DuckDB oracle's answer.
  */
final class QueryOp(
    val name: String, dir: String, expected: String,
    override val clearsCache: Boolean) extends Op {
  val kind = "query"
  private var last: DataFrame = _

  def run(spark: SparkSession, t: Tracer, id: String): Unit = {
    val df = t.span("build", id)(SparkEntry.queries(name)(spark, dir))
    t.span("exec", id)(df.write.format("noop").mode("overwrite").save())
    last = df
  }

  def check(spark: SparkSession): Option[String] = {
    val got = Digest.of(last.schema, last.collect())
    if (got == expected) None else Some(s"$name: digest $got, expected $expected")
  }
}

/** A word-count MapReduce job over the generated text, through the sorted
  * single-file TSV sink; its output must equal the generator's lines byte
  * for byte. `mr.holistic` is `WordCount.runFile`, the reference's exact
  * dataflow; `mr.aggregated` the combiner path with `WordCount.sumAgg`;
  * `mr.split` the reference's byte-faithful `Split` into
  * [[WordCountOp.SplitMaps]] contiguous chunks, each handed to the map as
  * one string, then the holistic reduce.
  */
final class WordCountOp(val kind: String, text: ZipfText, out: File) extends Op {
  val name: String = kind

  def run(spark: SparkSession, t: Tracer, id: String): Unit = kind match {
    case "mr.holistic" =>
      t.span("exec", id)(
        WordCount.runFile(spark, text.path.getPath, out.getPath, singleFile = true))
    case "mr.aggregated" =>
      import spark.implicits._
      val kv = t.span("build", id) {
        MRJob.runAggregated(spark, JobSpec(text.path.getPath, out.getPath),
          WordCount.mapFn, WordCount.sumAgg)
          .map { case (k, n) => KeyValue(k, n.toString) }
      }
      t.span("exec", id)(MRJob.writeSortedTsv(kv, out.getPath, singleFile = true))
    case "mr.split" =>
      val kv = t.span("build", id)(MRJob.runWholeSplitContiguous(spark,
        JobSpec(text.path.getPath, out.getPath, nMap = WordCountOp.SplitMaps),
        WordCount.mapFn, WordCount.reduceFn))
      t.span("exec", id)(MRJob.writeSortedTsv(kv, out.getPath, singleFile = true))
  }

  private def parts: Seq[File] =
    Option(out.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))

  def check(spark: SparkSession): Option[String] = parts match {
    case Seq(f) =>
      if (java.util.Arrays.equals(Files.readAllBytes(f.toPath), text.expected)) None
      else Some(s"$kind: output differs from the expected word counts")
    case fs => Some(s"$kind: expected one part file, found ${fs.size}")
  }

  override def inputBytes: Long = text.path.length
  override def sink: (Long, Long) = (parts.map(_.length).sum, parts.size.toLong)
}

object WordCountOp {
  val Kinds: Seq[String] = Seq("mr.holistic", "mr.aggregated", "mr.split")
  /** Map tasks of the `mr.split` job: one per Spark slot. */
  val SplitMaps = 4
}

/** Seeded Zipf text for the word-count workload, with the exact expected
  * `word\tcount` lines of its sorted TSV output.
  *
  * Vocabulary: 50,000 words, the word of rank r being r in bijective
  * base 26 over `a`..`z` (so frequent words are short), drawn with
  * probability proportional to 1/r^1.1; 5 to 20 words a line, separated
  * by a space or, one time in eight, by ", " — the map must split on every
  * non-letter.
  */
final class ZipfText(val path: File, seed: Long, targetBytes: Long) {
  private val Vocabulary = 50000
  private val Exponent = 1.1

  private def word(rank: Int): String = {
    val sb = new StringBuilder
    var n = rank + 1
    while (n > 0) { n -= 1; sb += ('a' + n % 26).toChar; n /= 26 }
    sb.reverse.toString
  }

  val expected: Array[Byte] = {
    val cdf = new Array[Double](Vocabulary)
    var acc = 0.0
    for (r <- 0 until Vocabulary) { acc += 1.0 / math.pow(r + 1, Exponent); cdf(r) = acc }
    for (r <- 0 until Vocabulary) cdf(r) /= acc
    val words = Array.tabulate(Vocabulary)(r => word(r).getBytes(US_ASCII))
    val counts = new Array[Long](Vocabulary)
    val rng = new java.util.SplittableRandom(seed)
    path.getParentFile.mkdirs()
    val os = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
    var written = 0L
    try while (written < targetBytes) {
      val n = 5 + rng.nextInt(16)
      var i = 0
      while (i < n) {
        if (i > 0) {
          val sep = if (rng.nextInt(8) == 0) ", " else " "
          os.write(sep.getBytes(US_ASCII)); written += sep.length
        }
        var r = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
        if (r < 0) r = math.min(-r - 1, Vocabulary - 1)
        counts(r) += 1
        os.write(words(r)); written += words(r).length
        i += 1
      }
      os.write('\n'); written += 1
    } finally os.close()
    val lines = (0 until Vocabulary).filter(counts(_) > 0)
      .map(r => (word(r), counts(r))).sortBy(_._1)
    lines.map { case (w, c) => s"$w\t$c\n" }.mkString.getBytes(US_ASCII)
  }
}

object Workloads {

  /** Registry queries that exercise planning and the per-stage machinery:
    * scan-aggregate, a TPC-H join, a streaming drain, the declarative word
    * count and a top-k, at the oracle-gated scale.
    */
  val Interactive: Seq[String] = Seq(
    "q1_agg", "q_tpch_q3", "q_stream_wc", "wc_wordcount", "q_sort_limit")

  /** The SQL curation pipeline, run against a cleared cache because a user
    * pays the whole pipeline on every run: eager construction of its stage
    * tables and the `graft.functions` shingle and MinHash kernels. The
    * default variant rebuilds every stage table on each call; the `_wide`
    * variant would reuse the Gopher-gate and shingle tables an earlier
    * call left in the session, so those kernels would run only in set-up.
    */
  val Curation: Seq[String] = Seq("q_sql_pipeline")

  val Names: Seq[String] = Seq("mr_wordcount", "query_mix")

  /** Bytes of generated text for `mr_wordcount`. */
  val WordCountBytes: Long = 2L << 20

  def ops(workload: String, seed: Long, data: String, work: File,
      digests: Map[String, String]): Seq[Op] = {
    def queries(names: Seq[String], clears: Boolean): Seq[Op] = names.map { n =>
      new QueryOp(n, data, digests.getOrElse(n,
        throw new IllegalStateException(s"no stored digest for $n")), clears)
    }
    workload match {
      case "mr_wordcount" =>
        val text = new ZipfText(new File(work, "wc/input.txt"), seed, WordCountBytes)
        WordCountOp.Kinds.map(k =>
          new WordCountOp(k, text, new File(work, "wc/" + k.stripPrefix("mr."))))
      case "query_mix" =>
        queries(Interactive, clears = false) ++ queries(Curation, clears = true)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other; known: ${Names.mkString(", ")}")
    }
  }
}
