package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Order-independent digest of a frame: row count plus the wrapping sum
    * of a 60-bit md5 prefix of each row's JSON form. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(conv(substring(md5(to_json(struct(cols: _*))), 1, 15), 16, 10)
        .cast("long").as("__h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("__h")), lit(0L)).as("h"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** [[digest]] of a single column's values. */
  def digestOf(df: DataFrame, c: String): (Long, Long) = digest(df.select(col(c)))
}

/** Directory-tree helpers for scratch inputs and stores. */
object Dirs {
  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
    ()
  }

  def copy(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).foreach(_.foreach(f => copy(f, new File(dst, f.getName))))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)
}

/** Command-line options, parsed from `--key value` pairs. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, sha: String,
                      sourceDigest: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.getOrElse("sha", "unknown"),
      m.getOrElse("source-digest", "unknown"))
  }
}

/** A correctness check's outcome. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A per-layer metric that is not a span stat. */
final case class Metric(name: String, value: Double, unit: String)

/** State shared by a workload's calls: the session, the samples the timed
  * phase collects, and the tracing switches. Spans and boundary
  * materialization are no-ops unless the current operation is traced. */
final class Harness(val spark: SparkSession, val opts: Opts,
                    val tracer: Option[Tracer], val progress: ProgressLog) {
  /** True while a traced operation runs. */
  var tracing = false
  val steps = ArrayBuffer.empty[Double]
  val reads = ArrayBuffer.empty[Double]
  private val held = ArrayBuffer.empty[DataFrame]

  def dir(parts: String*): String = {
    val f = new File((opts.work +: parts).mkString(File.separator))
    f.getAbsolutePath
  }

  def span[T](name: String)(f: => T): T = tracer match {
    case Some(t) if tracing => t.span(name)(f)
    case _ => f
  }

  /** A span around a lazy call: in a traced operation its output is
    * materialized at the span's boundary (and later spans read that). */
  def lazySpan(name: String)(f: => DataFrame): DataFrame =
    span(name) { if (tracing) persist(f) else f }

  /** Persists and materializes `df`; with `hold` it is released at the
    * end of the operation, otherwise the caller unpersists it. */
  def persist(df: DataFrame, hold: Boolean = true): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    if (hold) held += p
    p
  }

  def releaseHeld(): Unit = { held.foreach(_.unpersist(blocking = true)); held.clear() }

  def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Times one read-path call as a `read` sample. */
  def read[T](name: String)(f: => T): T = {
    val (r, s) = timeS(span(name)(f))
    reads += s
    r
  }
}

/** A benchmark workload: seeded inputs, a warm-up, a repeatable timed
  * operation, and the checks that its outputs are correct. */
abstract class Workload(val h: Harness) {
  def spark: SparkSession = h.spark

  /** Sizes recorded in the result. */
  def sizes: Seq[(String, Any)]

  /** Generates and stages the inputs into `dir`. */
  def stage(dir: String): Unit

  /** One pass of the pipeline over a disjoint slice of inputs. */
  def warmup(): Unit

  /** Untimed preparation before operation `i`. */
  def prepare(i: Int): Unit = ()

  /** Timed operation `i`; records its step/read samples on `h` and returns
    * the number of input records it processed. */
  def op(i: Int): Long

  /** Checks over the state the timed operations left. */
  def check(): Seq[Check]

  /** Per-layer metrics beyond span stats (traced run). */
  def extras(): Seq[Metric] = Nil
}
