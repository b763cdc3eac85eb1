package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Entry point: one workload, one seed, one run.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--sha <git sha>] [--source-digest <hex>]
  *
  * Set-up (session start, seeded input staging, warm-up) is timed as
  * `setup_s`, the wall from main() entry to the first timed operation. The
  * timed phase then repeats the workload's operation until `--seconds` of
  * operation wall have passed. Checks run last. The final stdout line is
  * one JSON object: `correct`, `attempted`, `failed`, and the end-to-end
  * metrics (untraced) or the per-layer metrics (traced). The exit code is
  * non-zero when a check or an operation failed. */
object Main {
  /** Span names in the per-layer report of every workload. */
  val AllSpans: Seq[String] = Seq(
    "sources.FolderListing.folders",
    "operators.Ledger.discoverNew",
    "streaming.CtrPipeline.start",
    "core.TableSpec.apply",
    "operators.Merge.scd1Bucketed",
    "operators.Ledger.markProcessed",
    "queries.AgentMetrics.viewAgentMetrics",
    Tracer.RunSpan,
    Tracer.TriggerSpan,
    "streaming.ShardSink.read",
    "streaming.VectorIndexSink.read",
    "operators.Similarity.ivfPqQueryRefined")

  val SpanStatUnits: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
    "task_s" -> "s", "shuffle_mb" -> "MB")

  /** Per-layer metrics that are not span stats, with their units. */
  val Extras: Seq[(String, String)] = Seq(
    "spill_mb" -> "MB",
    "tasks_failed" -> "count",
    "tracing_overhead" -> "ratio",
    "streaming.CtrPipeline.start.state_rows" -> "count",
    "streaming.RefreshPipeline.trigger.growth" -> "ratio",
    "streaming.RefreshPipeline.run.prior_cache_s" -> "s",
    "streaming.VectorIndexSink.read.deltas" -> "count",
    "operators.Similarity.ivfPqQueryRefined.recall_at_10" -> "ratio")

  def session(opts: Opts, nproc: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.local.dir", new File(opts.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(opts.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Used heap after a full GC. The first GC hands unreachable broadcasts
    * and shuffles to Spark's cleaner thread; the pause lets it drop their
    * blocks before the second GC, so the reading does not depend on when
    * the cleaner ran. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metricsJson(ms: Seq[Metric]): String =
    ms.map(m => s"${jsonStr(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${jsonStr(m.unit)}}")
      .mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = Opts.parse(args)
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = session(opts, nproc)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tracer = if (opts.trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val h = new Harness(spark, opts, tracer, progress)
    val w: Workload = opts.workload match {
      case "warehouse_load" => new Warehouse(h)
      case "refresh_drain" => new RefreshDrain(h)
      case other => sys.error(s"unknown workload $other")
    }

    val stageS = h.timeS(w.stage(h.dir("inputs")))._2
    val warmS = h.timeS(w.warmup())._2
    val setupS = (System.nanoTime() - t0) / 1e9

    // timed phase: closed loop, one client. A traced run alternates
    // untraced and traced operations, starting and ending untraced, so
    // each traced operation has an untraced one on either side.
    val opWall = ArrayBuffer.empty[Double]
    var timedS = 0.0
    var records = 0L
    var i = 0
    var opsFailed = 0
    var heapPeakMb = 0.0
    val errors = ArrayBuffer.empty[String]
    def enough = timedS >= opts.seconds && (!opts.trace || (i >= 3 && i % 2 == 1))
    while (!enough && opsFailed == 0) {
      try {
        w.prepare(i)
        h.tracing = opts.trace && i % 2 == 1
        val (n, s) = h.timeS(w.op(i))
        opWall += s
        timedS += s
        records += n
      } catch {
        case e: Exception =>
          opsFailed += 1
          errors += s"op $i: ${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
      } finally {
        h.tracing = false
        h.releaseHeld()
      }
      heapPeakMb = math.max(heapPeakMb, heapAfterGcMb())
      i += 1
    }
    val ops = i

    val checks =
      if (opsFailed > 0) Seq(Check("operations", ok = false, errors.mkString("; ")))
      else try w.check() catch {
        case e: Exception =>
          e.printStackTrace()
          Seq(Check("checks", ok = false, s"${e.getClass.getName}: ${e.getMessage}"))
      }
    checks.foreach(c => println(s"[perfbench] check ${c.name}: " +
      s"${if (c.ok) "ok" else "FAILED"} ${c.detail}"))
    val failed = opsFailed + checks.count(!_.ok)
    val attempted = ops + checks.size
    val correct = failed == 0

    val metrics: Seq[Metric] =
      if (!opts.trace) Seq(
        Metric("setup_s", setupS, "s"),
        Metric("records_per_s", if (timedS > 0) records / timedS else 0.0, "rec/s"),
        Metric("step_p50_s", Stats.median(h.steps.toSeq), "s"),
        Metric("read_p50_s", Stats.median(h.reads.toSeq), "s"),
        Metric("heap_peak_mb", heapPeakMb, "MB"))
      else {
        val t = tracer.get
        val stats = t.spanStats()
        val spanMetrics = AllSpans.flatMap { s =>
          val st = stats.getOrElse(s, SpanStats(0, 0, 0, 0, 0))
          val vals = Seq(st.wallS, st.driverS, st.jobs, st.taskS, st.shuffleMb)
          SpanStatUnits.zip(vals).map { case ((k, u), v) => Metric(s"$s.$k", v, u) }
        }
        // each traced wall against the mean of its untraced neighbours,
        // which cancels state that grows from one operation to the next
        val overhead = Stats.median((1 until opWall.size - 1 by 2).map(j =>
          opWall(j) / ((opWall(j - 1) + opWall(j + 1)) / 2))) - 1.0
        val known = (w.extras() ++ Seq(
          Metric("spill_mb", t.spillMb, "MB"),
          Metric("tasks_failed", t.tasksFailed.toDouble, "count"),
          Metric("tracing_overhead", overhead, "ratio"))).map(m => m.name -> m).toMap
        spanMetrics ++ Extras.map { case (n, u) => known.getOrElse(n, Metric(n, 0.0, u)) }
      }

    // human-readable lines, then the self-describing record, then the result
    metrics.foreach(m => println(f"[perfbench] ${m.name}%-60s ${num(m.value)} ${m.unit}"))
    val samples = Seq("steps" -> h.steps.size, "reads" -> h.reads.size,
      "ops" -> ops, "traced_ops" -> (if (opts.trace) ops / 2 else 0))
    val meta = Seq(
      "workload" -> jsonStr(opts.workload), "seed" -> opts.seed.toString,
      "seconds" -> num(opts.seconds), "traced" -> opts.trace.toString,
      "git_sha" -> jsonStr(opts.sha), "source_digest" -> jsonStr(opts.sourceDigest),
      "nproc" -> nproc.toString, "shuffle_partitions" -> nproc.toString,
      "spark" -> jsonStr(spark.version),
      "setup_parts_s" -> s"""{"session": ${num(sessionS)}, "stage": ${num(stageS)}, "warmup": ${num(warmS)}}""",
      "timed_s" -> num(timedS),
      "records" -> records.toString,
      "samples" -> samples.map { case (k, v) => s"${jsonStr(k)}: $v" }.mkString("{", ", ", "}"),
      "sizes" -> w.sizes.map { case (k, v) => s"${jsonStr(k)}: ${v match {
        case n: Int => n.toString
        case n: Long => n.toString
        case n: Double => num(n)
        case o => jsonStr(o.toString)
      }}" }.mkString("{", ", ", "}"),
      "checks" -> checks.map(c => s"""{"name": ${jsonStr(c.name)}, "ok": ${c.ok}, "detail": ${jsonStr(c.detail)}}""").mkString("[", ", ", "]"))
    val metaJson = meta.map { case (k, v) => s"${jsonStr(k)}: $v" }.mkString("{", ", ", "}")
    val result = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metricsJson(metrics)}}"""
    Files.createDirectories(Paths.get(opts.work))
    Files.writeString(Paths.get(opts.work, "record.json"),
      s"""{"meta": $metaJson, "result": $result}""" + "\n")
    println(s"""{"meta": $metaJson}""")
    println(result)
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
