package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: every SparkEntry query executed END-TO-END via a noop
  * sink (a count would let Catalyst prune unreferenced projections, making
  * map-only queries look free). Failures are recorded and surfaced, never
  * folded into a fast-looking timing. */
object Bench {
  /** Sub-component timings registered by query closures (q57 splits its
    * driver-side ivfBuild fit from the executor-side probe batches so
    * driver-thread noise can never masquerade as probe cost). Re-timed
    * runs keep the MIN per component, matching the per-query discipline.
    * Merged into BENCH_LOCAL's detail JSON under "components". */
  private val componentTimes =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()
  def recordComponent(name: String, sec: Double): Unit =
    componentTimes.merge(name, sec,
      (a, b) => java.lang.Double.valueOf(math.min(a, b)))

  /** Host-drift calibration anchor: a FIXED, data-independent,
    * CPU-bound task through the same whole-stage-codegen path every
    * query uses (range -> xxhash64 -> sum, no I/O, no shuffle beyond
    * the final single-row agg). Host CPU steal is multiplicative on
    * CPU-bound work, so the ratio of this anchor across two passes
    * measures the drift between their hosts' conditions — BenchGuard
    * divides its cross-artifact geomean by it before applying the
    * inflation threshold, ending the per-round manual adjudication of
    * uniform ±30% drift (r13 +8%, r14 −20%, r15 +26%). A REAL code
    * regression moves queries but not the anchor, so it survives
    * normalization. Timed once per pass, min over passes — the same
    * discipline as the queries. */
  private[graft] def calibrateOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(0L, 24000000000L, 1L, 32)
      .select(sum(xxhash64(col("id"))).as("h"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The CPU anchor's I/O-BOUND twin: a fixed full scan + decode of
    * the benched directory's largest table (every column hashed so
    * nothing prunes), through the same parquet read path the queries
    * use. The CPU anchor is blind to I/O-side drift (disk/page-cache
    * contention moves scan-heavy queries but not a range loop), which
    * is why [[graft.tools.BenchGuard]] refuses to COMMIT raw-drifted
    * passes outright; this twin does not change that rule — it lets
    * the guard REPORT which side of the machine a refused pass's
    * drift lived on (cpu-dominant / io-dominant / uniform), turning
    * "refused, go look" into "refused, the disk was busy". Comparable
    * only between artifacts over the same sfDir, which is the only
    * comparison the guard ever makes. Never fatal: a missing fixture
    * records -1 and the twin is simply absent from the artifact. */
  private[graft] def calibrateIoOnce(spark: SparkSession,
                                     sfDir: String): Double = {
    import org.apache.spark.sql.functions.{sum, xxhash64}
    val t0 = System.nanoTime()
    try {
      val t = spark.read.parquet(s"$sfDir/lineitem.parquet")
      t.select(sum(xxhash64(t.columns.map(org.apache.spark.sql
          .functions.col): _*)).as("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch { case _: Throwable => -1.0 }
  }

  /** The checkout's commit, or `unavailable` outside a git work tree
    * (or without git) — recorded so an artifact names its code. */
  private[graft] def gitSha(): String =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD")
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out
      else "unavailable"
    } catch { case _: java.io.IOException => "unavailable" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up the BENCHED directory's FS metadata plus codegen/JIT once so
    // the alphabetically-first query doesn't absorb all fixed startup
    // cost; never fatal — a missing warmup table must not kill the bench
    try {
      import org.apache.spark.sql.functions.{col, sum}
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag")
        // include a decimal-sum so the alphabetically-first query (q01,
        // five decimal aggregates) doesn't absorb that codegen/JIT cost
        .agg(sum(col("l_quantity").cast("decimal(20,4)")))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // optional name-prefix filter for single-query iteration
    // (e.g. SPARK_GRAFT_BENCH_FILTER=q43,q22); unset = the full suite.
    // The system-property forms exist for BenchGuard, which re-enters
    // this main in-JVM for its adjudication probes and cannot change
    // the environment
    val filterSpec = sys.props.get("graft.bench.filter")
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_FILTER"))
    val selected = SparkEntry.filterQueries(filterSpec)
    def time1(name: String,
              fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (String, Double, Option[String]) = {
      val t0 = System.nanoTime()
      val outcome =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(e.toString.take(200)) }
      val dt = (System.nanoTime() - t0) / 1e9
      // query isolation (untimed): a query that caches or checkpoints must
      // not tax its successors' storage memory — drop every cached plan and
      // persistent RDD block before the next query starts
      spark.sharedState.cacheManager.clearCache()
      // leftover localCheckpoint(true) blocks (a query's result frame kept
      // for its own gate + dump) drop through the scoped WARN mute — the
      // sweep is deliberate cleanup, not a recompute hazard
      spark.sparkContext.getPersistentRDDs.values
        .foreach(org.apache.spark.sql.graftglue.GraftGlue.releaseRdd)
      (name, dt, outcome)
    }
    // this box is a shared VM: host CPU steal lands multiplicative one-off
    // spikes on individual queries (same query observed 0.5s-7.7s across
    // runs of identical code). The committed protocol is therefore
    // MIN-OVER-N FULL PASSES (N >= 2 by default, `runs` recorded in the
    // artifact): a host-busy window during any single pass cannot fabricate
    // a regression, so cross-round comparisons need no manual adjudication.
    val runs = math.max(1, sys.props.get("graft.bench.runs")
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_RUNS")).getOrElse("2").toInt)
    val names = selected.toSeq.sortBy(_._1)
    // the calibration anchor leads each pass so its min reflects the
    // same host window the pass's query minima come from
    val calibrations = scala.collection.mutable.ArrayBuffer.empty[Double]
    val calibrationsIo = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passes = (1 to runs).map { _ =>
      calibrations += calibrateOnce(spark)
      calibrationsIo += calibrateIoOnce(spark, sfDir)
      names.map { case (n, f) => time1(n, f) } }
    val calibration = calibrations.min
    // min over the passes whose fixture scan succeeded; None when none
    val calibrationIo =
      calibrationsIo.filter(_ > 0) match {
        case ok if ok.nonEmpty => Some(ok.min)
        case _ => None
      }
    // a query counts as failed only when EVERY pass failed (its min is
    // then meaningless and the first error is surfaced); otherwise the
    // timing is the min over its successful passes
    val results = passes.transpose.map { perQuery =>
      val n = perQuery.head._1
      val ok = perQuery.filter(_._3.isEmpty)
      if (ok.nonEmpty) (n, ok.map(_._2).min, None)
      else (n, perQuery.map(_._2).min, perQuery.head._3)
    }.toSeq
    // full JSON string escape incl. control chars — exception messages
    // carry newlines that would otherwise break the one-line contract
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    // The metric line must survive a bounded (~2000 char) log tail: per-query
    // keys are compacted to their qNN prefix and values to centiseconds so
    // 100+ queries still fit on one parseable line. Full names + full
    // precision go to BENCH_LOCAL.json alongside the repo.
    def sec(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def sec2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def shortKey(k: String): String = k.takeWhile(_ != '_')
    // two names sharing a qNN prefix would silently emit duplicate JSON
    // keys and lose a timing — fail loud instead
    require(results.map(r => shortKey(r._1)).distinct.size == results.size,
      "bench short keys collide: " + results.map(r => shortKey(r._1))
        .groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
        .mkString(","))
    val qs = results.map { case (k, v, _) => "\"" + shortKey(k) + "\":" + sec2(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, Some(err)) =>
      // truncate BEFORE escaping — cutting after could split an escape
      // sequence and leave a dangling backslash that breaks the line
      "\"" + shortKey(k) + "\":\"" + esc(err.take(120)) + "\""
    }.mkString("{", ",", "}")
    val total = sec(results.map(_._2).sum)
    val calIoField = calibrationIo
      .map(v => s""","calibration_io":${sec(v)}""").getOrElse("")
    val detail = {
      val dq = results.map { case (k, v, _) => "\"" + k + "\":" + sec(v) }
        .mkString("{", ",", "}")
      val df = results.collect { case (k, _, Some(err)) =>
        "\"" + k + "\":\"" + esc(err) + "\"" }.mkString("{", ",", "}")
      val comps = {
        import scala.jdk.CollectionConverters._
        componentTimes.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + esc(k) + "\":" + sec(v) }
          .mkString("{", ",", "}")
      }
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"cpus":$cpus,"git_sha":"${gitSha()}","calibration":${sec(calibration)}$calIoField,"queries":$dq,"failed":$df,"components":$comps,"sf":"$sfDir"}"""
    }
    // a FILTERED probe (min-over-N adjudication of a few queries) must
    // never clobber the committed full-surface artifact — its detail
    // lands beside it under a name the bookkeeping never commits
    val detailFile =
      if (filterSpec.exists(_.trim.nonEmpty)) "BENCH_FILTERED.json"
      else "BENCH_LOCAL.json"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailFile),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () } // detail file is best-effort
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"calibration":${sec2(calibration)}$calIoField,"queries":$qs,"failed":$failed,"sf":"$sfDir"}""")
    if (results.exists(_._3.isDefined)) System.err.println(
      s"[bench] ${results.count(_._3.isDefined)} queries FAILED")
    spark.stop()
  }
}
