package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One progress event of a streaming query with input rows. */
final case class Progress(batchId: Long, startMs: Long, triggerS: Double,
                          stateRows: Long)

/** Records the engine's own per-trigger progress events (the
  * `triggerExecution` wall of every trigger that read input). Always on:
  * the untraced run takes its per-trigger walls from here too. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
      events.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        trigger / 1e3, p.stateOperators.map(_.numRowsTotal).sum))
    }
    ()
  }

  def size: Int = events.size

  /** Events after the first `from`, in arrival order. */
  def since(from: Int): Seq[Progress] = events.asScala.toSeq.drop(from)

  /** Waits (bounded) until at least `n` events exist; progress events are
    * delivered asynchronously after a query returns. */
  def awaitAtLeast(n: Int, timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (events.size < n && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}

/** Per-span tallies for the traced run. The benchmark opens a span around
  * each call into a layer and tags the calling thread with the local
  * property [[Tracer.Prop]]; every Spark job is attributed to the open span
  * its property names (threads a query starts inherit it), or, when the
  * property is missing or names a span already closed, to the innermost
  * open span. Jobs of a streaming query inside `RefreshPipeline.run` also
  * carry the engine's `streaming.sql.batchId` and are attributed to that
  * trigger instead. Spans live in memory until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  /** One call of a span, or one trigger of a drain (whose parent is the
    * drain's `run` call). Window in epoch ms. */
  final class Call(val span: String, val key: String, val parent: Option[Call]) {
    var startMs = 0L
    var endMs = 0L
    var wallS = 0.0
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val taskNs = new java.util.concurrent.atomic.AtomicLong()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val spillBytes = new java.util.concurrent.atomic.AtomicLong()
    val tasksFailed = new java.util.concurrent.atomic.AtomicLong()
    val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  }

  private val calls = new ConcurrentHashMap[String, Call]()
  private val order = new ConcurrentLinkedQueue[Call]()
  private val openStack = new java.util.concurrent.ConcurrentLinkedDeque[Call]()
  private val stageCall = new ConcurrentHashMap[Int, Call]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  private def call(span: String, key: String, parent: Option[Call] = None): Call =
    calls.computeIfAbsent(key, k => { val c = new Call(span, k, parent); order.add(c); c })

  private def triggerCall(run: Call, batchId: String): Call =
    call(TriggerSpan, s"trigger:${run.key}:$batchId", Some(run))

  /** Runs `f` inside span `name`; nested spans are allowed. */
  def span[T](name: String)(f: => T): T = {
    val c = call(name, s"$name#${seq.incrementAndGet()}")
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, c.key)
    openStack.push(c)
    c.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      c.wallS = (System.nanoTime() - t0) / 1e9
      c.endMs = System.currentTimeMillis()
      openStack.remove(c)
      sc.setLocalProperty(Prop, prev)
    }
  }

  /** Registers the trigger windows of a drain that ran inside `runKey`'s
    * span: jobs already attributed to `trigger:<runKey>:<batchId>` get the
    * progress event's window and wall. */
  def triggers(runKey: String, events: Seq[Progress]): Unit =
    events.foreach { p =>
      val c = triggerCall(calls.get(runKey), p.batchId.toString)
      c.startMs = p.startMs
      c.endMs = p.startMs + math.round(p.triggerS * 1e3)
      c.wallS = p.triggerS
    }

  /** Key of the most recent call of `span` (for [[triggers]]). */
  def lastKey(span: String): Option[String] =
    order.asScala.filter(_.span == span).lastOption.map(_.key)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tagged = props.flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(k => Option(calls.get(k))).filter(c => openStack.contains(c))
    val owner = tagged.orElse(Option(openStack.peekFirst()))
    owner.foreach { o =>
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      val c = (o.span, batch) match {
        case (RunSpan, Some(b)) => triggerCall(o, b)
        case _ => o
      }
      c.jobs.incrementAndGet()
      e.stageIds.foreach(s => stageCall.put(s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageCall.get(e.stageId)).foreach { c =>
      val m = Option(e.taskMetrics)
      m.foreach { tm =>
        c.taskNs.addAndGet(tm.executorRunTime * 1000000L)
        c.shuffleBytes.addAndGet(tm.shuffleReadMetrics.totalBytesRead +
          tm.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(tm.memoryBytesSpilled + tm.diskBytesSpilled)
      }
      if (e.reason != Success) c.tasksFailed.incrementAndGet()
      c.intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }

  /** Delivers every pending listener event; call before reading tallies. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain(sc)

  /** Wall of the call's window not covered by any task of it or of its
    * child calls. */
  private def driverS(c: Call): Double = {
    val own = order.asScala.toSeq.filter(x => x == c || x.parent.contains(c))
    val iv = own.flatMap(_.intervals.asScala)
      .map { case (a, b) => (math.max(a, c.startMs), math.min(b, c.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, c.wallS - covered / 1e3)
  }

  /** Per-span stats over every call in the run: sums, except the trigger
    * span, which reports per-trigger medians. */
  def spanStats(): Map[String, SpanStats] = {
    drain()
    order.asScala.toSeq.filter(_.endMs > 0).groupBy(_.span).map { case (s, cs) =>
      val per = cs.map(c => SpanStats(c.wallS, driverS(c), c.jobs.get.toDouble,
        c.taskNs.get / 1e9, c.shuffleBytes.get / 1e6))
      val agg =
        if (s == TriggerSpan) SpanStats(Stats.median(per.map(_.wallS)),
          Stats.median(per.map(_.driverS)), Stats.median(per.map(_.jobs)),
          Stats.median(per.map(_.taskS)), Stats.median(per.map(_.shuffleMb)))
        else per.reduce(_ + _)
      s -> agg
    }
  }

  def spillMb: Double = { drain(); order.asScala.map(_.spillBytes.get).sum / 1e6 }
  def tasksFailed: Long = { drain(); order.asScala.map(_.tasksFailed.get).sum }
}

final case class SpanStats(wallS: Double, driverS: Double, jobs: Double,
                           taskS: Double, shuffleMb: Double) {
  def +(o: SpanStats): SpanStats = SpanStats(wallS + o.wallS,
    driverS + o.driverS, jobs + o.jobs, taskS + o.taskS, shuffleMb + o.shuffleMb)
}

object Tracer {
  val Prop = "perfbench.span"
  val RunSpan = "streaming.RefreshPipeline.run"
  val TriggerSpan = "streaming.RefreshPipeline.trigger"
}
