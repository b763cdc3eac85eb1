package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.TableSpecs
import graft.operators.{Ledger, Merge}
import graft.queries.{AgentMetrics, ConnectFixtures}
import graft.sources.{FolderListing, JsonlStage}
import graft.streaming.CtrPipeline

/** Seeded increments for the warehouse load: per drop, Firehose CTR
  * payloads (new contacts, contacts re-delivered within the drop and from
  * earlier drops as byte-identical payloads, malformed rows) and a
  * stringly `litify.matter` JSONL drop (new keys, later versions of
  * earlier keys, and keys with two versions inside one drop). Event times
  * advance by one drop window per drop, so no new contact ever falls
  * behind the CTR pipeline's watermark. */
final class WarehouseGen(seed: Long, prefix: String, ctrPerDrop: Int,
                         matterNewPerDrop: Int, matterUpdPerDrop: Int) {
  private val rnd = new java.util.Random(seed * 1000003L + prefix.hashCode)
  private val ts = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  private val plain = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val base = 1714550400L // 2024-05-01T08:00:00Z
  private val window = 3600L
  private val payloads = ArrayBuffer.empty[String]
  private val matterKeys = ArrayBuffer.empty[String]
  private val methods = Array("INBOUND", "OUTBOUND", "TRANSFER", "CALLBACK")

  private def at(s: Long) = ts.format(Instant.ofEpochSecond(s))

  private def payload(id: String, drop: Int): String = {
    val init = base + drop * window + rnd.nextInt(3000)
    val conn = init + 5 + rnd.nextInt(60)
    val dur = rnd.nextInt(6000)
    val disc = conn + dur + rnd.nextInt(30)
    val acw = rnd.nextInt(600)
    val agent = rnd.nextInt(30)
    val user = rnd.nextInt(60)
    val queue = rnd.nextInt(5)
    val hold = rnd.nextInt(300)
    s"""{"ContactId":"$id","InitialContactId":"$id","Channel":"VOICE",""" +
      s""""InitiationMethod":"${methods(rnd.nextInt(methods.length))}",""" +
      s""""InitiationTimestamp":"${at(init)}","DisconnectTimestamp":"${at(disc)}",""" +
      s""""DisconnectReason":"CUSTOMER_DISCONNECT","LastUpdateTimestamp":"${at(disc + 2)}",""" +
      s""""AgentConnectionAttempts":${rnd.nextInt(3)},"ConnectedToSystemTimestamp":"${at(init)}",""" +
      s""""Agent":{"ARN":"arn:aws:connect:r1:1:instance/i/agent/$agent","Username":"agent$user",""" +
      s""""ConnectedToAgentTimestamp":"${at(conn)}","AfterContactWorkStartTimestamp":"${at(disc)}",""" +
      s""""AfterContactWorkEndTimestamp":"${at(disc + acw)}","AfterContactWorkDuration":$acw,""" +
      s""""AgentInteractionDuration":$dur,"NumberOfHolds":${rnd.nextInt(3)},""" +
      s""""LongestHoldDuration":$hold,"CustomerHoldDuration":${hold + rnd.nextInt(20)}},""" +
      s""""Queue":{"ARN":"arn:aws:connect:r1:1:instance/i/queue/$queue","Name":"Queue_$queue",""" +
      s""""EnqueueTimestamp":"${at(init + 1)}","DequeueTimestamp":"${at(conn)}","Duration":${conn - init}},""" +
      s""""CustomerEndpoint":{"Address":"+1555${rnd.nextInt(4000) + 1000}","Voice":""},""" +
      s""""SystemEndpoint":{"Address":"+15559999"}}"""
  }

  private val malformedKinds = Array("{not json", """{"Channel":"VOICE"}""", """{"ContactId":""}""")

  /** CTR lines of drop `d`: (lines, new valid ids, malformed count). */
  def ctrDrop(d: Int): (Seq[String], Seq[String], Int) = {
    val ids = (0 until ctrPerDrop).map(j => s"$prefix-c$d-$j")
    val fresh = ids.map(payload(_, d))
    val within = (0 until ctrPerDrop / 25).map(_ => fresh(rnd.nextInt(fresh.size)))
    val across =
      if (payloads.isEmpty) Nil
      else (0 until ctrPerDrop / 25).map(_ => payloads(rnd.nextInt(payloads.size)))
    val bad = (0 until ctrPerDrop / 50).map(k => malformedKinds(k % malformedKinds.length))
    payloads ++= fresh
    val lines = (fresh ++ within ++ across ++ bad).toArray
    for (k <- lines.indices.reverse) { // seeded shuffle
      val j = rnd.nextInt(k + 1)
      val t = lines(k); lines(k) = lines(j); lines(j) = t
    }
    (lines.toSeq, ids, bad.size)
  }

  private def matterRow(id: String, modified: Long): String = {
    val created = base - 86400L * (1 + rnd.nextInt(400))
    def b = Seq("true", "false", "1", "0", "T", "yes", "")(rnd.nextInt(7))
    s"""{"Id":"$id","Name":"Matter $id","LastModifiedDate":"${plain.format(Instant.ofEpochSecond(modified))}",""" +
      s""""CreatedDate":"${plain.format(Instant.ofEpochSecond(created))}",""" +
      s""""SystemModstamp":"${plain.format(Instant.ofEpochSecond(modified))}",""" +
      s""""litify_pm__Open_Date__c":"${plain.format(Instant.ofEpochSecond(created + 3600))}",""" +
      s""""litify_pm__Closed_Date__c":"${if (rnd.nextInt(4) == 0) "not a date" else plain.format(Instant.ofEpochSecond(modified - 60))}",""" +
      s""""IsDeleted":"$b","litify_pm__Billable_Matter__c":"$b","Urgent__c":"$b","Pro_Bono__c":"$b",""" +
      s""""Live_Saved__c":"${if (rnd.nextInt(10) == 0) "n/a" else rnd.nextInt(50).toString}",""" +
      s""""Case_Count__c":"${rnd.nextInt(9)}","No_of_Days__c":"${rnd.nextInt(900)}.0",""" +
      s""""litify_pm__Total_Damages__c":"${rnd.nextInt(1000000) / 100.0}",""" +
      s""""Total_Expenses__c":"${if (rnd.nextInt(10) == 0) "" else (rnd.nextInt(100000) / 100.0).toString}",""" +
      s""""Payment__c":"${rnd.nextInt(5000)}","Status__c":"${Seq("Open", "Closed", "Pending")(rnd.nextInt(3))}",""" +
      s""""litify_pm__Practice_Area__c":"Area ${rnd.nextInt(12)}",""" +
      s""""Description__c":"${"note " * (1 + rnd.nextInt(20))}$id"}"""
  }

  /** Matter JSONL rows of drop `d`; every row of a drop has its own
    * modification time, so keep-latest never meets a tie. */
  def matterDrop(d: Int): Seq[String] = {
    val t0 = base + d * window
    val fresh = (0 until matterNewPerDrop).map { j =>
      val id = s"$prefix-m$d-$j"
      matterKeys += id
      matterRow(id, t0 + 10 + j)
    }
    val updates = (0 until matterUpdPerDrop).map { k =>
      matterRow(matterKeys(rnd.nextInt(matterKeys.size)), t0 + 1100 + k)
    }
    // a second, later version of some keys inside the same drop
    val twice = (0 until matterUpdPerDrop / 5).map { k =>
      matterRow(matterKeys(rnd.nextInt(matterKeys.size)), t0 + 2200 + k)
    }
    fresh ++ updates ++ twice
  }
}

/** The reference's own path, one increment per operation: discovery of
  * the new matter drop through the ledger, the CTR stream landed into
  * `f_calls`, the matter drop typed and SCD1-merged into a bucketed
  * table, the ledger marked, then `view_agent_metrics` over the grown
  * `f_calls`. */
final class Warehouse(h: Harness) extends Workload(h) {
  val ctrPerDrop = 2000
  val matterNew = 300
  val matterUpd = 150
  val drops = 12
  val warmDrops = 2
  val buckets = 8
  val viewReads = 3

  /** Landing area, outputs and expectations of one run of increments. */
  final class Lane(val root: String, gen: WarehouseGen, nDrops: Int) {
    val table = "matter"
    val staged = s"$root/staged"
    val landCtr = s"$root/land/ctr"
    val landMatter = s"$root/land/matter"
    val fCalls = s"$root/f_calls"
    val quarantine = s"$root/quarantine"
    val ckpt = s"$root/ckpt"
    val ledger = new Ledger(spark, s"$root/ledger")
    val validIds = Array.fill(nDrops)(Seq.empty[String])
    val malformed = new Array[Int](nDrops)
    val lines = new Array[Long](nDrops)
    var landed = 0
    var lastView: Array[Row] = Array.empty

    def folder(d: Int) = f"d$d%03d_Differential"

    def stage(): Unit = {
      new File(s"$staged/ctr").mkdirs()
      new File(landCtr).mkdirs()
      new File(landMatter).mkdirs()
      (0 until nDrops).foreach { d =>
        val (ctr, ids, bad) = gen.ctrDrop(d)
        validIds(d) = ids
        malformed(d) = bad
        Files.write(new File(s"$staged/ctr/d$d.txt").toPath, (ctr.mkString("\n") + "\n").getBytes(UTF_8))
        val m = gen.matterDrop(d)
        val dir = new File(s"$staged/matter/${folder(d)}")
        dir.mkdirs()
        Files.write(new File(dir, "part-00000.json").toPath, (m.mkString("\n") + "\n").getBytes(UTF_8))
        lines(d) = ctr.size.toLong + m.size
      }
    }

    /** Lands drop `d` and runs the increment; returns records processed. */
    def increment(d: Int): Long = {
      val (_, stepS) = h.timeS {
        Files.move(new File(s"$staged/ctr/d$d.txt").toPath, new File(s"$landCtr/d$d.txt").toPath,
          StandardCopyOption.ATOMIC_MOVE)
        Files.move(new File(s"$staged/matter/${folder(d)}").toPath,
          new File(s"$landMatter/${folder(d)}").toPath, StandardCopyOption.ATOMIC_MOVE)
        val cands = h.span("sources.FolderListing.folders") {
          FolderListing.folders(spark, landMatter, ".json")
        }
        val fresh = h.span("operators.Ledger.discoverNew") {
          ledger.discoverNew(cands).select("key", "path").collect()
        }
        h.span("streaming.CtrPipeline.start") {
          val raw = spark.readStream.text(landCtr).select(col("value").as("payload"))
          val (good, bad) = CtrPipeline.start(raw, fCalls, quarantine, ckpt)
          good.awaitTermination()
          bad.awaitTermination()
        }
        val staging = h.lazySpan("core.TableSpec.apply") {
          fresh.map(r => JsonlStage.read(spark, r.getString(1), TableSpecs.matter))
            .reduce(_ unionByName _)
        }
        h.span("operators.Merge.scd1Bucketed") {
          Merge.scd1Bucketed(table, staging, Seq("id"), "lastmodifieddate", buckets)
        }
        h.span("operators.Ledger.markProcessed") {
          val sp = spark
          import sp.implicits._
          ledger.markProcessed(fresh.map(_.getString(0)).toSeq.toDF("key"))
        }
        ()
      }
      h.steps += stepS
      landed = d + 1
      // the view is read several times per increment, one sample each
      (0 until viewReads).foreach { _ =>
        lastView = h.read("queries.AgentMetrics.viewAgentMetrics") {
          view(spark.read.parquet(fCalls)).collect()
        }
      }
      lines(d)
    }

    def view(fc: DataFrame): DataFrame =
      AgentMetrics.viewAgentMetrics(fc, ConnectFixtures.dimUsersConnect(spark),
        ConnectFixtures.dimQueues(spark), ConnectFixtures.dimUsersLitify(spark))
  }

  private var lane: Lane = _

  def sizes: Seq[(String, Any)] = Seq("ctr_rows_per_drop" -> ctrPerDrop,
    "ctr_redelivered_per_drop" -> 2 * ctrPerDrop / 25, "ctr_malformed_per_drop" -> ctrPerDrop / 50,
    "matter_new_per_drop" -> matterNew, "matter_updates_per_drop" -> (matterUpd + matterUpd / 5),
    "drops_staged" -> drops, "drops_landed" -> Option(lane).map(_.landed).getOrElse(0),
    "warmup_drops" -> warmDrops, "buckets" -> buckets, "view_reads_per_increment" -> viewReads)

  def stage(dir: String): Unit = {
    lane = new Lane(dir,
      new WarehouseGen(h.opts.seed, "t", ctrPerDrop, matterNew, matterUpd), drops)
    lane.stage()
  }

  /** The initial loads: the first drops create `f_calls`, the matter table
    * and the ledger (the table-creating path), the second takes the merge
    * path. Timed increments start after them, always on the merge path. */
  def warmup(): Unit = {
    (0 until warmDrops).foreach(lane.increment)
    h.steps.clear()
    h.reads.clear()
  }

  def op(i: Int): Long = {
    require(warmDrops + i < drops, s"only $drops drops staged")
    lane.increment(warmDrops + i)
  }

  override def extras(): Seq[Metric] = {
    val ctr = h.progress.since(0).filter(_.stateRows > 0)
    Seq(Metric("streaming.CtrPipeline.start.state_rows",
      ctr.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count"))
  }

  def check(): Seq[Check] = {
    val n = lane.landed
    val expectIds = lane.validIds.take(n).flatten
    val fc = spark.read.parquet(lane.fCalls)
    val got = Stats.digestOf(fc, "contact_id")
    val sp = spark
    import sp.implicits._
    val want = Stats.digestOf(expectIds.toSeq.toDF("contact_id"), "contact_id")
    val distinct = fc.select("contact_id").distinct().count()
    val quarantined = spark.read.parquet(lane.quarantine).count()
    val expectBad = lane.malformed.take(n).sum.toLong
    val drops = (0 until n).map(d => s"${lane.landMatter}/${lane.folder(d)}")
    val allMatter = drops.map(p => JsonlStage.read(spark, p, TableSpecs.matter)).reduce(_ unionByName _)
    val matterWant = Stats.digest(Merge.keepLatest(allMatter, Seq("id"), "lastmodifieddate"))
    val matterGot = Stats.digest(spark.table(lane.table))
    // the view over a one-shot batch rebuild of f_calls from every landed payload
    val (good, _) = CtrPipeline.parse(spark.read.text(lane.landCtr).select(col("value").as("payload")))
    val rebuilt = Merge.keepFirst(CtrPipeline.flatten(good).drop("__event_time"),
      Seq("contact_id"), "last_update_time")
    val viewWant = lane.view(rebuilt).collect().map(_.toString).sorted.toSeq
    val viewGot = lane.lastView.map(_.toString).sorted.toSeq
    Seq(
      Check("f_calls_distinct_valid_ids", got == want && distinct == expectIds.size,
        s"got $got distinct=$distinct want $want"),
      Check("quarantine_equals_malformed", quarantined == expectBad,
        s"quarantined=$quarantined malformed=$expectBad"),
      Check("matter_equals_keep_latest", matterGot == matterWant,
        s"table $matterGot keepLatest $matterWant"),
      Check("view_equals_batch_rebuild", viewGot == viewWant && viewGot.nonEmpty,
        s"rows got=${viewGot.size} want=${viewWant.size}"))
  }
}
