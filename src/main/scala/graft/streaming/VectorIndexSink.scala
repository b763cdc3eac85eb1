package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit, max, sum, when}
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Similarity

/** Streaming vector ingest into a SAVED IVF-PQ index — q158/q159's
  * frozen-codebook append driven by the real micro-batch engine: each
  * arriving batch of embeddings is assigned + encoded under the shipped
  * codebooks (no Lloyd's, O(batch) work) and landed as an immutable
  * per-batch delta directory next to the base `encoded` table. The
  * FAISS-plus-message-bus production pattern (new vectors trickle into
  * a serving index between scheduled retrains), with the delivery
  * semantics of [[StoreFiles.publishOnce]]:
  *
  *  - **atomic**: a delta is staged and published with a single
  *    filesystem rename, so a concurrent [[read]] never observes a
  *    half-written batch;
  *  - **effectively exactly-once**: deltas are keyed by the streaming
  *    batchId — `foreachBatch` is at-least-once, and a re-delivered
  *    batch finds its published directory and skips, so a post-commit
  *    crash never double-appends. Like every batchId-keyed foreachBatch
  *    recipe this couples the index to ONE checkpoint lineage:
  *    recreating the checkpoint restarts batchIds at 0, so it requires
  *    a fresh index dir (or explicit batch keys via [[appendBatch]]);
  *  - **O(batch) per trigger**: the base table and prior deltas are
  *    never read on the append path (codebook load is the bounded
  *    driver collect of ivfPqLoad).
  *
  * Each delta keeps the `__list` partitioning, so a probe over [[read]]
  * still prunes to its nProbe lists within every delta. Deltas
  * accumulate one directory per batch; [[compact]] folds them into a
  * fresh single-table index on a schedule (the FileSink.compact
  * discipline — serve from the compacted copy, never rewrite in
  * place). */
object VectorIndexSink {

  /** Published append-delta directories, batch order. */
  private def deltaDirs(indexDir: String): Seq[(Long, java.io.File)] =
    StoreFiles.publishedDirs(s"$indexDir/appends", "b",
      StoreFiles.hasListPartitions)

  /** Published tombstone directories, batch order. */
  private def tombstoneDirs(indexDir: String): Seq[(Long, java.io.File)] =
    StoreFiles.publishedDirs(s"$indexDir/tombstones", "d",
      StoreFiles.hasParquet)

  /** The index's tier layout ([[TierRuns]]): tier-0 arms are the append
    * deltas `appends/b<n>` and tombstone sets `tombstones/d<n>` (one
    * batch sequence — an id may carry both); runs live under `runs/`.
    * A run covering a batch range holds (a) `rows/` — the in-range
    * append rows that survive the in-range tombstones, each keeping its
    * ORIGINAL batch tag `__b` physical and its `__list` partitioning,
    * and (b) `tombs/` — the per-id MAX tombstone batch `__t` of the
    * range, retained because those tombstones still mask the base
    * (batch -1) and any earlier run's rows. The masked read over run ∪
    * live arms is therefore IDENTICAL to the unfolded view ("dies iff
    * some tombstone at-or-after the append batch" is preserved by
    * per-id max). Either side is absent when the range had none. */
  private[graft] def layout(indexDir: String): TierRuns.Layout =
    TierRuns.Layout(indexDir, new java.io.File(indexDir, "runs"), () =>
      deltaDirs(indexDir).map { case (b, f) =>
        TierRuns.Arm(b, s"appends/b$b", f) } ++
        tombstoneDirs(indexDir).map { case (d, f) =>
          TierRuns.Arm(d, s"tombstones/d$d", f) })

  /** The unit's append delta / tombstone set, if it has one. */
  private def appendArm(u: TierRuns.TierUnit): Option[java.io.File] =
    u.arms.find(_.rel.startsWith("appends/")).map(_.dir)
  private def tombArm(u: TierRuns.TierUnit): Option[java.io.File] =
    u.arms.find(_.rel.startsWith("tombstones/")).map(_.dir)

  /** The `rows`/`tombs` parts present in the given runs. */
  private def runParts(units: Seq[TierRuns.TierUnit],
                       part: String): Seq[String] =
    units.flatMap(_.run).map(new java.io.File(_, part))
      .filter(_.isDirectory).map(_.getAbsolutePath)

  /** Distinct published batch ids — [[StoreRoot]]'s anything-to-fold
    * check under a retention window. Counts LIVE units: tier runs
    * collapse the arm batches they cover into one unit each. */
  private[graft] def batchCount(indexDir: String): Int =
    TierRuns.liveUnits(layout(indexDir)).size

  /** Write the tier run folding `units` into `staging` (`rows/` +
    * `tombs/` + range marker — see [[layout]]). Reads O(units), never
    * the base or the rest of the store. */
  private[streaming] def writeTierRun(spark: SparkSession,
      units: Seq[TierRuns.TierUnit], tier: Int, staging: String,
      idCol: String): Unit = {
    val rowArms = units.flatMap { u =>
      runParts(Seq(u), "rows").map(spark.read.parquet(_)) ++
        appendArm(u).map(a => spark.read.parquet(a.getAbsolutePath)
          .withColumn("__b", lit(u.lo)))
    }
    val tombArms = units.flatMap { u =>
      runParts(Seq(u), "tombs")
        .map(spark.read.parquet(_).select(col(idCol), col("__t"))) ++
        tombArm(u).map(t => spark.read.parquet(t.getAbsolutePath)
          .select(col(idCol), lit(u.lo).as("__t")))
    }
    val tombs =
      if (tombArms.isEmpty) None
      else Some(tombArms.reduce(_ unionByName _)
        .groupBy(col(idCol)).agg(max(col("__t")).as("__t")))
    val rows = rowArms.reduceOption(_ unionByName _).map { enc =>
      tombs.fold(enc) { dead =>
        val d = dead.select(col(idCol).as("__did"), col("__t"))
        enc.join(broadcast(d),
          enc(idCol) === d("__did") && d("__t") >= enc("__b"),
          "left_anti")
      }
    }
    new java.io.File(staging).mkdirs()
    // `rows/` and `tombs/` are each OPTIONAL (absent when the range
    // had no appends / no tombstones — [[read]] skips absent sides),
    // so no side ever needs a fabricated empty frame whose column
    // types could diverge from the real arms'
    rows.foreach { r =>
      val cached = r.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // an all-tombstoned range would write zero partition dirs
        // under partitionBy and the run's rows/ would not be
        // readable — write the (rare) empty survivor set as one
        // schema-only file with __list as a physical column instead
        if (cached.isEmpty)
          cached.coalesce(1).write.mode("overwrite")
            .parquet(s"$staging/rows")
        else
          cached.write.mode("overwrite").partitionBy("__list")
            .parquet(s"$staging/rows")
      } finally { cached.unpersist(); () }
    }
    tombs.foreach(_.coalesce(1).write.mode("overwrite")
      .parquet(s"$staging/tombs"))
    StoreFiles.writeMarker(
      new java.io.File(staging, StoreFiles.TierRunMarker),
      Seq(s"tier=$tier", s"lo=${units.head.lo}",
        s"hi=${units.last.hi}"))
  }

  /** Append one batch under the frozen codebooks as delta `b<batchId>`.
    * Returns false (no work) if that delta is already published — the
    * at-least-once re-delivery path. Also the non-streaming entry
    * point: a scheduler-driven pipeline calls exactly this per drop. */
  def appendBatch(spark: SparkSession, indexDir: String, batchId: Long,
                  batch: DataFrame, vecCol: String = "embedding",
                  idCol: String = "vec_id"): Boolean = {
    StoreFiles.requireNotRetired(indexDir, "vector index")
    // a batch at or below the tiered floor was folded into a tier run
    // (its arm dir is retired, so publishOnce alone would NOT skip it)
    if (TierRuns.floor(layout(indexDir)).exists(batchId <= _)) return false
    StoreFiles.publishOnce(s"$indexDir/.staging-b$batchId",
      new java.io.File(s"$indexDir/appends/b$batchId"), { staging =>
        val idx = Similarity.ivfPqLoad(spark, indexDir) // codebooks
        // only: `encoded` stays an unexecuted lazy plan on this path
        Similarity.ivfPqEncodeFrozen(idx, batch, vecCol, idCol)
          .write.mode("overwrite").partitionBy("__list").parquet(staging)
      })
  }

  /** Drive an embedding stream (idCol, vecCol at minimum) into the
    * index, one [[appendBatch]] per micro-batch. Blocks until the
    * AvailableNow drain completes. */
  def run(vecs: DataFrame, indexDir: String, checkpointDir: String,
          vecCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    val q = vecs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch.sparkSession, indexDir, batchId, batch,
          vecCol, idCol)
        () // foreachBatch wants Unit; appendBatch's Boolean is advisory
      }
      .start()
    q.awaitTermination()
  }

  /** Remove vectors from the served view WITHOUT rewriting anything —
    * the FAISS `remove_ids` path as an O(batch) tombstone delta: the id
    * set is staged and atomically published under `tombstones/d<id>`,
    * with the same batchId-keyed exactly-once skip as [[appendBatch]].
    * Tombstones and appends share one monotonic batch sequence (the
    * stream's batchId, or the caller's keys for manual ops): tombstone
    * `d<T>` masks the id in the base table and in every append
    * published AT or BEFORE T, while an append with a LATER batch id
    * re-adds the vector and serves — the FAISS remove-then-add
    * ordering. [[compact]] makes the removals physical (masked rows
    * are absent from the fresh layout, which starts with no
    * tombstones) and preserves later re-adds. */
  def deleteBatch(spark: SparkSession, indexDir: String, batchId: Long,
                  ids: DataFrame, idCol: String = "vec_id"): Boolean = {
    StoreFiles.requireNotRetired(indexDir, "vector index")
    // same tiered-floor re-delivery skip as [[appendBatch]]
    if (TierRuns.floor(layout(indexDir)).exists(batchId <= _)) return false
    StoreFiles.publishOnce(s"$indexDir/.staging-d$batchId",
      new java.io.File(s"$indexDir/tombstones/d$batchId"), { staging =>
        ids.select(idCol).distinct()
          .write.mode("overwrite").parquet(staging)
      })
  }

  /** The serving view: base `encoded` plus every published append
    * delta, minus tombstoned ids (batch-ordered — see [[deleteBatch]]),
    * under the saved codebooks. Delta and tombstone counts are bounded
    * by [[compact]]'s schedule; each union arm keeps its own `__list`
    * pruning, and the tombstone mask is a broadcast anti join (delete
    * batches are small by nature; a backlog large enough to strain a
    * broadcast is overdue for compaction). */
  def read(spark: SparkSession, indexDir: String,
           idCol: String = "vec_id",
           asOf: Option[Long] = None): Similarity.IvfPqIndex = {
    StoreFiles.requireNotRetired(indexDir, "vector index")
    val base = Similarity.ivfPqLoad(spark, indexDir)
    // `asOf` serves the index AS OF a batch id (inclusive): append
    // deltas and tombstones published after it are invisible — the
    // snapshot an evaluation run pins so its candidate set cannot
    // drift under later ingest. Published batches are immutable, so
    // the same asOf always serves the same view. An asOf below the
    // TIERED floor cannot be served and fails loudly.
    val (runs, arms) =
      TierRuns.liveUnits(layout(indexDir)).partition(_.run.isDefined)
    TierRuns.requireAsOf("vector index", indexDir, asOf,
      runs.map(_.hi).maxOption)
    val visible = asOf.fold(arms)(v => arms.filter(_.lo <= v))
    // tag every arm with its append batch; the base predates all
    // batches, so any tombstone masks it; run rows carry their batch
    // tags (and run tombstones their batch) physically
    val enc = (runParts(runs, "rows").map(spark.read.parquet(_)) ++
      visible.flatMap(u => appendArm(u).map(f => spark.read
        .parquet(f.getAbsolutePath).withColumn("__b", lit(u.lo)))))
      .foldLeft(base.encoded.withColumn("__b", lit(-1L)))(
        _ unionByName _)
    val dead = (runParts(runs, "tombs")
      .map(spark.read.parquet(_).select(col(idCol), col("__t"))) ++
      visible.flatMap(u => tombArm(u).map(f => spark.read
        .parquet(f.getAbsolutePath).withColumn("__t", lit(u.lo)))))
      .reduceOption(_ unionByName _)
    val masked = dead match {
      case None => enc
      case Some(d0) =>
        val d = d0.select(col(idCol).as("__did"), col("__t"))
        // a row dies iff SOME tombstone at-or-after its append batch
        // names its id; equi component on the id keeps this a broadcast
        // HASH anti join, the __t >= __b residual rides along
        enc.join(broadcast(d),
          enc(idCol) === d("__did") && d("__t") >= enc("__b"),
          "left_anti")
    }
    base.copy(encoded = masked.drop("__b"))
  }

  /** Fold base + deltas minus tombstones into a fresh single-table
    * index at `outDir` — run on a schedule (or when delta/tombstone
    * count passes a threshold), then swap serving to the compacted
    * copy. Never rewrites `indexDir` in place, so readers of the old
    * layout are undisturbed; masked rows at or below the fold cutoff
    * are ABSENT from the new layout (physical erasure) and re-adds
    * published after their tombstone survive.
    *
    * `keepBatches` > 0 is WINDOWED retention: the newest K batch ids
    * (appends and tombstones share one sequence) are carried over
    * verbatim — same keys, so re-delivery skips still hold and a
    * trailing window of asOf snapshots survives — and only arms at or
    * below the cutoff fold into the base. A retained tombstone keeps
    * masking the folded base (the base carries batch tag -1), so the
    * served view is unchanged by WHERE the cutoff lands. The lineage
    * marker records `max` = highest batch COVERED (folded or copied —
    * [[retire]]'s check) and `floor` = the fold cutoff (the managed
    * root's asOf guard). With `keepBatches = 0` everything folds and
    * the new layout starts with no tombstones.
    *
    * COST MODEL: same as [[ShardSink.compact]] — the fold rewrites the
    * whole served table, O(current index) not O(arms folded), so a
    * long-lived deployment keeps its triggers flat by folding
    * OUT-OF-BAND ([[StoreRoot.beginCompactVectors]]) and paying only
    * the O(late-arms) [[TierRuns.topUp]] + swap + retire inline. */
  def compact(spark: SparkSession, indexDir: String,
              outDir: String, keepBatches: Int = 0,
              idCol: String = "vec_id"): Unit = {
    require(keepBatches >= 0,
      s"keepBatches must be >= 0: $keepBatches")
    StoreFiles.requireNotRetired(indexDir, "vector index")
    StoreFiles.requireNotRetired(outDir, "vector index")
    // a used target would otherwise be SILENT corruption: ivfPqSave
    // overwrites the base tables but would leave the target's own
    // stale appends/tombstones beside the fresh fold, and readers
    // would serve the mixture (the alternating-two-dirs compaction
    // pattern hits exactly this) — fail loudly instead
    require(!new java.io.File(s"$outDir/encoded").exists()
        && layout(outDir).arms.isEmpty,
      s"compaction target $outDir already holds index state - " +
        "compact into a fresh directory")
    val l = layout(indexDir)
    val ids = l.arms.map(_.id).distinct.sorted
    val maxCovered = TierRuns.latestCovered(l).getOrElse(-1L)
    // the newest `keepBatches` ids stay live deltas; everything at or
    // below the cutoff folds (cutoff -1 = base only, fold is a
    // rewrite). A tiered store clamps the cutoff at the TIERED floor —
    // arms a run resolved away cannot be carried verbatim, so the keep
    // window never reaches below it (and every run folds into the
    // base).
    val rawCutoff =
      if (ids.length > keepBatches) ids(ids.length - 1 - keepBatches)
      else -1L
    val cutoff = (Seq(rawCutoff) ++ TierRuns.floor(l)).max
    Similarity.ivfPqSave(
      read(spark, indexDir, idCol, asOf = Some(cutoff)), outDir)
    TierRuns.copyArmsAbove(l, outDir, cutoff)
    // lineage marker AFTER the fold commits — [[retire]]'s precondition
    StoreFiles.writeCompactedFrom(outDir, indexDir, maxCovered,
      floor = Some(cutoff))
  }

  /** Retention: delete a PRE-COMPACTION index layout after its readers
    * have drained — [[ShardSink.retire]]'s contract on the vector
    * store (per-delta deletion is impossible: tombstones mask appends
    * by batch order, so dropping any arm would change the served
    * view; the unit of reclamation is the whole superseded layout).
    * Refuses loudly unless `compactedTo` carries a [[compact]] lineage
    * marker naming this index AND covering its latest published batch
    * (appends/tombstones landed after the compaction would otherwise
    * be destroyed). The `_graft_retired` tombstone is written BEFORE
    * the payload sweep and outlives it, so a late reader — including
    * any `asOf`, now below the retention floor — fails loudly naming
    * the successor, never serves a partial index. */
  def retire(indexDir: String, compactedTo: String): Unit =
    TierRuns.retire(layout(indexDir), compactedTo)

  /** Operational description of the index store — one row per arm
    * (`base`, each append delta, each tombstone set): its batch id
    * (-1 for the base), row count, and for vector-bearing arms how
    * many of their rows the current tombstone set masks (`n_masked` —
    * the compaction debt [[compact]] would erase physically, re-adds
    * excluded by the same batch-ordered rule [[read]] serves by). The
    * scheduling signal for the compact-on-a-schedule discipline:
    * compact when delta count, tombstone backlog, or total debt
    * passes a threshold. */
  def describe(spark: SparkSession, indexDir: String,
               idCol: String = "vec_id"): DataFrame = {
    StoreFiles.requireNotRetired(indexDir, "vector index")
    // ONE action over all arms (the ShardSink.describe shape), not a
    // driver loop of 2x(arms) jobs: every arm is tagged (kind, batch)
    // and unioned on its narrow id projection, the masked flag comes
    // from ONE broadcast join against the per-id max tombstone batch
    // (a row is masked iff max __t over its id >= its append batch —
    // the same batch-ordered rule [[read]] serves by, without the
    // per-tombstone row expansion a multi-match join would cost), and
    // rows + debt land in a single groupBy. Describing an overdue
    // store costs one action, not more the longer compaction is
    // deferred. The codebooks are never loaded (describe reads arm
    // FILES only — it even works on a store whose base is mid-append,
    // which is exactly when an operator reaches for observability).
    val (runs, units) =
      TierRuns.liveUnits(layout(indexDir)).partition(_.run.isDefined)
    val ts = units.flatMap(u => tombArm(u).map(u.lo -> _))
    val arms =
      (("base", -1L,
        spark.read.parquet(s"$indexDir/encoded"))
        +: units.flatMap(u => appendArm(u).map(f =>
          ("append", u.lo, spark.read.parquet(f.getAbsolutePath))))) ++
        ts.map { case (t, f) =>
          ("tombstone", t, spark.read.parquet(f.getAbsolutePath))
        }
    val unioned = (arms.map { case (kind, b, df) =>
      df.select(col(idCol).as("__id"), lit(kind).as("kind"),
        lit(b).as("batch"))
    } ++ runParts(runs, "rows") // run rows keep per-batch tags via __b
      .map(spark.read.parquet(_)
        .select(col(idCol).as("__id"), lit("run").as("kind"),
          col("__b").as("batch")))
      ).reduce(_ unionByName _)
    val runTombs = runParts(runs, "tombs")
      .map(spark.read.parquet(_)
        .select(col(idCol).as("__did"), col("__t")))
    val flagged =
      if (ts.isEmpty && runTombs.isEmpty)
        unioned.withColumn("__m", lit(false))
      else {
        val tmax = (ts.map { case (t, f) =>
          spark.read.parquet(f.getAbsolutePath)
            .select(col(idCol).as("__did"), lit(t).as("__t"))
        } ++ runTombs).reduce(_ unionByName _)
          .groupBy(col("__did")).agg(max(col("__t")).as("__tmax"))
        unioned.join(broadcast(tmax),
            unioned("__id") === col("__did"), "left")
          // tombstone arms report their id counts, never debt
          .withColumn("__m", col("kind") =!= "tombstone" &&
            coalesce(col("__tmax") >= col("batch"), lit(false)))
      }
    flagged.groupBy(col("kind"), col("batch"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__m"), 1L).otherwise(0L)).as("n_masked"))
      .orderBy(col("batch"), col("kind"))
  }

  /** Drive a CDC stream (an `opCol` of "upsert" | "delete") into the
    * index with TRUE upsert semantics — FAISS's remove-then-add made
    * explicit in the store's batch sequence: stream batch T publishes
    * tombstone `d<2T>` for (deleted ids) UNION (upserted ids), then
    * append `b<2T+1>` for the upserted vectors, so an upsert replaces
    * every earlier copy of its id (no duplicates in the served view)
    * and a delete masks everything published before this trigger.
    * Within one batch the ops compose as remove-then-add: an id both
    * deleted and upserted in the same trigger SERVES its fresh copy.
    * Both publishes are keyed by the derived store-batch ids, so
    * foreachBatch's at-least-once re-delivery finds its commits and
    * skips — the same exactly-once discipline as [[run]], spread over
    * the two ticks each trigger owns. */
  def runCdc(events: DataFrame, indexDir: String, checkpointDir: String,
             opCol: String = "op", vecCol: String = "embedding",
             idCol: String = "vec_id"): Unit = {
    val q = events.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // ONE aggregation drives every routing decision of the trigger
        // (unknown-op gate, any-masked, any-upserts): the previous
        // three isEmpty probes plus the unknown-value distinct were
        // four separate jobs over the same micro-batch — pure
        // per-trigger driver overhead. Null ops group under null and
        // fail the gate exactly as the null-safe filters did.
        val opCounts = batch.groupBy(col(opCol))
          .agg(count(lit(1)).as("__n")).collect()
          .map(r => r.get(0) -> r.getLong(1)).toMap
        val unknownVals = opCounts.keys
          .filterNot(v => v == "upsert" || v == "delete").toSeq
        if (unknownVals.nonEmpty)
          throw new IllegalArgumentException(
            s"runCdc: unknown $opCol value(s) in batch $batchId: " +
              unknownVals.take(10).mkString(", "))
        val nUps = opCounts.getOrElse("upsert", 0L)
        val nDels = opCounts.getOrElse("delete", 0L)
        val ups = batch.filter(col(opCol) === "upsert")
        val masked = batch.filter(col(opCol) === "delete")
          .select(col(idCol))
          .unionByName(ups.select(col(idCol)))
        if (nUps + nDels > 0)
          deleteBatch(s, indexDir, 2L * batchId, masked, idCol)
        if (nUps > 0)
          appendBatch(s, indexDir, 2L * batchId + 1L, ups, vecCol, idCol)
        ()
      }
      .start()
    q.awaitTermination()
  }
}
