package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Bpe, BpeByteVocab, TextFunctions}
import graft.operators.{Dedup, Similarity}
import graft.streaming.{RefreshPipeline, ShardSink, VectorIndexSink}

/** Seeded stream in the refresh chain's shape: a prior corpus and T
  * triggers of B short documents, each 30 pseudo-random 8-hex words
  * derived from an identity string salted with the seed. Stream doc u
  * takes its class from u % 20: 0 exact copy of a prior doc, 1 the same
  * text in every trigger (accepted once, in trigger 0), 2 contaminated
  * (a 7-word benchmark span), 3 near copy of a prior doc (one extra
  * word), 4-19 original. Stream doc u covers [offset, offset + T * B), so
  * two generators with disjoint ranges share the prior but no stream doc. */
final class RefreshGen(seed: Long, val prior: Long, val triggers: Int,
                       val batchRows: Long, offset: Long = 0L) {
  val benchN = 200L
  private val tag = s"t$seed"

  private def wordsOf(identity: Column): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(29)),
      i => substring(md5(concat(lit(tag), identity, lit(":"), i.cast("string"))), 1, 8)))

  def emb(id: Column): Column =
    transform(sequence(lit(0), lit(7)), i =>
      sin(id * 3 + i + lit(seed % 1000)).cast("float"))

  /** Ids of the prior docs and of this generator's stream docs. */
  def docIds(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(prior).union(spark.range(prior + offset, prior + offset + triggers * batchRows))
      .select(col("id").as("doc_id"))

  def priorDocs(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(prior).select(col("id").as("doc_id"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(8L)).cast("string")))
      .withColumn("text", wordsOf(concat(lit("p"), col("doc_id").cast("string"))))

  def benchDocs(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(benchN).select(col("id").as("bench_id"))
      .withColumn("text", wordsOf(concat(lit("b"), col("bench_id").cast("string"))))

  private def benchSpan(k: Column): Column =
    concat_ws(" ", transform(sequence(lit(5), lit(11)), i =>
      substring(md5(concat(lit(tag), concat(lit("b"), k.cast("string")), lit(":"),
        i.cast("string"))), 1, 8)))

  def streamDocs(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val u = col("__u")
    val mod = pmod(u, lit(20L))
    val identity =
      when(mod === 0L, concat(lit("p"), pmod(floor(u / 20L).cast("long"), lit(prior)).cast("string")))
        .when(mod === 1L, concat(lit(s"s$offset:"), pmod(u, lit(batchRows)).cast("string")))
        .when(mod === 2L, concat(lit("c"), u.cast("string")))
        .when(mod === 3L, concat(lit("p"), pmod(u, lit(prior)).cast("string")))
        .otherwise(concat(lit("o"), u.cast("string")))
    val base = wordsOf(identity)
    val text =
      when(mod === 2L, concat(base, lit(" "), benchSpan(pmod(u, lit(benchN)))))
        .when(mod === 3L, concat(base, lit(" "),
          substring(md5(concat(lit(tag), lit("x"), u.cast("string"))), 1, 8)))
        .otherwise(base)
    spark.range(offset, offset + triggers * batchRows).select(col("id").as("__u"))
      .select((col("__u") + prior).as("doc_id"), col("__u"),
        floor((col("__u") - offset) / batchRows).cast("int").as("__t"),
        concat(lit("src"), pmod(col("__u") + prior, lit(8L)).cast("string")).as("source"),
        text.as("text"))
  }
}

/** One drain per operation: `RefreshPipeline.run` with `indexDir` over the
  * staged stream against stores seeded with the prior corpus, then the
  * stores read back: a shard-store digest and probe batches against the
  * vector index (base plus one append delta per trigger). */
final class RefreshDrain(h: Harness) extends Workload(h) {
  val prior = 1000L
  val triggers = 3
  val batchRows = 240L
  val probeBatches = 4
  val probesPerBatch = 32
  val warmTriggers = 2
  val warmRows = 100L

  /** Staged inputs of one generator: the stream files and probe batches,
    * over a prior corpus, benchmark slice and template stores that the
    * warm-up stream shares with the timed one. */
  final class Inputs(val dir: String, val gen: RefreshGen, val priorDf: DataFrame,
                     val bench: DataFrame, val tpl: String) {
    val all: DataFrame = gen.streamDocs(spark).localCheckpoint(true)
    val docsDir = s"$dir/docs"

    /** Writes the stream files and probe batches. */
    def stage(): Unit = {
      (0 until gen.triggers).foreach { t =>
        val tmp = s"$dir/tmp-$t"
        all.filter(col("__t") === t)
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("embedding", gen.emb(col("doc_id")))
          .coalesce(1).write.parquet(tmp)
        val f = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = new File(s"$docsDir/d$t.parquet")
        dst.getParentFile.mkdirs()
        Files.move(f.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        dst.setLastModified(1700000000000L + t * 60000L)
        Dirs.rm(new File(tmp))
      }
      val probes = spark.range(probeBatches * probesPerBatch)
        .select((-(col("id") + 1)).as("doc_id"), col("id").as("__b"))
        .withColumn("embedding", transform(sequence(lit(0), lit(7)), i =>
          (sin(col("doc_id") * 7 + i * 13 + lit(h.opts.seed % 1000)) * 0.99).cast("float")))
      (0 until probeBatches).foreach { b =>
        probes.filter(col("__b") % probeBatches === b).drop("__b").coalesce(1)
          .write.parquet(s"$dir/probes/$b")
      }
    }

    /** Seeds the template stores with the prior corpus (the caller's part
      * of RefreshPipeline.run's contract): the v0 shard pack and the IVF-PQ
      * index base. Each drain starts from a copy of them. */
    def seedStores(): Unit = {
      ShardSink.append(spark, priorDf.withColumn("__ids",
          Bpe.byteTokenIds(col("text"), BpeByteVocab.merges)),
        "__ids", "doc_id", budget = 2048, shardCol = "source", storeDir = s"$tpl/store")
      Similarity.ivfPqSave(Similarity.ivfPqBuild(priorDf.withColumn("embedding", gen.emb(col("doc_id"))),
        vecCol = "embedding", idCol = "doc_id", nLists = 8, m = 4, kCodes = 16, iterations = 2),
        s"$tpl/ix")
    }

    def release(): Unit = org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(all)

    def stream: DataFrame = spark.readStream
      .schema(spark.read.parquet(docsDir).schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(docsDir)

    /** Every doc's vector, for the refinement step of probe batches. Built
      * from the ids rather than as a union of the checkpointed frames:
      * Spark's union constraint rewrite can fail on such a union
      * (`key not found` in `UnionBase.rewriteConstraints`). */
    def vectors: DataFrame = gen.docIds(spark).withColumn("embedding", gen.emb(col("doc_id")))
  }

  private var in: Inputs = _
  private var lastRun: String = _
  private val drainDigests = ArrayBuffer.empty[(Long, Long)]
  private val growth = ArrayBuffer.empty[Double]
  private val priorCacheS = ArrayBuffer.empty[Double]
  private var deltas = 0
  private var lastAnswer: DataFrame = _

  def sizes: Seq[(String, Any)] = Seq("prior_docs" -> prior, "triggers" -> triggers,
    "batch_rows" -> batchRows, "stream_docs" -> triggers * batchRows,
    "probe_batches_per_drain" -> probeBatches, "probes_per_batch" -> probesPerBatch,
    "warmup_triggers" -> warmTriggers, "warmup_batch_rows" -> warmRows)

  def stage(dir: String): Unit = {
    val gen = new RefreshGen(h.opts.seed, prior, triggers, batchRows)
    in = new Inputs(dir, gen, gen.priorDocs(spark).localCheckpoint(true),
      gen.benchDocs(spark).localCheckpoint(true), s"$dir/tpl")
    in.stage()
  }

  /** Seeds the template stores, then drains a small stream disjoint from
    * the timed one against the same prior. */
  def warmup(): Unit = {
    in.seedStores()
    val warm = new Inputs(h.dir("warm", "inputs"),
      new RefreshGen(h.opts.seed, prior, warmTriggers, warmRows, offset = triggers * batchRows),
      in.priorDf, in.bench, in.tpl)
    warm.stage()
    seedRun(warm, h.dir("warm", "run"))
    drain(warm, h.dir("warm", "run"))
    warm.release()
    Seq(h.steps, h.reads, drainDigests, growth, priorCacheS).foreach(_.clear())
  }

  /** Fresh copies of the seeded stores for a drain into `run`. */
  private def seedRun(x: Inputs, run: String): Unit = {
    Dirs.copy(new File(s"${x.tpl}/store"), new File(s"$run/store"))
    Dirs.copy(new File(s"${x.tpl}/ix"), new File(s"$run/ix"))
  }

  /** One drain into the stores of `run`, then the read-back. */
  private def drain(x: Inputs, run: String): Long = {
    val before = h.progress.size
    val ((), runS) = h.timeS(h.span(Tracer.RunSpan) {
      RefreshPipeline.run(x.stream, x.priorDf, x.bench, storeDir = s"$run/store",
        ledgerDir = s"$run/ledger", checkpointDir = s"$run/ck", indexDir = Some(s"$run/ix"))
    })
    h.progress.awaitAtLeast(before + x.gen.triggers)
    val events = h.progress.since(before)
    h.steps ++= events.map(_.triggerS)
    val walls = events.map(_.triggerS)
    if (walls.size >= 2) {
      val (a, b) = walls.splitAt(walls.size / 2)
      growth += Stats.mean(b) / Stats.mean(a)
    }
    priorCacheS += runS - walls.sum
    for (t <- h.tracer if h.tracing; k <- t.lastKey(Tracer.RunSpan)) t.triggers(k, events)
    val digest = h.span("streaming.ShardSink.read") {
      Stats.digest(ShardSink.read(spark, s"$run/store").drop("__ids"))
    }
    drainDigests += digest
    val idx = h.span("streaming.VectorIndexSink.read") {
      val ix = VectorIndexSink.read(spark, s"$run/ix", idCol = "doc_id")
      if (h.tracing) ix.copy(encoded = h.persist(ix.encoded)) else ix
    }
    deltas = Option(new File(s"$run/ix/appends").list()).map(_.count(_.startsWith("b"))).getOrElse(0)
    val vecs = x.vectors
    (0 until probeBatches).foreach { b =>
      val p = spark.read.parquet(s"${x.dir}/probes/$b")
      val (rows, schema) = h.read("operators.Similarity.ivfPqQueryRefined") {
        val q = Similarity.ivfPqQueryRefined(idx, vecs, p, k = 10, nProbe = 4, refine = 10,
          vecCol = "embedding", idCol = "doc_id")
        (q.collect(), q.schema)
      }
      if (b == 0) {
        lastAnswer = spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      }
    }
    x.gen.triggers * x.gen.batchRows
  }

  override def prepare(i: Int): Unit = {
    if (i > 0) Dirs.rm(new File(h.dir("runs", s"r${i - 1}")))
    lastRun = h.dir("runs", s"r$i")
    seedRun(in, lastRun)
  }

  def op(i: Int): Long = drain(in, lastRun)

  override def extras(): Seq[Metric] = Seq(
    Metric("streaming.RefreshPipeline.trigger.growth", Stats.median(growth.toSeq), "ratio"),
    Metric("streaming.RefreshPipeline.run.prior_cache_s", Stats.median(priorCacheS.toSeq), "s"),
    Metric("streaming.VectorIndexSink.read.deltas", deltas.toDouble, "count"),
    Metric("operators.Similarity.ivfPqQueryRefined.recall_at_10", recall, "ratio"))

  private var recall = Double.NaN

  def check(): Seq[Check] = {
    val gen = in.gen
    val n = gen.triggers * gen.batchRows
    val batchDocs = in.all.select(col("doc_id"), col("__u"), col("source"), col("text"))
    // the one-shot batch chain over the same docs, with the drain's parameters
    val expected = Dedup.ngramDecontaminate(
        Dedup.nearIncremental(
          Dedup.exactIncremental(batchDocs, in.priorDf, "text", "doc_id"),
          in.priorDf, "text", "doc_id", numHashes = 32, bands = 8,
          threshold = 0.8, mode = Dedup.Portable),
        in.bench, "text", "doc_id", n = 5, minMatches = 2)
      .filter(!col("contaminated"))
      .select(col("doc_id"), col("__u"), col("text"))
      .localCheckpoint(true)
    val classCounts = expected.groupBy(pmod(col("__u"), lit(20L)).as("m"))
      .agg(count(lit(1)).as("c")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cls(k: Long) = classCounts.getOrElse(k, 0L)
    val served = VectorIndexSink.read(spark, s"$lastRun/ix", idCol = "doc_id")
      .encoded.select(col("doc_id")).filter(col("doc_id") >= gen.prior)
    val equivalent = Stats.digestOf(served, "doc_id") == Stats.digestOf(expected, "doc_id")
    def mass(df: DataFrame) = df.select(size(Bpe.byteTokenIds(col("text"), BpeByteVocab.merges))
      .cast("long").as("m")).agg(coalesce(sum(col("m")), lit(0L))).collect()(0).getLong(0)
    val stored = ShardSink.read(spark, s"$lastRun/store")
      .agg(sum(col("n_tokens").cast("long"))).collect()(0).getLong(0)
    // the v0 pack the drain's stores were copied from, plus the accepted docs
    val massWant = ShardSink.read(spark, s"${in.tpl}/store")
      .agg(sum(col("n_tokens").cast("long"))).collect()(0).getLong(0) + mass(expected)
    // the ledger is one published directory per trigger, b<batchId>
    val ledgerFiles = Option(new File(s"$lastRun/ledger").listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.matches("b\\d+")).toSeq.flatMap(leaves)
    val ledger = spark.read.parquet(ledgerFiles: _*)
    val ledgerOk = Stats.digestOf(ledger, "__pfp") ==
      Stats.digestOf(expected.select(TextFunctions.fingerprint(col("text")).as("__pfp")), "__pfp")
    // recall is a per-layer metric: computed in traced runs only
    if (h.opts.trace) {
      val acceptedIds = expected.select("doc_id").collect().map(_.getLong(0)).toSeq
      val exactTop = Similarity.bruteForceTopKL2(
        in.vectors.filter(col("doc_id") < gen.prior || col("doc_id").isin(acceptedIds: _*)),
        spark.read.parquet(s"${in.dir}/probes/0"), 10, vecCol = "embedding", idCol = "doc_id")
      val hits = Similarity.recallAtK(lastAnswer, exactTop, 10).agg(sum("n_hits"))
        .collect()(0).getLong(0)
      recall = hits.toDouble / (probesPerBatch * 10)
    }
    val nearDrop = 1.0 - cls(3).toDouble / (n / 20)
    org.apache.spark.sql.graftglue.GraftGlue.releaseCheckpoint(expected)
    Seq(
      Check("streamed_equals_one_shot", equivalent, s"served vs one-shot digests"),
      Check("token_mass", stored == massWant, s"store $stored want $massWant"),
      Check("ledger_equals_accepted", ledgerOk, "ledger fingerprints vs accepted"),
      Check("drains_identical", drainDigests.distinct.size == 1,
        s"${drainDigests.size} drains, ${drainDigests.distinct.size} distinct shard digests"),
      Check("class_pins",
        cls(0) == 0 && cls(2) == 0 && cls(1) == gen.batchRows / 20 &&
          (4L until 20L).map(cls).sum == n * 16 / 20 && nearDrop >= 0.9,
        s"exact_prior=${cls(0)} contam=${cls(2)} exact_stream=${cls(1)} " +
          s"originals=${(4L until 20L).map(cls).sum} near_drop=$nearDrop"))
  }

  private def leaves(d: File): Seq[String] =
    Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      if (f.isDirectory) leaves(f)
      else if (f.getName.endsWith(".parquet")) Seq(f.getAbsolutePath) else Nil
    }
}
