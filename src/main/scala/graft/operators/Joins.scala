package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks natively (SURVEY §7.3 "compose
  * existing ops where semantics allow").
  *
  * [[asOf]] — for every left row, attach the single right row with the
  * greatest `rightTime` <= `leftTime` per key (time-series enrichment: an
  * event joined to the dimension version in force at event time).
  *
  * Scale shape: the classic union-and-carry-forward plan — ONE shuffle on
  * the key for a sort-within-partition window, never a per-row range probe
  * and never a key x key cross product. Both inputs are read once;
  * last(ignoreNulls) carries the right payload forward within each key's
  * timeline. */
object Joins {

  /** As-of (backward) join. Right columns (minus keys/time) are appended,
    * NULL when no right row is at-or-before the left row's time. Right
    * rows tied on (key, rightTime) are reduced to the one with the
    * greatest `rightTiebreak` first, so the result is deterministic. */
  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTime: String, rightTime: String,
           rightTiebreak: Option[String] = None): DataFrame = {
    val payloadCols = right.columns.toSeq
      .filterNot(keys.contains).filterNot(_ == rightTime)
    // a NULL-time version is never "at or before" any left time (ASOF
    // semantics; NULLs would otherwise sort first and carry forward)
    val rValid = right.filter(col(rightTime).isNotNull)
    // one version per (key, time): latest tiebreak wins
    val r1 = Merge.keepLatest(rValid, keys :+ rightTime,
      rightTiebreak.getOrElse(rightTime),
      rightTiebreak.map(col(_)).toSeq)

    import org.apache.spark.sql.types.StructType
    val payloadType = StructType(payloadCols.map(c => right.schema(c)))
    val lCols = left.columns.toSeq
    val lRowType = StructType(lCols.map(c => left.schema(c)))

    val lTagged = left
      .select((keys.map(col) :+ col(leftTime).as("__t") :+
        lit(1).as("__is_left") :+
        lit(null).cast(payloadType).as("__payload") :+
        struct(lCols.map(col): _*).as("__lrow")): _*)
    val rTagged = r1.select((keys.map(col) :+
        col(rightTime).as("__t") :+
        lit(0).as("__is_left") :+
        struct(payloadCols.map(col): _*).as("__payload") :+
        lit(null).cast(lRowType).as("__lrow")): _*)
    val unioned = lTagged.unionByName(rTagged)

    // right rows sort BEFORE left rows at equal time (at-or-before):
    // ascending (__t, __is_left) puts is_left=0 first
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__is_left").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__asof",
      last(col("__payload"), ignoreNulls = true).over(w))

    val out = carried.filter(col("__is_left") === 1)
    val leftOut = lCols.map(c => col(s"__lrow.$c").as(c))
    val rightOut = payloadCols.map(c => col(s"__asof.$c").as(c))
    out.select(leftOut ++ rightOut: _*)
  }

  /** Skew-salted equi-join: the big side gets a deterministic salt from a
    * hash of its whole row, the small side is replicated once per salt
    * value, and the join key becomes (keys, salt) — a hot key's rows
    * spread across `salt` shuffle partitions instead of melting one
    * reducer. Results are identical to `big.join(small, keys, joinType)`
    * (each big row matches exactly one replica; the q44 oracle is the
    * plain SQL join).
    *
    * Use when the small side is too big to broadcast AND the key
    * distribution is skewed; AQE's skew-join handles sort-merge skew at
    * runtime, but salting also covers the cases AQE can't re-plan
    * (aggregations after the join keep the salted spread, and static
    * planners downstream see uniform partitions). The salt hash covers
    * all big-side columns, so identical duplicate rows share a salt —
    * acceptable: true skew comes from many DISTINCT rows per key. Map
    * columns are not hashable; pass `saltOn` to pick the entropy columns
    * explicitly. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salt: Int = 16, joinType: String = "inner",
                 saltOn: Option[Seq[String]] = None): DataFrame = {
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"salting preserves semantics for inner/left joins only: $joinType")
    require(salt >= 1, s"salt must be >= 1: $salt")
    val entropy = saltOn.getOrElse(big.columns.toSeq)
    val b = big.withColumn("__salt", pmod(hash(entropy.map(col): _*), lit(salt)))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    b.join(s, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Point-in-interval (range) join: every (point, interval) pair with
    * `start <= point <= end`, both bounds inclusive — IP-to-geo lookups,
    * event-to-campaign attribution, time-windowed enrichment.
    *
    * Spark's planner turns a bare inequality join into
    * BroadcastNestedLoopJoin (fine only when one side broadcasts) or a
    * cartesian product. This operator makes it a single EQUI-shuffle:
    * intervals explode to the fixed-width buckets they overlap, points
    * compute their one bucket, and the range predicate filters the bucket
    * join's output. An interval meets a point's bucket exactly once, so no
    * dedup pass is needed. Cost scales with points + sum(interval spans /
    * bucketWidth) + true matches — never |points| x |intervals|.
    *
    * `bucketWidth` tunes replication: ~the median interval span is right
    * (each interval lands in 1-2 buckets). `maxBucketsPerInterval` is a
    * loud guard against a mis-sized width replicating a huge interval
    * across thousands of buckets (the operator raises instead of silently
    * exploding the shuffle). Malformed intervals (end < start, NULL
    * bounds) match nothing, matching the SQL BETWEEN semantics. */
  def rangeJoin(points: DataFrame, intervals: DataFrame, pointCol: String,
                startCol: String, endCol: String, bucketWidth: Long,
                maxBucketsPerInterval: Int = 4096): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val nb = floor(col(endCol) / bucketWidth) -
      floor(col(startCol) / bucketWidth) + 1
    val iv = intervals
      .filter(col(startCol) <= col(endCol)) // BETWEEN matches nothing here
      .withColumn("__b", explode(when(nb <= maxBucketsPerInterval,
        sequence(floor(col(startCol) / bucketWidth),
          floor(col(endCol) / bucketWidth)))
        .otherwise(raise_error(concat(
          lit(s"interval spans more than $maxBucketsPerInterval buckets of " +
            s"width $bucketWidth: ["), col(startCol).cast("string"),
          lit(", "), col(endCol).cast("string"),
          lit("] — raise bucketWidth or maxBucketsPerInterval"))))))
    points.withColumn("__b", floor(col(pointCol) / bucketWidth))
      .join(iv, Seq("__b"))
      .where(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("__b")
  }

  /** Interval-overlap join: every (left, right) interval pair with
    * `lStart <= rEnd AND rStart <= lEnd` (inclusive overlap) — session
    * vs campaign windows, maintenance vs outage attribution.
    *
    * Same bucketization as [[rangeJoin]], on BOTH sides — but a pair can
    * share many buckets, so a naive bucket join emits duplicates. Instead
    * of a dedup shuffle, each pair is emitted EXACTLY ONCE: only from the
    * bucket containing the overlap's start, `floor(max(lStart, rStart) /
    * bucketWidth)` — a bucket both sides provably cover. Malformed
    * intervals (end < start) match nothing. */
  def overlapJoin(left: DataFrame, right: DataFrame,
                  lStart: String, lEnd: String,
                  rStart: String, rEnd: String, bucketWidth: Long,
                  maxBucketsPerInterval: Int = 4096): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    def explodeBuckets(df: DataFrame, s: String, e: String): DataFrame = {
      val nb = floor(col(e) / bucketWidth) - floor(col(s) / bucketWidth) + 1
      df.filter(col(s) <= col(e))
        .withColumn("__b", explode(when(nb <= maxBucketsPerInterval,
          sequence(floor(col(s) / bucketWidth), floor(col(e) / bucketWidth)))
          .otherwise(raise_error(concat(
            lit(s"interval spans more than $maxBucketsPerInterval buckets " +
              s"of width $bucketWidth: ["), col(s).cast("string"),
            lit(", "), col(e).cast("string"),
            lit("] — raise bucketWidth or maxBucketsPerInterval"))))))
    }
    explodeBuckets(left, lStart, lEnd)
      .join(explodeBuckets(right, rStart, rEnd), Seq("__b"))
      .where(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
        col("__b") === floor(greatest(col(lStart), col(rStart)) / bucketWidth))
      .drop("__b")
  }

  /** Bloom-prefiltered SEMI join: keep `large` rows whose key appears in
    * `small` — with the corpus-side shuffle paid only by bloom CANDIDATES,
    * not by every row. The regime this exists for is the gap Spark's
    * planner leaves open at 100 TB: `small` is far too big to broadcast as
    * a hash relation (100M keys ≈ several GB of hash table) but its bloom
    * filter (~1.2 bytes/key at 1% fpp) ships comfortably in the task
    * binary, so the probe runs inside whole-stage codegen ON THE SCAN and
    * the exchange only ever sees true matches plus an fpp-sized sliver of
    * false positives. The confirming semi join makes the result EXACT —
    * bloom false positives are eliminated, and bloom has no false
    * negatives — so fpp tunes cost, never correctness.
    *
    * Keys may be any integral type (probed as long) or strings (probed as
    * UTF-8 bytes); NULL keys never match, per semi-join semantics. The
    * bloom build is one aggregation over `small` (driver holds one filter
    * of ~`1.2 * expectedItems` bytes at fpp=0.01 — size the fpp, not the
    * corpus). `expectedItems` defaults to `small.count()` (one cheap
    * count job); pass it when you already know the bound. */
  def bloomSemiJoin(large: DataFrame, small: DataFrame,
                    largeKey: String, smallKey: String,
                    fpp: Double = 0.01,
                    expectedItems: Long = -1L): DataFrame = {
    val (probe, keys, cond) =
      bloomParts(large, small, largeKey, smallKey, fpp, expectedItems)
    large.filter(probe).join(keys, cond, "left_semi")
  }

  /** Bloom-prefiltered ANTI join: keep `large` rows whose key does NOT
    * appear in `small`. The bloom's one-sided error is exactly the right
    * shape here too: a key the bloom rejects is DEFINITELY absent (kept
    * with zero shuffle), and only the fpp-sized candidate sliver pays the
    * confirming anti join. `large` is EVALUATED TWICE (the two branches
    * are pushed-down filters on the same plan — cheap when it is a
    * source scan, the intended regime); callers feeding a derived frame
    * with shuffles/windows upstream should persist it first or restage
    * so only row-local work repeats (see Dedup.exactIncremental). NULL
    * keys are kept, per anti-join semantics. */
  def bloomAntiJoin(large: DataFrame, small: DataFrame,
                    largeKey: String, smallKey: String,
                    fpp: Double = 0.01,
                    expectedItems: Long = -1L): DataFrame = {
    val (probe, keys, cond) =
      bloomParts(large, small, largeKey, smallKey, fpp, expectedItems)
    large.filter(col(largeKey).isNull || !probe)
      .unionByName(large.filter(probe).join(keys, cond, "left_anti"))
  }

  /** Shared prefilter plumbing — builds the bloom ONCE and returns (the
    * probe predicate over `large`'s key, the null-free key frame of
    * `small`, the confirm-join condition). */
  private def bloomParts(large: DataFrame, small: DataFrame,
                         largeKey: String, smallKey: String,
                         fpp: Double, expectedItems: Long)
      : (Column, DataFrame, Column) = {
    import org.apache.spark.sql.graftglue.GraftGlue
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1): $fpp")
    val nonNull = small.filter(col(smallKey).isNotNull)
    // one count job on the reference side: sizes the bloom AND guards
    // the empty-reference case (Spark's bloomFilter aggregate NPEs on
    // 0 rows)
    val nn = nonNull.count()
    val probe = if (nn == 0L) lit(false) else {
      val n = if (expectedItems > 0) expectedItems else nn
      val bloom = nonNull.stat.bloomFilter(smallKey, n, fpp)
      GraftGlue.column(graft.functions.BloomMightContainExpr(
        GraftGlue.expression(large(largeKey)), bloom))
    }
    val keys = small.select(col(smallKey).as("__bloom_key"))
      .filter(col("__bloom_key").isNotNull)
    (probe, keys, col(largeKey) === col("__bloom_key"))
  }
}
