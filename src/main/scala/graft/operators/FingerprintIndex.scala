package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Distributed membership index over a corpus' exact-dedup fingerprints
  * (md5 hex strings, see [[graft.functions.TextFunctions.fingerprint]]),
  * built ONCE per run and probed per trigger with a bounded candidate
  * set — the refresh loop's stable confirm side.
  *
  * The candidates are the batch fingerprints the refresh loop's held
  * bloom ([[graft.streaming.RefreshPipeline.FingerprintBloom]]) flags
  * as possible members. Why an index and not a join against a cached
  * fingerprint frame: a sort-merge LEFT ANTI advances the reference
  * iterator LINEARLY to each probe key, so any partition holding even
  * one candidate scans essentially its whole cached slice — O(corpus)
  * row comparisons per trigger no matter how small the batch. Here each
  * fingerprint is packed to its two 64-bit halves and
  * held as one SORTED long array per RANGE partition; the per-partition
  * (first, last) bounds live as O(partitions) driver state, so a probe
  * routes each candidate to exactly one partition, launches tasks ONLY
  * for partitions that hold candidates
  * ([[org.apache.spark.rdd.PartitionPruningRDD]]), and each task binary
  * searches: O(candidates x log(corpus/partitions)) total, flat in the
  * corpus. The arrays are exact (full 128-bit fingerprints) — this is
  * the same membership test as an anti join, not a sketch.
  *
  * Memory: 16 bytes per fingerprint (vs ~50 for the equivalent cached
  * UnsafeRow frame), MEMORY_AND_DISK so it degrades to disk instead of
  * evicting execution memory. Release with [[FingerprintIndex.release]]
  * on run exit. */
final class FingerprintIndex private (
    private val arrays: RDD[Array[Long]],
    // ascending, disjoint (range partitioning): one entry per NON-EMPTY
    // partition — (rdd partition id, first hi, first lo, last hi, last lo)
    private val bounds: Array[(Int, Long, Long, Long, Long)],
    /** Total fingerprints indexed (bloom-capacity sizing). */
    val count: Long) extends Serializable {
  import FingerprintIndex._

  /** The subset of `cands` (md5 hex fingerprints, any order, duplicates
    * fine) PRESENT in the index, as hex strings. One Spark job over at
    * most min(|cands|, partitions) pruned partitions; candidates whose
    * value falls outside every partition's range never leave the
    * driver. */
  def hits(cands: Array[String]): Array[String] = {
    if (cands.isEmpty || count == 0L || bounds.isEmpty) return Array.empty
    // parse + sort + dedup driver-side (candidate sets are micro-batch
    // bounded — the ledger single-file contract's size class)
    val packed = cands.map(parseHex).distinct.sortWith(pairLess)
    val bs = bounds
    val active = new scala.collection.mutable.HashSet[Int]
    packed.foreach { c =>
      val p = partitionOf(bs, c._1, c._2)
      if (p >= 0) { active.add(bs(p)._1); () }
    }
    if (active.isEmpty) return Array.empty
    val activeSet = active.toSet
    val candHi = packed.map(_._1)
    val candLo = packed.map(_._2)
    val pruned = org.apache.spark.rdd.PartitionPruningRDD.create(
      arrays, activeSet.contains)
    pruned.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val arr = it.next() // sorted (hi, lo) pairs, flattened
        val n = arr.length / 2
        if (n == 0) Iterator.empty
        else {
          // candidates restricted to this partition's [first, last]
          val from = lowerBound(candHi, candLo, arr(0), arr(1))
          val until = upperBound(candHi, candLo,
            arr(2 * (n - 1)), arr(2 * (n - 1) + 1))
          (from until until).iterator
            .filter(i => containsPair(arr, candHi(i), candLo(i)))
            .map(i => f"${candHi(i)}%016x${candLo(i)}%016x")
        }
      }
    }.collect()
  }

  /** Drop the persisted arrays (run exit). */
  def release(): Unit = { arrays.unpersist(blocking = false); () }
}

object FingerprintIndex {

  /** Build over a single-string-column frame of md5 hex fingerprints
    * (nulls dropped): range-partition into `numPartitions`, sort each
    * partition, pack to long-pair arrays, persist, and collect the
    * per-partition bounds (one O(partitions) driver round). */
  def build(fps: DataFrame, numPartitions: Int): FingerprintIndex = {
    require(numPartitions >= 1, s"numPartitions must be >= 1: $numPartitions")
    val c = fps.columns.head
    val arranged = fps
      .filter(col(c).isNotNull)
      .repartitionByRange(numPartitions, col(c))
      .sortWithinPartitions(c)
    val arrays = arranged.queryExecution.toRdd.mapPartitions { it =>
      val buf = new scala.collection.mutable.ArrayBuffer[Long]()
      it.foreach { row =>
        val (hi, lo) = parseHex(row.getUTF8String(0).toString)
        buf += hi
        buf += lo
      }
      Iterator.single(buf.toArray)
    }
    arrays.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = arrays.mapPartitionsWithIndex { (i, it) =>
      val arr = it.next()
      val n = arr.length / 2
      if (n == 0) Iterator.empty
      else Iterator.single((i, arr(0), arr(1),
        arr(2 * (n - 1)), arr(2 * (n - 1) + 1), n.toLong))
    }.collect()
    // defensive: route by sorted bounds regardless of partition order
    // (RangePartitioner assigns ascending ranges to ascending ids, but
    // nothing below depends on it)
    val bounds = stats.sortWith((a, b) =>
        pairLess((a._2, a._3), (b._2, b._3)))
      .map(s => (s._1, s._2, s._3, s._4, s._5))
    new FingerprintIndex(arrays, bounds, stats.map(_._6).sum)
  }

  /** 32-char lowercase hex -> (hi, lo). Fail-loud on anything else: the
    * index is exact membership, a silently mis-parsed key would drop a
    * non-duplicate. */
  private[graft] def parseHex(s: String): (Long, Long) = {
    require(s.length == 32, s"not an md5 hex fingerprint: $s")
    (java.lang.Long.parseUnsignedLong(s.substring(0, 16), 16),
      java.lang.Long.parseUnsignedLong(s.substring(16), 16))
  }

  /** Unsigned (hi, lo) order == lexicographic order of the fixed-width
    * lowercase hex strings the pairs encode. */
  private[graft] def pairLess(a: (Long, Long), b: (Long, Long)): Boolean = {
    val ch = java.lang.Long.compareUnsigned(a._1, b._1)
    ch < 0 || (ch == 0 && java.lang.Long.compareUnsigned(a._2, b._2) < 0)
  }

  private def cmp(ahi: Long, alo: Long, bhi: Long, blo: Long): Int = {
    val ch = java.lang.Long.compareUnsigned(ahi, bhi)
    if (ch != 0) ch else java.lang.Long.compareUnsigned(alo, blo)
  }

  /** Index into `bounds` of the partition whose [first, last] range
    * contains (hi, lo); -1 when none does (the value is provably absent
    * from the index). */
  private def partitionOf(bounds: Array[(Int, Long, Long, Long, Long)],
                          hi: Long, lo: Long): Int = {
    // greatest entry with first <= key
    var l = 0
    var r = bounds.length - 1
    var ans = -1
    while (l <= r) {
      val m = (l + r) >>> 1
      val b = bounds(m)
      if (cmp(b._2, b._3, hi, lo) <= 0) { ans = m; l = m + 1 }
      else r = m - 1
    }
    if (ans >= 0 && cmp(hi, lo, bounds(ans)._4, bounds(ans)._5) <= 0) ans
    else -1
  }

  /** First i with cand(i) >= (hi, lo). */
  private def lowerBound(candHi: Array[Long], candLo: Array[Long],
                         hi: Long, lo: Long): Int = {
    var l = 0
    var r = candHi.length
    while (l < r) {
      val m = (l + r) >>> 1
      if (cmp(candHi(m), candLo(m), hi, lo) < 0) l = m + 1 else r = m
    }
    l
  }

  /** First i with cand(i) > (hi, lo). */
  private def upperBound(candHi: Array[Long], candLo: Array[Long],
                         hi: Long, lo: Long): Int = {
    var l = 0
    var r = candHi.length
    while (l < r) {
      val m = (l + r) >>> 1
      if (cmp(candHi(m), candLo(m), hi, lo) <= 0) l = m + 1 else r = m
    }
    l
  }

  /** Binary search a flattened sorted (hi, lo) pair array. */
  private def containsPair(arr: Array[Long], hi: Long, lo: Long): Boolean = {
    var l = 0
    var r = arr.length / 2 - 1
    while (l <= r) {
      val m = (l + r) >>> 1
      val c = cmp(arr(2 * m), arr(2 * m + 1), hi, lo)
      if (c == 0) return true
      else if (c < 0) l = m + 1
      else r = m - 1
    }
    false
  }
}
