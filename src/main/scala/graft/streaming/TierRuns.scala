package graft.streaming

/** The size-tiered (LSM) run layer both delta stores share — run
  * listing, structural liveness, the tiered floor, the fold plan, the
  * covered-source sweep and the crash-window classifier, written once
  * over a store's [[Layout]]. A store supplies only where its runs live,
  * a listing of its tier-0 arms, and (to [[StoreRoot]]'s tier machine)
  * the writer that stages one run's payload.
  *
  * A tier RUN is the latest-wins view of a CONTIGUOUS id range of the
  * store's units (tier-0 arms keyed by version / batch id, or earlier
  * runs), resolved physically into one directory beside the arms, with
  * each surviving row's ORIGINAL id kept physical — so the store's
  * global read stays exactly the same resolution, just over fewer,
  * larger units. Runs nest: K tier-0 arms fold into a tier-1 run, K
  * tier-1 runs into a tier-2 run, and so on — per-fold work is O(one
  * tier), never O(current store), which keeps compaction cycles flat as
  * the store grows. Ranges of distinct runs are nested or disjoint by
  * construction (a fold always takes whole adjacent units), so a unit is
  * dead exactly when a STRICTLY LARGER referenced run contains its range
  * — the one coverage rule every verb here applies.
  *
  * Commit protocol (the [[StoreRoot]] begin/finish crash windows,
  * reproduced inside a generation): a fold stages its run under
  * `.staging-u<id>` and publishes it as `u<id>` — COMMITTED but
  * UNREFERENCED (readers only ever scan `t` runs); ONE atomic same-dir
  * rename `u<id>` -> `t<id>` is the SWAP (readers flip from the covered
  * sources to the run between two listings, both views
  * latest-wins-identical); the covered sources are then retired. A crash
  * mid-fold leaves only staging (swept on the next begin); after
  * publish-before-swap it leaves a `u` run the next begin ADOPTS (swap +
  * retire — never a redo); after swap-before-retire it leaves
  * covered-but-present sources the liveness rule already excludes from
  * every read, swept by the next begin. Liveness is STRUCTURAL — derived
  * from one directory listing, no manifest — which is what makes the
  * swap rename the commit point. */
private[graft] object TierRuns {

  /** One committed tier-0 arm: its version / batch id, its path relative
    * to the store dir (the name a verbatim copy publishes under), and
    * its directory. */
  final case class Arm(id: Long, rel: String, dir: java.io.File)

  /** A store's tier layout: the store dir, the parent its `u`/`t` run
    * dirs live under, and a fresh listing of its committed tier-0 arms
    * (any order; several arms may share an id). */
  final case class Layout(dir: String, runsParent: java.io.File,
                          listArms: () => Seq[Arm]) {
    def arms: Seq[Arm] = listArms()
  }

  /** One unit of the store: a run (`run` set, range marker
    * [[StoreFiles.TierRunMarker]]) or the tier-0 arm(s) at one id (`tier`
    * 0, `lo` == `hi` == id). */
  final case class TierUnit(tier: Int, lo: Long, hi: Long,
                            run: Option[java.io.File], arms: Seq[Arm]) {
    def dirs: Seq[java.io.File] = run.toSeq ++ arms.map(_.dir)
  }

  private def hasRunMarker(d: java.io.File): Boolean =
    new java.io.File(d, StoreFiles.TierRunMarker).isFile

  private def runs(l: Layout, prefix: String): Seq[TierUnit] =
    StoreFiles.publishedDirs(l.runsParent.getPath, prefix, hasRunMarker)
      .flatMap { case (_, d) =>
        StoreFiles.runMeta(d)
          .map { case (t, lo, hi) => TierUnit(t, lo, hi, Some(d), Nil) }
      }

  /** The coverage rule: `r` contains [lo, hi] and is strictly larger. */
  private def covers(r: TierUnit, lo: Long, hi: Long): Boolean =
    r.lo <= lo && hi <= r.hi && (r.hi - r.lo) > (hi - lo)

  private def uncovered(ts: Seq[TierUnit]): Seq[TierUnit] =
    ts.filter(r => !ts.exists(covers(_, r.lo, r.hi)))

  /** The store's LIVE units, ascending by range: referenced runs no
    * larger run covers, plus every id's arms no such run covers. A
    * reader that lists before a swap serves the covered sources, one
    * that lists after serves the run; covered dirs still on disk are
    * never scanned. */
  def liveUnits(l: Layout): Seq[TierUnit] = {
    val live = uncovered(runs(l, "t"))
    val arms = l.arms.filterNot(a => live.exists(covers(_, a.id, a.id)))
      .groupBy(_.id).toSeq
      .map { case (id, as) => TierUnit(0, id, id, None, as) }
    (live ++ arms).sortBy(u => (u.lo, -u.hi))
  }

  /** The TIERED retention floor: the highest id any referenced run
    * covers (None without runs). Ids inside a run's range were resolved
    * physically: an asOf below the floor cannot be served, and an arm at
    * or below it is an at-least-once re-delivery that must skip. */
  def floor(l: Layout): Option[Long] = runs(l, "t").map(_.hi).maxOption

  /** Fail loudly on an asOf below `floor` — rows a run's range resolved
    * away exist nowhere (the generation floor's contract). At or above
    * it every run is fully included (hi <= floor <= asOf). */
  def requireAsOf(what: String, dir: String, asOf: Option[Long],
                  floor: Option[Long]): Unit =
    for (v <- asOf; f <- floor)
      if (v < f) throw new IllegalStateException(
        s"$what at $dir: asOf=$v is below the tiered retention floor " +
          s"$f - history inside a tier run's range was resolved " +
          "physically by compaction; history below the floor is beyond " +
          "retention")

  /** The highest id the store holds, in an arm or under a run — what
    * a generation fold must cover before the store may retire. */
  def latestCovered(l: Layout): Option[Long] =
    (l.arms.map(_.id) ++ floor(l)).maxOption

  /** The retire verb both stores expose ([[ShardSink.retire]],
    * [[VectorIndexSink.retire]]): validate that `compactedTo` is a
    * committed fold of this store covering [[latestCovered]], mark the
    * store retired, then sweep its payload (the marker outlives it). */
  def retire(l: Layout, compactedTo: String): Unit = {
    StoreFiles.beginRetire(l.dir, compactedTo, latestCovered(l))
    StoreFiles.deletePayload(l.dir)
  }

  /** Committed-but-UNREFERENCED runs (`u<id>`) — the pre-swap state the
    * tiered begin adopts. */
  def pendingRuns(l: Layout): Seq[TierUnit] = runs(l, "u")

  /** The id the next fold publishes at: one above every referenced and
    * pending run (ids are never reused, so an abandoned staging dir can
    * never alias a later cycle's commit). */
  def nextRunId(l: Layout): Long =
    (StoreFiles.publishedDirs(l.runsParent.getPath, "t", hasRunMarker) ++
      StoreFiles.publishedDirs(l.runsParent.getPath, "u", hasRunMarker))
      .map(_._1).maxOption.getOrElse(-1L) + 1

  /** The size-tiered fold plan: the OLDEST window of `fanout`
    * consecutive live units sharing one tier, never touching the newest
    * `keep` units (the trailing asOf window). Folding oldest-first keeps
    * ranges nested-or-disjoint and escalates naturally; the top tier only
    * rewrites when it fills. None when no tier is full. */
  def plan(l: Layout, fanout: Int, keep: Int): Option[Seq[TierUnit]] = {
    require(fanout >= 2, s"tier fanout must be >= 2: $fanout")
    val units = liveUnits(l).dropRight(keep)
    (0 to units.length - fanout).view
      .map(i => units.slice(i, i + fanout))
      .find(w => w.forall(_.tier == w.head.tier))
  }

  /** The SWAP: reference a committed run with one atomic same-dir
    * rename `u<id>` -> `t<id>`. */
  def swap(u: java.io.File): Unit = {
    java.nio.file.Files.move(u.toPath,
      new java.io.File(u.getParentFile, "t" + u.getName.drop(1)).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Arms and referenced runs a live run covers, still on disk. */
  private def covered(l: Layout): Seq[java.io.File] = {
    val ts = runs(l, "t")
    val live = uncovered(ts)
    def dead(lo: Long, hi: Long) = live.exists(covers(_, lo, hi))
    l.arms.filter(a => dead(a.id, a.id)).map(_.dir) ++
      ts.filter(r => dead(r.lo, r.hi)).flatMap(_.run)
  }

  private def staging(l: Layout): Seq[java.io.File] =
    Option(l.runsParent.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(".staging-u"))
      .toSeq

  /** Retire every dir a referenced run covers, plus abandoned fold
    * staging — the tier machine's retire verb AND its swap-no-retire heal
    * (idempotent: covered dirs are invisible to reads either way; no
    * fold is in flight when this runs, by the per-root single-writer
    * contract). */
  def sweepCovered(l: Layout): Unit =
    (covered(l) ++ staging(l)).foreach(StoreFiles.deleteRec)

  /** Post-kill disk forensics (the [[graft.tools.CrashHarness]]
    * classifier): `pre-swap` = a fold's staging or a committed
    * unreferenced `u` run is on disk; `swap-no-retire` = a referenced
    * run's covered sources are still present; else `none`. */
  def window(l: Layout): String =
    if (pendingRuns(l).nonEmpty || staging(l).nonEmpty) "pre-swap"
    else if (covered(l).nonEmpty) "swap-no-retire"
    else "none"

  /** Copy every arm above `cutoff` into `outDir` verbatim (same relative
    * path and id, staged + published, so re-delivered appends still find
    * their commits and a re-run skips already-copied arms); returns the
    * arms copied. */
  def copyArmsAbove(l: Layout, outDir: String,
                    cutoff: Long): Seq[Arm] = {
    val late = l.arms.filter(_.id > cutoff)
    late.foreach { a =>
      StoreFiles.publishOnce(s"$outDir/.staging-${a.rel.replace('/', '-')}",
        new java.io.File(s"$outDir/${a.rel}"),
        staging => StoreFiles.copyRec(a.dir, new java.io.File(staging)))
    }
    late
  }

  /** TOP-UP a committed generation-fold target with the arms its source
    * grew AFTER the fold was cut — the O(late-arms) completion step that
    * lets the fold run out-of-band while appends keep landing
    * ([[StoreRoot]]'s begin/finish split), and equally the RESUME step for
    * a fold that committed but crashed before its swap. Late arms are
    * copied verbatim ([[copyArmsAbove]]), then the lineage marker's `max`
    * advances atomically while `floor` stays at the fold cutoff — the
    * copied arms stay individually addressable by asOf, like windowed
    * retention's carried arms. No-op when the target covers the source. */
  def topUp(l: Layout, outDir: String): Unit = {
    val m = StoreFiles.readMarker(
        new java.io.File(outDir, StoreFiles.CompactedFromMarker))
      .getOrElse(throw new IllegalStateException(
        s"top-up target $outDir carries no committed fold marker - " +
          "nothing to top up (a partial fold is swept and redone, " +
          "never topped up)"))
    val max = m("max").toLong
    // tier folds and generation folds on one store must be serialized
    // by the caller (runManaged's one-in-flight queue does): a run
    // committed between this generation fold's cut and its top-up would
    // cover arms the top-up copies verbatim — fail loudly rather than
    // double-serve them
    require(!floor(l).exists(_ > max),
      s"top-up source ${l.dir} grew a tier run past the generation " +
        s"fold's cut $max - tier and generation folds must not " +
        "interleave on one store")
    val late = copyArmsAbove(l, outDir, max)
    if (late.nonEmpty)
      StoreFiles.writeCompactedFrom(outDir, l.dir, late.map(_.id).max,
        floor = Some(m.getOrElse("floor", m("max")).toLong))
  }
}
