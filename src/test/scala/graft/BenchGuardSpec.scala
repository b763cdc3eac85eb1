package graft

import org.scalatest.funsuite.AnyFunSuite

/** BenchGuard's artifact parsing — the piece of the host-steal protocol
  * whose silent failure would make the guard vacuous (an empty parse
  * reads as "no shared queries, pass is clean"). The protocol itself
  * (uptime gate, discard-inflated, probe-then-adjudicate) is driven by
  * Bench end-to-end and exercised operationally. */
class BenchGuardSpec extends AnyFunSuite {

  test("parseQueries reads the detail artifact's queries block only") {
    val json =
      """{"metric":"total","value":12.345,"unit":"sec","runs":3,
        |"queries":{"q01_agg_basic":1.500,"q118_pq_ann":0.971,
        |"q170_refresh_cross_store":18.693},
        |"failed":{"q99_x":"boom 2.0"},
        |"components":{"q168_stream_drain":12.300},
        |"sf":"/root/testdata/sf0.1"}""".stripMargin.replace("\n", "")
    val q = graft.tools.BenchGuard.parseQueries(json)
    assert(q == Map("q01_agg_basic" -> 1.5, "q118_pq_ann" -> 0.971,
      "q170_refresh_cross_store" -> 18.693))
    // the failed/components blocks never leak into the query map
    assert(!q.contains("q99_x") && !q.contains("q168_stream_drain"))
  }

  test("parseQueries is empty (never throws) on junk or missing block") {
    assert(graft.tools.BenchGuard.parseQueries("{}").isEmpty)
    assert(graft.tools.BenchGuard.parseQueries("not json").isEmpty)
    assert(graft.tools.BenchGuard
      .parseQueries("""{"queries":{}}""").isEmpty)
  }

  test("parseCalibration reads the anchor; absent on old artifacts") {
    val json = """{"metric":"total","value":9.9,"unit":"sec","runs":2,""" +
      """"calibration":3.125,"queries":{"q01_agg":1.5},"failed":{},""" +
      """"sf":"/root/testdata/sf0.1"}"""
    assert(graft.tools.BenchGuard.parseCalibration(json) == Some(3.125))
    assert(graft.tools.BenchGuard.parseCalibration(
      """{"queries":{"q01":1.0}}""").isEmpty)
  }

  test("hostDrift classifies uniform host steal vs code regression: " +
      "a loaded-host pass (queries AND anchor up together) normalizes " +
      "clean, a code regression (queries up, anchor flat) survives") {
    import graft.tools.BenchGuard.hostDrift
    def geomean(xs: Seq[Double]): Double =
      math.exp(xs.map(math.log).sum / xs.size)
    val ref = Map("q01" -> 1.0, "q13" -> 2.0, "q19" -> 0.5)
    // deliberately-loaded host: everything 1.3x, anchor 1.3x — the r15
    // signature that cost a manual adjudication
    val steal = ref.view.mapValues(_ * 1.3).toMap
    val dSteal = hostDrift(Some(3.0), Some(3.9))
    val gSteal = geomean(ref.keys.toSeq.map(q =>
      steal(q) / ref(q) / dSteal))
    assert(math.abs(dSteal - 1.3) < 1e-9)
    assert(gSteal < 1.2, s"uniform steal misclassified: $gSteal")
    // real regression: queries 1.3x on a QUIET host (anchor flat)
    val dReg = hostDrift(Some(3.0), Some(3.0))
    val gReg = geomean(ref.keys.toSeq.map(q =>
      steal(q) / ref(q) / dReg))
    assert(gReg > 1.2, s"code regression normalized away: $gReg")
    // pre-anchor artifacts fall back to unnormalized (drift 1.0)
    assert(hostDrift(None, Some(3.9)) == 1.0)
    assert(hostDrift(Some(3.0), None) == 1.0)
  }

  test("classify: a drifted-but-clean pass never becomes the baseline " +
      "(the CPU anchor is blind to I/O-dominated rows, so a steal " +
      "window could hide a CPU regression behind deflated I/O ratios)") {
    import graft.tools.BenchGuard.classify
    // quiet host, no movement -> committed
    assert(classify(1.02, 1.02, 1.2) == "committed")
    // quiet host, real regression -> discarded (raw == normalized)
    assert(classify(1.35, 1.35, 1.2) == "discarded_regressed")
    // steal window, uniform drift normalized clean -> reported clean
    // but the baseline is NOT replaced
    assert(classify(1.05, 1.45, 1.2) == "clean_drift_not_committed")
    // steal window AND a regression surviving normalization -> discard
    // wins over the drift classification
    assert(classify(1.30, 1.80, 1.2) == "discarded_regressed")
  }

  test("parseCalibrationIo reads the I/O twin; absent on artifacts " +
      "that predate it or whose fixture scan failed") {
    import graft.tools.BenchGuard.parseCalibrationIo
    val j = """{"metric":"total","value":1.0,"calibration":2.501,""" +
      """"calibration_io":4.310,"queries":{"q01":1.0}}"""
    assert(parseCalibrationIo(j).contains(4.310))
    val old = """{"metric":"total","calibration":2.501,"queries":{}}"""
    assert(parseCalibrationIo(old).isEmpty)
  }

  test("driftKind attributes a refused pass's drift to the right side " +
      "of the machine - telemetry only, never the commit decision") {
    import graft.tools.BenchGuard.driftKind
    // no I/O anchor on either side: the twin cannot attribute
    assert(driftKind(1.3, None) == "cpu-anchor-only")
    // both anchors quiet
    assert(driftKind(1.02, Some(0.98)) == "none")
    // both anchors moved together: classic uniform host steal
    assert(driftKind(1.30, Some(1.28)) == "uniform")
    // CPU anchor moved, I/O flat: a compute-stealing neighbor
    assert(driftKind(1.40, Some(1.02)) == "cpu-dominant")
    // I/O anchor moved, CPU flat: the disk/page cache was busy - the
    // window the CPU anchor is structurally blind to (the reason
    // classify refuses raw-drifted baselines outright)
    assert(driftKind(1.03, Some(1.55)) == "io-dominant")
    // symmetric on deflation (a FASTER host window still drifts)
    assert(driftKind(0.72, Some(0.99)) == "cpu-dominant")
  }

  test("cpus gate: an artifact measured at another core count is " +
      "refused before a pass starts; same count, no artifact, or an " +
      "artifact without the field compares as before") {
    import graft.tools.BenchGuard.{cpusRefusal, parseCpus}
    val j32 = """{"metric":"total","value":9.9,"unit":"sec","runs":2,""" +
      """"cpus":32,"git_sha":"unavailable","calibration":3.125,""" +
      """"queries":{"q01_agg":1.5}}"""
    val old = """{"metric":"total","runs":2,"calibration":3.1,""" +
      """"queries":{"q01_agg":1.5}}"""
    assert(parseCpus(j32).contains(32))
    assert(parseCpus(old).isEmpty)
    val refused = cpusRefusal(Some(j32), "8")
    assert(refused.exists(l => l.contains("\"refused_cpus\"") &&
      l.contains("\"artifact_cpus\":32")), refused)
    assert(cpusRefusal(Some(j32), "32").isEmpty)
    assert(cpusRefusal(Some(old), "8").isEmpty)
    assert(cpusRefusal(None, "8").isEmpty)
  }
}
