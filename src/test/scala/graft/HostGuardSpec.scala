package graft

import org.scalatest.funsuite.AnyFunSuite

/** The host guard shared by the batch sweep and the streaming benches:
  * probe/steal/history brackets around every measured leg.
  * These specs pin the pieces a contaminated-record postmortem would
  * lean on: the history file parses to the rates the tripwire
  * compares against, the stamp JSON is valid and self-describing, and
  * the flag folds together exactly the probe/steal/trip conditions
  * the artifact notes claim it does. */
class HostGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("checked-in stream history parses to positive per-leg rates") {
    val h = HostGuard.history
    // the repo file must keep the tripwire armed for the whole suite
    val expected = Seq("micro_1k", "micro_10k", "micro_100k",
      "er_stream", "rules_tws", "rules_foreach_batch", "order_tws",
      "order_tws_warm", "order_fmgws", "nexmark_q1_currency",
      "nexmark_q3_join")
    expected.foreach { k =>
      assert(h.get(k).exists(_ > 0), s"missing/zero history for $k")
    }
  }

  test("history parser is scoped to the rates object") {
    // a numeric metadata field OUTSIDE "rates" must not become a
    // phantom leg entry (the r16 ADVICE low: the old whole-file regex
    // would have read "round": 17 as a leg named round)
    val txt =
      """{"source": "spec", "round": 17,
        |"rates": {"micro_1k": 86891, "er_stream": 244500},
        |"epilogue_count": 3}""".stripMargin
    val m = HostGuard.parseHistory(txt)
    assert(m == Map("micro_1k" -> 86891.0, "er_stream" -> 244500.0), m)
  }

  test("batch tripwire ratio: 1.4x band starts at 10 s history") {
    // r16 shipped an unflagged ~2x regression on a 13 s-history row
    // because [10 s, 30 s) rows only tripped at 3x — the band now
    // starts at 10 s (VERDICT r16 ask #2)
    assert(HostGuard.tripRatioFor(5.0) == 3.0)
    assert(HostGuard.tripRatioFor(9.99) == 3.0)
    assert(HostGuard.tripRatioFor(10.0) == 1.4)
    assert(HostGuard.tripRatioFor(13.26) == 1.4) // layout_bucketed_join sf10
    assert(HostGuard.tripRatioFor(300.0) == 1.4)
  }

  test("guarded run returns the result and a well-formed stamp") {
    val ((r, stamp), _) = (HostGuard.guarded(spark, "spec_leg") {
      42
    }(_ => 1e9), ())
    assert(r == 42)
    assert(stamp.name == "spec_leg")
    // 1e9 rows/s has no history entry: ratio 0, no trip probe ran
    assert(stamp.historyRps == 0.0 && stamp.tripProbeSec == -1.0)
    assert(stamp.probeStartSec > 0 && stamp.probeEndSec > 0)
    // stamp JSON is machine-parseable and carries the flag verbatim
    val j = stamp.json
    assert(j.contains("\"name\":\"spec_leg\"") &&
      j.contains(s""""flagged":${stamp.flagged}"""), j)
  }

  test("a leg far under its history fires the trip probe") {
    // micro_1k has a real history entry; 1 row/s is < history/1.4, so
    // the guard must run the immediate arbitration probe (recorded in
    // trip_probe_sec) regardless of whether the box reads hot
    val (_, stamp) = HostGuard.guarded(spark, "micro_1k") {
      ()
    }(_ => 1.0)
    assert(stamp.historyRps > 0)
    assert(stamp.tripProbeSec >= 0.0,
      s"trip probe did not run: ${stamp.json}")
    // flag semantics: a clean trip probe alone must NOT flag the leg
    if (stamp.probeStartSec <= stamp.probeLimit &&
        stamp.probeEndSec <= stamp.probeLimit &&
        stamp.tripProbeSec <= stamp.probeLimit &&
        stamp.stealFrac <= 0.05)
      assert(!stamp.flagged, s"clean probes but flagged: ${stamp.json}")
  }
}
