package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit pins for Bench's steady-profile guard logic ([[Bench.hazeTrip]])
  * and per-query timing ([[Bench.timeQuery]]) — no Spark session; the
  * rules are pure. The scenario each
  * case encodes is a MEASURED failure mode from the round history:
  * r9 phantom entries (ambient haze under the 2x trip), r10's
  * q_pagerank 1.59x / q_modularity 1.80x sliding under it. */
class BenchLogicSpec extends AnyFunSuite {

  test("quiet suite: trip stays at profileK, only >2x entries re-run") {
    // one outlier at 2.5x over a large quiet suite: total stays under
    // 1.1x, so the per-entry 2x rule alone fires
    val profile = Map("a" -> 10.0, "b" -> 20.0, "c" -> 1.0)
    val steady = Map("a" -> 10.2, "b" -> 20.4, "c" -> 2.5)
    val (hazy, trip, sus) = Bench.hazeTrip(steady, profile, 2.0, 0.5)
    assert(!hazy && trip == 2.0 && sus == Seq("c"))
  }

  test("hazy suite (>1.1x total): trip tightens to 1.4x and the band re-runs") {
    // every entry 1.6x its profile — r10's exact blind spot: no entry
    // over 2x, total 60% inflated, official record poisoned
    val profile = Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0)
    val steady = profile.map { case (k, v) => k -> v * 1.6 }
    val (hazy, trip, sus) = Bench.hazeTrip(steady, profile, 2.0, 0.5)
    assert(hazy && trip == 1.4 && sus == Seq("a", "b", "c"))
  }

  test("absolute floor: sub-floor wobble never re-runs, even when hazy") {
    val profile = Map("tiny" -> 0.1, "big" -> 10.0)
    val steady = Map("tiny" -> 0.3, "big" -> 16.0) // 3x and 1.6x; total 1.6x
    val (hazy, trip, sus) = Bench.hazeTrip(steady, profile, 2.0, 0.5)
    assert(hazy && trip == 1.4 && sus == Seq("big"),
      "tiny is 3x its profile but under the floor — JIT depth, not load")
  }

  test("no profile: nothing trips, no suite judgment") {
    val (hazy, trip, sus) =
      Bench.hazeTrip(Map("a" -> 5.0), Map.empty, 2.0, 0.5)
    assert(!hazy && trip == 2.0 && sus.isEmpty)
  }

  test("unprofiled new query is ignored by the trigger, not treated as drift") {
    val profile = Map("a" -> 1.0)
    val steady = Map("a" -> 1.0, "new_q" -> 50.0)
    val (hazy, _, sus) = Bench.hazeTrip(steady, profile, 2.0, 0.5)
    assert(!hazy && sus.isEmpty)
  }

  test("heavy entry on a calm suite trips at 1.5x (r11: q_triangles 1.81x, " +
      "str_linkage 1.59x under a 1.04x total)") {
    // the r11 measured blind spot: big quiet suite (total 1.04x), two
    // heavy entries in the 1.5-1.9x band — old rule recorded them as
    // official, new rule re-runs exactly those two
    val profile = Map("quiet1" -> 50.0, "quiet2" -> 50.0, "quiet3" -> 90.0,
      "q_triangles" -> 2.89, "str_linkage" -> 5.16, "small" -> 0.4)
    val steady = Map("quiet1" -> 50.0, "quiet2" -> 50.0, "quiet3" -> 90.0,
      "q_triangles" -> 5.23, "str_linkage" -> 8.22, "small" -> 0.7)
    val (hazy, trip, sus) = Bench.hazeTrip(steady, profile, 2.0, 0.5)
    assert(!hazy && trip == 2.0, "suite is calm; base trip unchanged")
    assert(sus == Seq("q_triangles", "str_linkage"),
      "heavy entries in the 1.5-1.9x band re-run despite the calm suite")
  }

  test("light entry in the same band does NOT trip on a calm suite") {
    // 1.75x on a 0.4 s profile is JIT wobble, not seconds of phantom —
    // the heavy rule keys on profile size, not ratio alone
    val profile = Map("big" -> 50.0, "small" -> 0.4)
    val steady = Map("big" -> 50.0, "small" -> 0.7)
    val (_, _, sus) = Bench.hazeTrip(steady, profile, 2.0, 0.5)
    assert(sus.isEmpty)
  }

  test("entryTrip composes tightest-wins: hazy suite + heavy entry") {
    assert(Bench.entryTrip(10.0, suiteHazy = true, profileK = 2.0) == 1.4,
      "hazy 1.4 is tighter than heavy 1.5")
    assert(Bench.entryTrip(10.0, suiteHazy = false, profileK = 2.0) == 1.5)
    assert(Bench.entryTrip(0.4, suiteHazy = false, profileK = 2.0) == 2.0)
    assert(Bench.entryTrip(1.5, suiteHazy = false, profileK = 2.0) == 2.0,
      "boundary: profile must EXCEED 1.5 s to count as heavy")
  }

  test("profileK below 1.4 is never LOOSENED by a hazy suite (r11 advice)") {
    // SPARK_GRAFT_PROFILE_K=1.2 configured: a hazy suite must keep the
    // tighter 1.2, not relax to the constant 1.4
    val profile = Map("a" -> 10.0, "b" -> 10.0)
    val steady = Map("a" -> 13.0, "b" -> 13.0) // 1.3x each; total hazy
    val (hazy, trip, sus) = Bench.hazeTrip(steady, profile, 1.2, 0.5)
    assert(hazy && trip == 1.2 && sus == Seq("a", "b"))
    assert(Bench.entryTrip(10.0, suiteHazy = true, profileK = 1.2) == 1.2)
  }

  test("a query that throws is reported failed, never timed as a fast one") {
    // the old loop swallowed the throw and recorded the time-to-failure
    // as the query's steady time
    assert(Bench.timeQuery(() => throw new IllegalStateException("boom")) ==
      Left("boom"))
    var runs = 0
    val second = Bench.timeQuery { () =>
      runs += 1
      if (runs == 2) throw new RuntimeException("second run failed") else 0.5
    }
    assert(second == Left("second run failed") && runs == 2,
      "a failure on a repeat run fails the query too")
    val ok = Bench.timeQuery(() => 0.5)
    assert(ok == Right(Bench.QTime(0.5, 0.5, 2)))
  }
}
