package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("jsonEscape keeps the error payload one valid JSON line") {
    assert(Bench.jsonEscape("a\"b\nc\\d") === "a\\\"b\\nc\\\\d")
    assert(Bench.jsonEscape("ctrlx") === "ctrl\\u0001x")
  }

  test("abScore: min-of-reps totals over the SHARED set only; one hot " +
      "rep reads inside_noise; a uniform regression reads outside") {
    // one B rep ran 50% hot (the r14 scenario): min-of-reps discards it
    // and the remaining gap is far smaller than B's own rep spread
    val a = Seq(Map("q1" -> 1.0, "q2" -> 2.0, "extra" -> 9.0),
      Map("q1" -> 1.25, "q2" -> 2.0, "extra" -> 9.0))
    val bHot = Seq(Map("q1" -> 1.5, "q2" -> 3.0),
      Map("q1" -> 1.0, "q2" -> 2.0))
    val s = Bench.abScore(a, bHot)
    assert(s.shared === Seq("q1", "q2"), "unshared queries never score")
    assert(s.aTot === 3.0 && s.bTot === 3.0 && s.ratio === 1.0)
    assert(s.aRepSums === Seq(3.0, 3.25) && s.bRepSums === Seq(4.5, 3.0))
    assert(s.bSpread === 1.5 && s.gap === 0.0)
    assert(s.insideNoise, "a hot rep must not read as a regression")
    // jackknife: dropping B's clean rep leaves only the hot one (4.5),
    // dropping the hot one leaves 3.0 - the min-sum statistic itself is
    // rep-dependent here, so even the STRICT flag reads noise
    assert(s.bJackSums === Seq(3.0, 4.5) && s.bJackSpread === 1.5)
    assert(s.insideNoiseStrict, "an unstable min-sum is noise under " +
      "the strict flag too")

    // a genuine uniform 1.5x regression with tight reps: the gap dwarfs
    // both spreads - outside noise under BOTH flags
    val slow = Seq(Map("q1" -> 1.5, "q2" -> 3.0),
      Map("q1" -> 1.5, "q2" -> 3.0))
    val tight = Seq(Map("q1" -> 1.0, "q2" -> 2.0),
      Map("q1" -> 1.0, "q2" -> 2.0))
    val r = Bench.abScore(slow, tight)
    assert(r.ratio === 1.5 && !r.insideNoise,
      "a real regression must not hide behind the noise flag")
    assert(!r.insideNoiseStrict)
  }

  test("abScore strict flag: a small real regression hides inside the " +
      "RAW rep spread but not inside the jackknife min-sum spread") {
    // B has one hot rep, so its raw spread (1.0) would absorb A's
    // uniform 5% regression (gap 0.15) - the r15 advice's blind spot.
    // But B's min-sum is rep-STABLE (two clean reps both hold every
    // min: every leave-one-out total is 3.0), so the jackknife spread
    // is 0 and the strict flag reads the gap as real.
    val a = Seq(
      Map("q1" -> 1.05, "q2" -> 2.10),
      Map("q1" -> 1.05, "q2" -> 2.10),
      Map("q1" -> 1.05, "q2" -> 2.10))
    val b = Seq(
      Map("q1" -> 1.0, "q2" -> 2.0),
      Map("q1" -> 1.0, "q2" -> 2.0),
      Map("q1" -> 1.4, "q2" -> 2.6))
    val s = Bench.abScore(a, b)
    assert(math.abs(s.gap - 0.15) < 1e-9 && s.bSpread === 1.0)
    assert(s.insideNoise, "the loose flag is blind to this one")
    assert(s.bJackSums === Seq(3.0, 3.0, 3.0) && s.bJackSpread === 0.0)
    assert(!s.insideNoiseStrict,
      "the strict flag must surface a gap the min-sum stability " +
        "cannot explain")
  }
}
