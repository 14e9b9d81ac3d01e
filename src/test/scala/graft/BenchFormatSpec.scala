package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchFormatSpec extends AnyFunSuite {
  test("ref_drift stays a JSON number under a comma-decimal locale") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(Bench.refDriftJson(Some(1.23456)) == "1.235")
      assert(Bench.refDriftJson(None) == "null")
    } finally java.util.Locale.setDefault(prev)
  }

  test("the shared JSON escaper escapes quote, backslash and control chars") {
    import graft.tools.Harness.json
    assert(json("a\"b") == "\"a\\\"b\"")
    assert(json("a\\b") == "\"a\\\\b\"")
    assert(json("a\nb\rc\td") == "\"a\\nb\\rc\\td\"")
    assert(json("a\u0001b") == "\"a\\u0001b\"")
    assert(json("plain é") == "\"plain é\"")
  }

  test("ref_drift reads each entry's first warm pass, not its retried median") {
    // q1 read 3x its reference on the first pass; the retry's extra
    // samples pulled its median back to 1.1x
    val times = Map(
      "q1_agg" -> BenchTimes(1.0, 1.1, 0.9, 3.2, retries = 1, firstMedian = 3.0),
      "q2_join" -> BenchTimes(1.0, 2.5, 2.4, 2.6, firstMedian = 2.5),
      "q3_new" -> BenchTimes(1.0, 9.0, 9.0, 9.0, firstMedian = 9.0))
    val ref = Map("q1_agg" -> 1.0, "q2_join" -> 1.0, "q3_zero" -> 0.0)
    assert(Bench.refDrift(times, ref) == Some(3.0))
    assert(Bench.refDrift(times, Map.empty) == None)
    assert(Bench.refDrift(Map.empty, ref) == None)
  }
}
