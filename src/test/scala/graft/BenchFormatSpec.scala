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
}
