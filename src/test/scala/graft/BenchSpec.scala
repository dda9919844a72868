package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("bench numbers print a decimal point under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(f"${1.5}%.3f" == "1,500", "precondition: the default locale formats with a comma")
      assert(Bench.num(1.5) == "1.500")
      assert(Bench.num(0.12345, 4) == "0.1235")
    } finally java.util.Locale.setDefault(saved)
  }
}
