package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's machine-read output stays valid JSON whatever the JVM's
  * default locale. */
class BenchSpec extends AnyFunSuite {

  test("per-query JSON line uses a '.' decimal separator under a " +
    "comma-decimal default locale and parses back as JSON") {
    val prev = java.util.Locale.getDefault
    val line =
      try {
        java.util.Locale.setDefault(java.util.Locale.GERMANY)
        // the locale really is comma-decimal for the f interpolator
        assert(f"${1.5}%.3f" == "1,500")
        Bench.queryLine("q_rank", 0.61234, Seq(0.5, 0.61234, 1.0))
      } finally java.util.Locale.setDefault(prev)
    assert(line == """{"q":"q_rank","med":0.612,"reps":[0.500,0.612,1.000]}""")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("q").asText == "q_rank")
    assert(node.get("med").asDouble == 0.612)
    assert(node.get("reps").size == 3 && node.get("reps").get(2).asDouble == 1.0)
  }
}
