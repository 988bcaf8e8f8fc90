package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench]] failure accounting: an entry that throws is reported as
  * failed with its reason, and its time never reaches the per-entry map
  * or the total. */
class BenchSpec extends AnyFunSuite {

  private def boom(): Unit = {
    Thread.sleep(50)
    throw new IllegalStateException("planted \"failure\"\nsecond line")
  }

  test("a throwing entry is booked as failed, never timed") {
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val pass =
      try Bench.timePass(Seq("ok" -> (() => ()), "boom" -> (() => boom())))
      finally System.setErr(saved)
    assert(pass.times.keySet === Set("ok"))
    assert(pass.failed.keySet === Set("boom"))
    assert(pass.failed("boom") ===
      "java.lang.IllegalStateException: planted \"failure\"")
    assert(err.toString.contains("[bench] FAILED boom: " +
      "java.lang.IllegalStateException: planted"))
  }

  test("the report line lists failures apart from queries and total") {
    val out = Bench.report(Map("a" -> 1.25, "b" -> 2.0), Seq("boom"),
      0.5, 0.75, "sf0.1")
    assert(out === """{"metric":"total","value":3.25,"unit":"sec",""" +
      """"calib":[0.5,0.75],"queries":{"a":1.25,"b":2},""" +
      """"failed":["boom"],"sf":"sf0.1"}""")
  }

  test("the short-line guard holds with failures on the line") {
    val results = (1 to 400).map(i => f"q_some_long_entry_name_$i%04d" -> i * 0.01).toMap
    val failed = Seq("q_failed_one", "q_failed_two")
    val out = Bench.report(results, failed, 1.0, 1.0, "sf0.1")
    assert(out.length <= 1895)
    assert(out.contains(""""failed":["q_failed_one","q_failed_two"]"""))
    // the total still covers every completed entry, and the most
    // expensive entries are the ones kept
    assert(out.contains(s""""value":${Bench.fmt(results.values.sum, 2)},"""))
    assert(out.contains("q_some_long_entry_name_0400"))
    assert(!out.contains("q_some_long_entry_name_0001"))
    // with nothing but failures too long for the window, the line still fits
    val many = (1 to 200).map(i => f"q_failed_entry_with_a_long_name_$i%04d")
    assert(Bench.report(Map.empty, many, 1.0, 1.0, "sf0.1").length <= 1895)
  }
}
