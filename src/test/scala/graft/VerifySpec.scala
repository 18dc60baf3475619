package graft

class VerifySpec extends SparkTestBase {

  test("dump returns the names of the entries that failed") {
    val empty = tempDir("graft-verify-in")
    val out = tempDir("graft-verify-out")
    // a directory with no tables: the entry's scan fails
    val failed = Verify.dump(spark, empty.toString, out.toString,
      only = Some(Set("q1_pricing_summary")))
    assert(failed == Seq("q1_pricing_summary"))
  }
}
