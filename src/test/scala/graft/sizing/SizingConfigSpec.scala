package graft.sizing

import org.scalatest.funsuite.AnyFunSuite

/** Config loader (SURVEY §2.1 S1) — the reference's flat key=value format
  * (impala_query_sizing.py:88–117) and its derived constants.
  */
class SizingConfigSpec extends AnyFunSuite {

  test("defaults reproduce sizing.conf") {
    val c = SizingConfig()
    assert(c.cacheGbPerNode == 1000)
    assert(c.queryMemPerNode == 200)
    assert(c.vcoresPerNode == 16)
    assert(c.podLimit == 100)
    assert(c.pool.isEmpty)
  }

  test("an empty config reads as the case class's defaults") {
    assert(SizingConfig.fromProperties("") == SizingConfig())
  }

  test("mt scaling factor: mt_dop=12 => 5.4 (py:112)") {
    assert(SizingConfig(mtDop = 12).mtScalingFactor == 5.4)
    assert(SizingConfig(mtDop = 1).mtScalingFactor == 1.0)
  }

  test("parallel factor = max(mtScalingFactor, vcores) (Q4)") {
    assert(SizingConfig().parallelFactor == 16.0)
    assert(SizingConfig(vcoresPerNode = 2).parallelFactor == 5.4)
  }

  test("fromProperties parses key=value with comments and blanks") {
    val c = SizingConfig.fromProperties(
      """# a comment
        |
        |cache_gb_per_node=500
        |pod_limit = 42
        |pool=etl
        |input_file=
        |""".stripMargin)
    assert(c.cacheGbPerNode == 500)
    assert(c.podLimit == 42)
    assert(c.pool.contains("etl"))
    assert(c.inputFile.isEmpty) // empty value => unset (Q8 optionality)
  }

  test("values containing '=' keep everything after the first separator") {
    val c = SizingConfig.fromProperties("pool=a=b")
    assert(c.pool.contains("a=b"))
  }

  test("fromProperties names the key and value of a number that does not parse") {
    val e = intercept[IllegalArgumentException](
      SizingConfig.fromProperties("vcores_per_node=abc"))
    assert(e.getMessage.contains("vcores_per_node=abc"))
    val d = intercept[IllegalArgumentException](
      SizingConfig.fromProperties("mem_adjustment_pct=lots"))
    assert(d.getMessage.contains("mem_adjustment_pct=lots"))
  }

  test("fromProperties rejects node sizes, mt_dop and pod_limit <= 0") {
    for {
      k <- Seq("vcores_per_node", "mt_dop", "pod_limit",
        "scratch_gb_per_node", "cache_gb_per_node", "query_mem_per_node")
      v <- Seq("0", "-1")
    } {
      val e = intercept[IllegalArgumentException](
        SizingConfig.fromProperties(s"$k=$v"))
      assert(e.getMessage.contains(s"$k=$v"))
    }
    assert(SizingConfig.fromProperties("pod_limit=1").podLimit == 1)
  }

  test("unknownKeys names the keys fromProperties does not read") {
    val text =
      """# node sizes
        |vcores_per_nod=8
        |pod_limit=42
        |scratch_adjustment_pct=100
        |vcores_per_nod=9
        |input_file=
        |""".stripMargin
    assert(SizingConfig.unknownKeys(text) ==
      Seq("vcores_per_nod", "scratch_adjustment_pct"))
    // the misspelt key leaves its setting at the default
    assert(SizingConfig.fromProperties(text).vcoresPerNode == 16)
    assert(SizingConfig.unknownKeys(Seq("scratch_gb_per_node",
      "cache_gb_per_node", "query_mem_per_node", "vcores_per_node",
      "mem_adjustment_pct", "cpu_adjustment_pct", "cache_adjustment_pct",
      "mt_dop", "pod_limit", "pool", "input_file", "output_file",
      "prune_output_file", "skip_query_file").map(k => s"$k=1")
      .mkString("\n")).isEmpty)
  }
}
