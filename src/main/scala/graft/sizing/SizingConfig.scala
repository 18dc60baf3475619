package graft.sizing

/** Engine configuration — the knobs the reference reads from its
  * `key=value` config file (sizing.conf:1–29, parsed at
  * impala_query_sizing.py:88–117).
  *
  * Quirk stances (SURVEY §2.10):
  *  - Q3: `cacheAdjustmentPct` is accepted but defaults to 100 (the
  *    reference reads it at py:102 and never applies it, py:235). The
  *    conf's `scratch_adjustment_pct` (conf:13) is never read by the
  *    reference, so it is not a knob here: the parser ignores it like
  *    any other key it does not know.
  *  - Q4: `vcoresLimited` is just `vcoresPerNode` (the per-query
  *    `min(vcores_per_node, avg_vcores)` is commented out at py:228–229).
  *  - Q8: `pool` is optional (the reference NameErrors in API mode when
  *    absent, py:116–117 vs 138).
  */
final case class SizingConfig(
    scratchGbPerNode: Double = 1000, // sizing.conf:15
    cacheGbPerNode: Double = 1000, // sizing.conf:16
    queryMemPerNode: Double = 200, // sizing.conf:17
    vcoresPerNode: Int = 16, // sizing.conf:18
    memAdjustmentPct: Double = 100, // sizing.conf:10
    cpuAdjustmentPct: Double = 80, // sizing.conf:12
    cacheAdjustmentPct: Double = 100, // Q3: read but never applied (py:235)
    mtDop: Int = 12, // sizing.conf:20
    podLimit: Int = 100, // sizing.conf:24
    pool: Option[String] = None, // sizing.conf:25 (optional; Q8)
    inputFile: Option[String] = None, // sizing.conf:28
    outputFile: String = "sizing_output.csv", // sizing.conf:22
    pruneOutputFile: String = "sizing_pruned.csv", // sizing.conf:23
    skipQueryFile: String = "skipped_queries.txt" // sizing.conf:26
) {

  /** Multithreading scaling factor: `round(0.93^(mt_dop-1) * mt_dop, 2)` —
    * computed once at config time (py:112); mt_dop=12 ⇒ 5.4.
    */
  def mtScalingFactor: Double =
    BigDecimal(math.pow(0.93, mtDop - 1) * mtDop)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** Q4 (py:228–230): the commented-out per-query min() means the parallel
    * factor is a config-time constant `max(mtScalingFactor, vcoresPerNode)`.
    */
  def parallelFactor: Double = math.max(mtScalingFactor, vcoresPerNode.toDouble)
}

object SizingConfig {

  /** The `key=value` pairs of the reference's flat config format
    * (py:88–92), in file order: one pair per line, `#` comments and blank
    * lines ignored, the value everything after the first `=`.
    */
  private def pairs(text: String): Seq[(String, String)] =
    text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
      .map { l =>
        val i = l.indexOf('=')
        l.take(i).trim -> l.drop(i + 1).trim
      }
      .toSeq

  /** Parse the reference's config format. A value that is not a number,
    * or a node size, `mt_dop` or `pod_limit` ≤ 0, is rejected with an
    * error naming the key and the value. Keys it does not read are
    * ignored (see [[unknownKeys]]).
    */
  def fromProperties(text: String): SizingConfig = read(pairs(text).toMap.get)

  /** The keys of `text` that [[fromProperties]] does not read, in file
    * order — a misspelt key silently leaves its setting at the default.
    */
  def unknownKeys(text: String): Seq[String] =
    pairs(text).map(_._1).distinct.filterNot(knownKeys)

  /** Every key [[read]] looks up, recorded by reading an empty config. */
  private lazy val knownKeys: Set[String] = {
    val seen = Set.newBuilder[String]
    read { k => seen += k; None }
    seen.result()
  }

  private def read(get: String => Option[String]): SizingConfig = {
    def num[N](k: String, dflt: N, parse: String => N): N =
      get(k).fold(dflt) { v =>
        try parse(v)
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$k=$v is not a number")
        }
      }
    def positive[N](k: String, dflt: N, parse: String => N)(
        implicit n: Numeric[N]): N = {
      val v = num(k, dflt, parse)
      require(n.gt(v, n.zero), s"$k=${get(k).getOrElse(v)} must be > 0")
      v
    }
    // an absent key keeps the case class's own default
    val d = SizingConfig()
    SizingConfig(
      scratchGbPerNode =
        positive("scratch_gb_per_node", d.scratchGbPerNode, _.toDouble),
      cacheGbPerNode =
        positive("cache_gb_per_node", d.cacheGbPerNode, _.toDouble),
      queryMemPerNode =
        positive("query_mem_per_node", d.queryMemPerNode, _.toDouble),
      vcoresPerNode = positive("vcores_per_node", d.vcoresPerNode, _.toInt),
      memAdjustmentPct =
        num("mem_adjustment_pct", d.memAdjustmentPct, _.toDouble),
      cpuAdjustmentPct =
        num("cpu_adjustment_pct", d.cpuAdjustmentPct, _.toDouble),
      cacheAdjustmentPct =
        num("cache_adjustment_pct", d.cacheAdjustmentPct, _.toDouble),
      mtDop = positive("mt_dop", d.mtDop, _.toInt),
      podLimit = positive("pod_limit", d.podLimit, _.toInt),
      pool = get("pool").filter(_.nonEmpty),
      inputFile = get("input_file").filter(_.nonEmpty),
      outputFile = get("output_file").getOrElse(d.outputFile),
      pruneOutputFile = get("prune_output_file").getOrElse(d.pruneOutputFile),
      skipQueryFile = get("skip_query_file").getOrElse(d.skipQueryFile)
    )
  }
}
