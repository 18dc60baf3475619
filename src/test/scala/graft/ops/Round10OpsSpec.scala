package graft.ops

import graft.SparkTestBase

/** Round-10 operators: brute-force references for PageRank, PPS
  * sampling, winsorization, interval union, char entropy and BM25, plus
  * the JSONL round-trip checksum on adversarial strings and the q108
  * plan shape.
  */
class Round10OpsSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  // --- PageRank vs sequential reference ------------------------------------

  /** Sequential replay of Graph.pageRank's pinned integer recurrence. */
  private def brutePr(edges: Seq[(String, String, Long)], iters: Int,
      scale: Long = 1000000000000L, dPct: Int = 85): Map[String, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val outw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val base = ((scale / nodes.size) * (100 - dPct)) / 100
    var r = nodes.map(_ -> scale / nodes.size).toMap
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      edges.foreach { case (s, t, w) =>
        in(t) += (r(s) * w) / outw(s)
      }
      r = nodes.map(v => v -> (base + (in(v) * dPct) / 100)).toMap
    }
    r
  }

  private def runPr(edges: Seq[(String, String, Long)], iters: Int)
      : Map[String, Long] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("pageRank matches the sequential integer recurrence") {
    val g = Seq(
      ("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L),
      ("c", "a", 5L), ("d", "a", 1L), ("b", "d", 1L))
    assert(runPr(g, 3) == brutePr(g, 3))
    assert(runPr(g, 1) == brutePr(g, 1))
  }

  test("pageRank handles dangling and sink-only nodes") {
    // e has no out-edges (dangling: leaks mass); f only receives
    val g = Seq(("a", "e", 2L), ("b", "f", 1L), ("a", "b", 1L))
    assert(runPr(g, 3) == brutePr(g, 3))
  }

  test("pageRank rank mass is conserved minus dangling/floor leakage") {
    val g = Seq(("a", "b", 1L), ("b", "a", 1L), ("b", "c", 2L),
      ("c", "a", 7L))
    val total = runPr(g, 3).values.sum
    // no dangling nodes here: loss is floor-only, ≤ (edges+nodes) units
    // per round at 1e12 scale
    assert(total <= 1000000000000L && total > 1000000000000L - 1000L)
  }

  // --- PPS sample: exactly the k smallest integer priorities --------------

  test("q108 returns exactly the k smallest hash-div-weight priorities") {
    val got = graft.SparkEntry.queries("q108_pps_sample")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    val docs = graft.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id",
        s"${Dialect.sparkHash60("CAST(doc_id AS STRING)")} " +
          "div greatest(n_chars, 1L) AS p")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = docs.sortBy { case (id, p) => (p, id) }.take(got.length)
    assert(got.sortBy(_._1).toSeq == expect.sortBy(_._1).toSeq)
    assert(got.length == 25)
  }

  test("q108 k-smallest select compiles to TakeOrderedAndProject") {
    val plan = graft.SparkEntry.queries("q108_pps_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  // --- Winsorization vs in-memory reference --------------------------------

  test("q109 winsorization matches an in-memory clip per group") {
    val rows = graft.SparkEntry.queries("q109_winsorize")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
          r.getLong(5), r.getDouble(6))).toMap
    val data = graft.Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
      .groupBy(_._1)
    data.foreach { case (flag, rs) =>
      val sorted = rs.sortBy(t => (t._2, t._3, t._4)).map(_._2)
      val n = sorted.length
      val klo = (n * 5) / 100 + 1
      val khi = n - (n * 5) / 100
      val (lo, hi) = (sorted(klo - 1), sorted(khi - 1))
      val wins = sorted.map(v => math.min(math.max(v, lo), hi))
      val sum = wins.map(v => BigDecimal(v)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
      val (gn, glo, ghi, gcl, gch, gsum) = rows(flag)
      assert(gn == n && glo == lo && ghi == hi)
      assert(gcl == klo - 1 && gch == n - khi)
      assert(math.abs(gsum - sum.toDouble) < 1e-6)
    }
  }

  // --- Interval union vs sequential sweep ----------------------------------

  test("q113 interval union matches a sequential merge per user") {
    val got = graft.SparkEntry.queries("q113_interval_merge")(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val ivs = graft.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "ts div 1000 AS s",
        "ts div 1000 + CAST(floor(value * 60000000.0) AS BIGINT) AS e")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    ivs.foreach { case (u, rs) =>
      val sorted = rs.map(t => (t._2, t._3)).sortBy(identity)
      val islands = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      sorted.foreach { case (s, e) =>
        if (islands.nonEmpty && s <= islands.last._2)
          islands(islands.length - 1) =
            (islands.last._1, math.max(islands.last._2, e))
        else islands += ((s, e))
      }
      val (gn, gni, gcov, gmax) = got(u)
      assert(gn == rs.length, s"user $u n_events")
      assert(gni == islands.length, s"user $u n_islands")
      assert(gcov == islands.map(i => i._2 - i._1).sum, s"user $u covered")
      assert(gmax == islands.map(i => i._2 - i._1).max, s"user $u max")
    }
  }

  // --- Char entropy vs direct formula --------------------------------------

  test("q111 entropy stats match the direct per-doc formula") {
    val got = graft.SparkEntry.queries("q111_char_entropy")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def entropyMilli(text: String): Long = {
      val cs = text.filterNot(_ == '\n')
      val n = cs.length.toDouble
      cs.groupBy(identity).values.map { g =>
        val c = g.length.toDouble
        math.floor((c / n) * math.log(n / c) * 1000).toLong
      }.sum
    }
    docs.groupBy(_._1).foreach { case (src, ds) =>
      val es = ds.map(d => entropyMilli(d._2))
      val (gn, gmin, gmax, gsum, glow) = got(src)
      assert(gn == ds.length && gmin == es.min && gmax == es.max)
      assert(gsum == es.sum && glow == es.count(_ < 2500))
    }
  }

  // --- BM25 vs direct formula ----------------------------------------------

  test("q106 BM25 scores match the direct formula") {
    val terms = Seq("spark", "query", "vector", "customer")
    val docs = graft.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "regexp_extract_all(text, '[a-z]+', 0) AS toks")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
    val n = docs.length.toLong
    val total = docs.map(_._2.length.toLong).sum
    val dfs = terms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    def score(toks: Seq[String]): Long = terms.map { t =>
      val tf = toks.count(_ == t).toDouble
      val df = dfs(t)
      val idf = math.log(((n - df).toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)
      val dl = toks.length.toDouble
      math.floor(idf * (tf * 2.2)
        / (tf + 1.2 * (0.25 + 0.75 * (dl * n / total))) * 1000).toLong
    }.sum
    val expect = docs.map { case (id, toks) => id -> score(toks) }.toMap
    val got = graft.SparkEntry.queries("q106_bm25")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(3))
    assert(got.nonEmpty)
    got.foreach { case (id, s) => assert(s == expect(id), s"doc $id") }
    // the limit keeps the TOP scores: nothing outside beats anything inside
    val kept = got.map(_._1).toSet
    val worstKept = got.map(_._2).min
    expect.collect { case (id, s) if !kept.contains(id) =>
      assert(s <= worstKept) }
  }

  // --- MAD outliers vs direct computation ----------------------------------

  test("q115 median/MAD/outlier counts match a direct per-group replay") {
    val got = graft.SparkEntry.queries("q115_mad_outliers")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val rows = graft.Tables.load(spark, sf, "events")
      .selectExpr("event_type", "CAST(floor(value * 100) AS BIGINT) AS v")
      .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    rows.foreach { case (t, vs) =>
      val v = vs.map(_._2).sorted
      val med = v((v.length + 1) / 2 - 1)
      val dev = v.map(x => math.abs(x - med)).sorted
      val mad = dev((dev.length + 1) / 2 - 1)
      val nOut = v.count(x => math.abs(x - med) * 6745 > mad * 35000)
      val (gn, gmed, gmad, gout) = got(t)
      assert(gn == v.length && gmed == med && gmad == mad, s"type $t")
      assert(gout == nOut, s"type $t outliers")
      assert(nOut > 0, s"type $t: degenerate fixture, nothing flagged")
    }
  }

  // --- Funnel vs sequential per-user replay --------------------------------

  test("q117 funnel stages match a sequential per-user replay") {
    val W = 24L * 3600L * 1000000L
    val ev = graft.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "event_type", "ts div 1000 AS ts_us")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    case class U(t1: Option[Long], t2: Option[Long], t3: Option[Long])
    val users = ev.map { case (u, es) =>
      def firstIn(tpe: String, after: Option[Long]): Option[Long] =
        after.flatMap { a =>
          val c = es.filter(e => e._2 == tpe && e._3 > a && e._3 <= a + W)
          if (c.isEmpty) None else Some(c.map(_._3).min)
        }
      val t1 = { val v = es.filter(_._2 == "view"); if (v.isEmpty) None
        else Some(v.map(_._3).min) }
      val t2 = firstIn("click", t1)
      val t3 = firstIn("purchase", t2)
      u -> U(t1, t2, t3)
    }
    val byCohort = users.values.filter(_.t1.isDefined)
      .groupBy(u => u.t1.get / 604800000000L)
    val got = graft.SparkEntry.queries("q117_funnel")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == byCohort.keySet)
    byCohort.foreach { case (w, us) =>
      val (gv, gc, gp) = got(w)
      assert(gv == us.size, s"week $w n_view")
      assert(gc == us.count(_.t2.isDefined), s"week $w n_click")
      assert(gp == us.count(_.t3.isDefined), s"week $w n_purchase")
    }
    // the window constraint must actually drop users (else the fixture
    // proves nothing about the 24 h bound)
    val all = users.values.toSeq
    assert(all.count(_.t2.isDefined) < all.count(_.t1.isDefined))
  }

  // --- Cohort retention vs direct replay -----------------------------------

  test("q116 retention matches a direct per-cohort replay") {
    val ev = graft.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "event_type", "ts div 1000 div 86400000000 AS d")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val cohort = ev.groupBy(_._1).map { case (u, es) =>
      u -> es.map(_._3).min / 7 }
    val active = ev.filter(_._2 == "purchase")
      .map(e => (e._1, e._3 / 7)).distinct
    val expect = active.groupBy { case (u, w) => (cohort(u), w - cohort(u)) }
      .map { case (k, us) => k -> us.size }
    val got = graft.SparkEntry.queries("q116_cohort_retention")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == expect.keySet)
    val sizes = cohort.values.groupBy(identity).map { case (w, xs) => w -> xs.size }
    expect.foreach { case ((cw, off), n) =>
      val (gn, gsz, gpm) = got((cw, off))
      assert(gn == n && gsz == sizes(cw) && gpm == n * 1000L / sizes(cw),
        s"cohort $cw offset $off")
    }
  }

  // --- Corpus shuffle vs sequential replay ---------------------------------

  test("q118 shard stats match a sequential shuffle replay") {
    val docs = graft.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "n_chars",
        s"${Dialect.sparkHash60("concat(CAST(doc_id AS STRING), ':shuffle')")} AS p")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent JVM replay of the 60-bit md5 fold (no Spark expression
    // reuse — the point is a third implementation of the contract)
    def h60(x: String): Long = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      .foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))
    val expect = docs.groupBy(_._3 % 8).map { case (shard, ds) =>
      val ordered = ds.sortBy(d => (d._3, d._1))
      val checksum = ordered.zipWithIndex
        .map { case (d, i) => h60(s"${i + 1}:${d._1}") }.reduce(_ ^ _)
      shard -> (ds.length.toLong, ds.map(_._2).sum,
        ds.map(_._3).min, ds.map(_._3).max, checksum)
    }
    val got = graft.SparkEntry.queries("q118_corpus_shuffle")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (s, e) => assert(got(s) == e, s"shard $s") }
    // every shard populated: the hash really spreads the corpus
    assert(got.keySet == (0L until 8L).toSet)
  }

  test("q118 runs in ONE shuffle (window and aggregate share the shard key)") {
    val plan = graft.SparkEntry.queries("q118_corpus_shuffle")(spark, sf)
      .queryExecution.executedPlan.toString
    val nExchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
    assert(nExchanges == 1, s"expected 1 shuffle, plan:\n${plan.take(800)}")
  }

  // --- q110 doc-side join stays broadcast ----------------------------------

  test("q110's corpus-side join broadcasts the shared-gram set") {
    // the scale contract: the doc-gram stream (corpus-sized) must never
    // shuffle for the shared-gram join — the hint pins a BroadcastHashJoin
    // regardless of AQE's size estimate
    val plan = graft.SparkEntry.queries("q110_overlap_matrix")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"no broadcast join in q110 plan:\n${plan.take(1200)}")
  }

  // --- PMI vs direct formula -----------------------------------------------

  test("q119 PMI matches the direct formula and keeps only top bigrams") {
    val toks = graft.Tables.load(spark, sf, "documents")
      .selectExpr("regexp_extract_all(text, '[a-z]+', 0) AS t")
      .collect().map(_.getSeq[String](0))
    val uni = toks.flatten.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val bigs = toks.filter(_.length >= 2)
      .flatMap(t => t.zip(t.tail))
    val nb = bigs.length.toLong
    val bc = bigs.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
      .filter(_._2 >= 3)
    val pmi = bc.map { case ((w1, w2), c12) =>
      (w1, w2) -> math.floor(math.log(
        c12.toDouble * nb / (uni(w1) * uni(w2))) * 1000).toLong
    }
    val got = graft.SparkEntry.queries("q119_pmi_collocations")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3)))
    assert(got.length == math.min(50, pmi.size))
    got.foreach { case (k, (c12, p)) =>
      assert(bc(k) == c12 && pmi(k) == p, s"bigram $k") }
    // nothing outside the kept set strictly beats the weakest kept row
    // under the (pmi, w1, w2) total order
    val keptKeys = got.map(_._1).toSet
    val worst = got.map { case ((w1, w2), (_, p)) => (-p, w1, w2) }.max
    pmi.collect { case ((w1, w2), p) if !keptKeys.contains((w1, w2)) =>
      assert(Ordering[(Long, String, String)].gt((-p, w1, w2), worst)) }
  }

  // --- JSONL round trip on adversarial strings -----------------------------

  test("JSONL round trip preserves quotes, newlines, unicode, backslashes") {
    import spark.implicits._
    val nasty = Seq(
      (1L, "plain", "a"),
      (2L, "quote\" and 'single'", "a"),
      (3L, "back\\slash\\n literal", "b"),
      (4L, "tab\there, newline\nthere", "b"),
      (5L, "unicode: café 中文 😀  ctl", "c"),
      (6L, "", "c"))
    val df = nasty.toDF("id", "text", "g")
    val key = "concat_ws('|', CAST(id AS STRING), text)"
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl-spec-")
    try {
      df.write.mode("overwrite").json(s"$tmp/j")
      val back = spark.read.schema(df.schema).json(s"$tmp/j")
      val a = Temporal.tableChecksum(df, key, Seq("g")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      val b = Temporal.tableChecksum(back, key, Seq("g")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(a.toSeq == b.toSeq)
    } finally graft.Fs.deleteRecursively(tmp)
  }
}
