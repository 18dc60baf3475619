package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins [[Dedup.sortedNeighborhoodJoin]] (q219) and
  * [[Dedup.blockingQuality]] (q220) on hand-computable fixtures plus a
  * brute-force twin on the real sf0.001 corpus.
  */
class BlockingSpec extends SparkTestBase {

  import spark.implicits._

  // ------------------------- sorted neighborhood --------------------------

  private def snm(docs: org.apache.spark.sql.DataFrame, w: Int, t: Int) =
    Dedup.sortedNeighborhoodJoin(docs, "doc_id", "k", "tk", w, t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** Brute-force twin: single-partition row_number, every in-window pair. */
  private def snmBrute(docs: org.apache.spark.sql.DataFrame,
      w: Int, t: Int): Set[(Long, Long, Long)] = {
    val ranked = docs.filter(size(col("tk")) > 0)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("k"), col("doc_id"))))
      .select("doc_id", "tk", "rn")
      .collect().map(r => (r.getLong(0),
        r.getSeq[String](1).toSet, r.getInt(2)))
    (for {
      a <- ranked; b <- ranked
      if b._3 > a._3 && b._3 <= a._3 + (w - 1)
      ov = (a._2 & b._2).size.toLong
      un = a._2.size.toLong + b._2.size - ov
      if 1000L * ov >= t.toLong * un
    } yield (math.min(a._1, b._1), math.max(a._1, b._1),
      (1000L * ov) / un)).toSet
  }

  test("window pairs match the brute-force single-window twin (fixture)") {
    val docs = Seq(
      (1L, "alpha beta", Seq("alpha", "beta", "gamma")),
      (2L, "alpha beta", Seq("alpha", "beta", "gamma", "delta")),
      (3L, "alpha zeta", Seq("alpha", "zeta")),
      (4L, "mid key", Seq("unrelated", "tokens")),
      (5L, "zz top", Seq("alpha", "beta", "gamma")), // far key: invisible
      (6L, "", Seq.empty[String])) // empty tokens: dropped
      .toDF("doc_id", "k", "tk")
    val got = snm(docs, 3, 500)
    assert(got === snmBrute(docs, 3, 500))
    // 1-2 share 3 of 4 tokens (750) and sort adjacent; 1-5 identical
    // tokens but keys sort >2 apart under window 3 — the SNM recall trade
    assert(got.contains((1L, 2L, 750L)))
    assert(!got.exists(p => p._1 == 1L && p._2 == 5L))
  }

  test("real corpus: PrefixSum rank ≡ global window rank (w=8, t=500)") {
    val toks = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        array_join(slice(
          expr("regexp_extract_all(text, '[a-z]+', 0)"), 1, 3), " ").as("k"),
        array_distinct(
          expr("regexp_extract_all(text, '[a-z]+', 0)")).as("tk"))
    val got = snm(toks, 8, 500)
    assert(got === snmBrute(toks, 8, 500))
    assert(got.nonEmpty, "fixture must exercise the join")
  }

  test("window must be >= 2") {
    val docs = Seq((1L, "a", Seq("a"))).toDF("doc_id", "k", "tk")
    intercept[IllegalArgumentException] {
      Dedup.sortedNeighborhoodJoin(docs, window = 1)
    }
  }

  // ------------------------ multi-pass SNM (q226) -------------------------

  test("q226: pass 2 adds pairs pass 1 missed, and the union lifts " +
      "the completeness curve") {
    val dir = "/root/testdata/sf0.001"
    def pass(first: Int) = {
      val toks = graft.Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          array_join(slice(
            expr("regexp_extract_all(text, '[a-z]+', 0)"), first, 3),
            " ").as("k"),
          array_distinct(
            expr("regexp_extract_all(text, '[a-z]+', 0)")).as("tk"))
      Dedup.sortedNeighborhoodJoin(toks, "doc_id", "k", "tk", 8, 50)
        .select("d1", "d2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val p1 = pass(1)
    val p2 = pass(4) // tokens 4-6: the second sort discipline
    assert((p2 -- p1).nonEmpty,
      "pass 2 must catch pairs the pass-1 sort order hides")
    // the battery entry's curve: union never loses a caught pair and
    // strictly lifts the total row
    val curve = graft.SparkEntry.queries("q226_snb_multipass")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2),
        r.getLong(3))).toMap
    curve.keys.filter(_._1 == "pass1").map(_._2).foreach { b =>
      val (t1, c1) = curve(("pass1", b))
      val (tu, cu) = curve(("union", b))
      assert(t1 === tu, s"truth differs per pass at bucket $b")
      assert(cu >= c1, s"union lost pairs at bucket $b")
    }
    assert(curve(("union", -1L))._2 > curve(("pass1", -1L))._2,
      "union must strictly lift total caught")
  }

  // --------------------- incremental SNM index (q227) ---------------------

  test("q227: index probe equals the sequential insertion twin") {
    val dir = "/root/testdata/sf0.001"
    val toks = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        array_join(slice(
          expr("regexp_extract_all(text, '[a-z]+', 0)"), 1, 3),
          " ").as("k"),
        array_distinct(
          expr("regexp_extract_all(text, '[a-z]+', 0)")).as("tk"))
      .filter(size(col("tk")) > 0)
    val rows = toks.collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getSeq[String](2).toSet))
    val corpus = rows.filter(_._1 % 10 != 0)
      .sortBy(r => (r._2, r._1)).zipWithIndex
      .map { case ((id, k, tk), i) => (id, k, tk, i + 1L) } // rank
    val w = 8
    val want = rows.filter(_._1 % 10 == 0).map { case (qid, qk, qtk) =>
      val ins = corpus.count(c => c._2 < qk ||
        (c._2 == qk && c._1 < qid))
      val mates = corpus.filter(c =>
        c._4 >= ins - (w - 2) && c._4 <= ins + (w - 1))
      if (mates.isEmpty) (qid, 0L, None: Option[(Long, Long)])
      else {
        val best = mates.map { c =>
          val ov = (qtk & c._3).size.toLong
          val un = qtk.size.toLong + c._3.size - ov
          ((1000L * ov) / un, c._1)
        }.minBy { case (j, id) => (-j, id) }
        (qid, mates.length.toLong, Some((best._2, best._1)))
      }
    }.map { case (qid, n, b) =>
      qid -> ((n, b.map(_._1), b.map(_._2),
        b.exists(_._2 >= 500L)))
    }.toMap
    val idxDir = tempDir("snb-spec").toString
    Dedup.snbIndexBuild(toks.filter(col("doc_id") % 10 =!= 0), idxDir)
    val got = Dedup.snbIndexProbe(spark, idxDir,
        toks.filter(col("doc_id") % 10 === 0))
      .collect().map { r =>
        r.getLong(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getBoolean(4)))
      }.toMap
    assert(got === want)
    assert(got.nonEmpty && got.values.exists(_._1 > 0L),
      "fixture must exercise the window join")
  }

  test("q227: probe output is key-width invariant (b = 2/3/4), and " +
      "sparse carries equal the dense twin at b=2") {
    val dir = "/root/testdata/sf0.001"
    val toks = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        array_join(slice(
          expr("regexp_extract_all(text, '[a-z]+', 0)"), 1, 3),
          " ").as("k"),
        array_distinct(
          expr("regexp_extract_all(text, '[a-z]+', 0)")).as("tk"))
      .filter(size(col("tk")) > 0)
    val corpus = toks.filter(col("doc_id") % 10 =!= 0)
    val batch = toks.filter(col("doc_id") % 10 === 0)
    def probeAt(b: Int): Map[Long, Seq[Any]] = {
      val idxDir = tempDir(s"snb-width-$b").toString
      Dedup.snbIndexBuild(corpus, idxDir, keyBytes = b)
      Dedup.snbIndexProbe(spark, idxDir, batch)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    }
    val at2 = probeAt(2)
    assert(at2.nonEmpty)
    assert(at2 === probeAt(3), "b=2 vs b=3 diverge")
    assert(at2 === probeAt(4), "b=3 vs b=4 diverge")
    // dense-carry twin at b=2: enumerate ALL 65,536 buckets (the r16
    // design), derive each probe's carry from it, and pin equality
    // against the rank the sparse-carry probe must have used —
    // reconstructed as ins = rank of the nearest window mate minus its
    // offset is overkill; instead recompute carries sparsely here and
    // compare table-to-table.
    val idxDir = tempDir("snb-dense-twin").toString
    Dedup.snbIndexBuild(corpus, idxDir, keyBytes = 2)
    val hist = spark.read.parquet(s"$idxDir/hist")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val denseCarry = (0L until 65536L).scanLeft((0L, 0L)) {
      case ((_, acc), kb) => (kb, acc + hist.getOrElse(kb - 1, 0L))
    }.drop(1).toMap // dense exclusive prefix over the full 2-byte space
    val probeKbs = batch.collect().map { r =>
      val k = r.getString(1)
      def at(i: Int): Long =
        if (k.length > i) k.charAt(i).toLong else 0L
      r.getLong(0) -> (at(0) * 256 + at(1))
    }
    // sparse carries via the production path: build a probe plan and
    // read back the per-bucket carry it joins on
    val sparse = {
      val probes = batch
        .select(col("doc_id").as("qid"), col("k").as("qk"))
        .withColumn("__kb",
          ascii(substring(col("qk"), 1, 1)).cast("long") * 256 +
            ascii(substring(col("qk"), 2, 1)).cast("long"))
      val sentinels = probes.select(col("__kb")).distinct()
        .withColumn("cnt", lit(0L)).withColumn("__src", lit(0))
      val histRows = spark.read.parquet(s"$idxDir/hist")
        .select(col("__kb"), col("cnt"), lit(1).as("__src"))
      graft.plans.PrefixSum.scan(
          sentinels.unionByName(histRows), "__kb",
          Seq(col("__kb"), col("__src")), Seq(("cnt", "__cum")))
        .filter(col("__src") === 0)
        .select(col("__kb"), col("__cum"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(probeKbs.nonEmpty)
    probeKbs.foreach { case (qid, kb) =>
      assert(sparse(kb) === denseCarry(kb),
        s"carry mismatch at bucket $kb (probe $qid)")
    }
  }

  // --------------------------- blocking quality ---------------------------

  test("completeness curve: caught <= truth, exact dups always caught") {
    val sigs = Dedup.minHashSignatures(
      graft.Tables.load(spark, "/root/testdata/sf0.001", "documents"))
      .persist()
    val out = Dedup.blockingQuality(sigs, Dedup.lshCandidates(sigs),
        samplePred = lit(true), tMilli = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    val total = out.filter(_._1 == -1L)
    assert(total.length === 1, "exactly one total row")
    assert(total.head._2 > 0, "fixture must have sampled truth pairs")
    out.foreach { case (_, t, c, comp) =>
      assert(c <= t, "caught exceeds truth")
      assert(comp <= 1000L)
    }
    // identical shingle sets → identical signatures → same band keys →
    // always a candidate: the bucket-10 decile must sit at 1000
    out.filter(_._1 == 10L).foreach { case (_, t, c, _) =>
      assert(c === t, "an exact duplicate escaped the banding")
    }
    // buckets sum to the total row
    val bs = out.filter(_._1 >= 0L)
    assert(bs.map(_._2).sum === total.head._2)
    assert(bs.map(_._3).sum === total.head._3)
    sigs.unpersist()
  }

  test("empty sampled truth yields the -1 sentinel total row") {
    val sigs = Seq((10L, Seq("a", "b")), (20L, Seq("x", "y")))
      .toDF("doc_id", "sh")
    val cand = Seq.empty[(Long, Long)].toDF("d1", "d2")
    // the two sampled docs share nothing: truth is empty
    val out = Dedup.blockingQuality(sigs, cand,
        samplePred = col("doc_id") % 10 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((-1L, 0L, 0L, -1L)))
  }
}
