package graft

import graft.sizing.{Bucketing, Concurrency}
import graft.plans.PrefixSum
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY §5.2) using raw scalacheck
  * generators over fixed seeds (no scalatest bridge in the offline
  * dependency set): bucketing totality/monotonicity, prefix-scan vs
  * sequential fold, sweep-line vs brute-force interval overlap.
  */
class PropertiesSpec extends SparkTestBase {

  /** Deterministic samples of `gen`, one per seed. */
  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val labels = Seq("XSMALL", "SMALL", "MEDIUM", "LARGE", "CUSTOM")

  test("bucketing is total and monotone over arbitrary pod counts") {
    import spark.implicits._
    samples(Gen.listOfN(60, Gen.chooseNum(0L, 100000L)), 6).foreach { pods =>
      val got = pods.toDF("p")
        .select(col("p"), Bucketing.tsize(col("p")).as("t"))
        .collect().map(r => r.getLong(0) -> r.getString(1))
      // total: every value gets a label
      assert(got.forall { case (_, t) => labels.contains(t) })
      // monotone: label index never decreases as pods increase
      val sorted = got.sortBy(_._1).map { case (_, t) => labels.indexOf(t) }
      assert(sorted.zip(sorted.drop(1)).forall { case (a, b) => a <= b })
    }
  }

  test("prefix scan equals sequential fold on arbitrary deltas") {
    import spark.implicits._
    val gen = Gen.listOfN(120,
      Gen.zip(Gen.chooseNum(0L, 40L), Gen.chooseNum(-9L, 9L)))
    samples(gen, 6).foreach { rows =>
      val df = rows.zipWithIndex
        .map { case ((ts, d), i) => (ts, i.toLong, d) }
        .toDF("ts", "id", "delta").repartition(3)
      val got = PrefixSum
        .scan(df, "ts", Seq(col("ts"), col("id")), Seq("delta" -> "run"))
        .select("ts", "id", "run").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
      var acc = 0L
      val want = rows.zipWithIndex
        .map { case ((ts, d), i) => (ts, i.toLong, d) }
        .sortBy(t => (t._1, t._2))
        .map { case (ts, id, d) => acc += d; (ts, id, acc) }
      assert(got.toSeq == want)
    }
  }

  test("tableChecksum is invariant under permutation and partitioning") {
    import spark.implicits._
    val gen = Gen.listOfN(50,
      Gen.zip(Gen.chooseNum(0L, 30L), Gen.alphaLowerStr.map(_.take(6)),
        Gen.oneOf("g", "h")))
    samples(gen, 5).foreach { rows =>
      val df = rows.toDF("id", "s", "grp")
      val key = "concat_ws('|', CAST(id AS STRING), s)"
      def sums(d: org.apache.spark.sql.DataFrame) =
        ops.Temporal.tableChecksum(d, key, Seq("grp"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val base = sums(df)
      // any row order, any partitioning → identical checksums
      assert(sums(df.orderBy(col("s").desc, col("id"))) == base)
      assert(sums(df.repartition(7)) == base)
      // flipping one row's content flips exactly that group's checksum
      val flipped = rows.zipWithIndex
        .map { case ((i, s, g), idx) =>
          if (idx == 0) (i, s + "!", g) else (i, s, g) }
        .toDF("id", "s", "grp")
      val grp0 = rows.head._3
      assert(sums(flipped)(grp0)._2 != base(grp0)._2)
    }
  }

  test("fuzzyNamePairs equals brute-force all-pairs on arbitrary vocab") {
    import spark.implicits._
    val word = Gen.listOfN(6, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    val gen = Gen.listOfN(25, Gen.zip(word, word).map { case (a, b) =>
      s"$a $b" })
    samples(gen, 5).foreach { names =>
      val got = ops.Dedup.fuzzyNamePairs(names.toDF("nm"), "nm")
        .select("name_a", "name_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      def grams(s: String) =
        (0 to s.length - 3).map(i => s.substring(i, i + 3)).toSet
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val vocab = names.distinct
      val want = (for {
        a <- vocab; b <- vocab
        if a < b && grams(a).intersect(grams(b)).size >= 2 && lev(a, b) <= 3
      } yield (a, b)).toSet
      assert(got == want, s"names=$names\n got=$got\n want=$want")
    }
  }

  test("gapFill filled equals a sequential LOCF scan on arbitrary series") {
    import spark.implicits._
    val gen = Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(-300L, 600L),
        Gen.chooseNum(0.0, 9.0)))
    samples(gen, 5).foreach { raw =>
      val rows = raw.zipWithIndex.map { case ((k, t, v), i) =>
        (k, t, i.toLong, math.rint(v * 100) / 100) }
      val got = ops.Temporal.gapFill(rows.toDF("k", "t", "rid", "v"),
        keyCol = "k", tsCol = "t", valCol = "v", idCol = "rid",
        bucketUs = 100L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(4))).toMap
      rows.groupBy(_._1).foreach { case (k, evs) =>
        def bucket(t: Long) = Math.floorDiv(t, 100L)
        val byBucket = evs.groupBy(e => bucket(e._2))
        val (b0, b1) = (byBucket.keys.min, byBucket.keys.max)
        var carry = Double.NaN
        (b0 to b1).foreach { b =>
          val here = byBucket.getOrElse(b, Nil)
          if (here.nonEmpty)
            carry = here.maxBy(e => (e._2, e._3))._4 // latest (ts, id) wins
          val (n, filled) = got((k, b))
          assert(n == here.size.toLong, s"k=$k b=$b")
          assert(filled == carry, s"k=$k b=$b got=$filled want=$carry")
        }
      }
    }
  }

  test("grouped prefix scan equals a per-group sequential fold") {
    import spark.implicits._
    // interleaved groups (incl. null) over a shared key domain — carries
    // must chain within a group only, across any partitioning
    val gen = Gen.listOfN(150,
      Gen.zip(Gen.oneOf("x", "y", "z", null), Gen.chooseNum(0L, 50L),
        Gen.chooseNum(-9L, 9L)))
    samples(gen, 5).foreach { raw =>
      val rows = raw.zipWithIndex.map { case ((g, ts, d), i) =>
        (g, ts, i.toLong, d) }
      val got = PrefixSum.scan(
          rows.toDF("g", "ts", "id", "delta").repartition(4),
          "ts", Seq(col("ts"), col("id")), Seq("delta" -> "run"),
          groupCols = Seq("g"))
        .select("g", "ts", "id", "run")
        .collect().map(r => (Option(r.getString(0)), r.getLong(1),
          r.getLong(2)) -> r.getLong(3)).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        var acc = 0L
        rs.sortBy(t => (t._2, t._3)).foreach { case (_, ts, id, d) =>
          acc += d
          assert(got((Option(g), ts, id)) == acc, s"g=$g ts=$ts id=$id")
        }
      }
    }
  }

  test("piiRedact leaves no residual matches and is idempotent") {
    import spark.implicits._
    // documents assembled from words + planted PII of every class
    val word = Gen.oneOf("alpha", "beta", "gamma", "x1y", "k9")
    val pii = Gen.oneOf(
      "bob.smith+1@corp.example.com", "10.20.30.40", "555-867-5309",
      "123456789012", "no-pii-here")
    val gen = Gen.listOfN(12, Gen.oneOf(word, pii))
    samples(gen, 6).foreach { toks =>
      val docs = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val once = ops.TextAnalysis.piiRedact(docs).collect()(0)
      val red = once.getString(once.fieldIndex("redacted"))
      // residual-free: re-running detection on the redacted text finds 0
      val again = ops.TextAnalysis
        .piiRedact(Seq((1L, red)).toDF("doc_id", "text")).collect()(0)
      Seq("n_emails", "n_phones", "n_ipv4s", "n_digit_ids").foreach { c =>
        assert(again.getLong(again.fieldIndex(c)) == 0L, s"$c on: $red")
      }
      // idempotent: redacting the redacted text is a fixpoint
      assert(again.getString(again.fieldIndex("redacted")) == red)
    }
  }

  test("unigramLogProb conserves total log-prob mass (exchange of sums)") {
    import spark.implicits._
    // Σ_docs sum_logp_milli == Σ_vocab count(t) · lq(t): both sides sum
    // the same per-token integers, grouped differently — any mismatch
    // means a token was dropped/duplicated by the scoring join/map
    val word = Gen.oneOf("a", "bb", "ccc", "dd", "e")
    val gen = Gen.listOfN(8, Gen.listOfN(10, word))
    samples(gen, 5).foreach { docs =>
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, "s", ws.mkString(" ")) }
        .toDF("doc_id", "source", "text")
      val perDoc = ops.TextAnalysis.unigramLogProb(df).collect()
        .map(r => r.getLong(r.fieldIndex("sum_logp_milli"))).sum
      val all = docs.flatten
      val total = all.size.toDouble
      val byVocab = all.groupBy(identity).map { case (_, ts) =>
        ts.size * math.floor(math.log(ts.size / total) * 1000).toLong
      }.sum
      assert(perDoc == byVocab, s"docs=$perDoc vocab=$byVocab")
    }
  }

  test("gapFillMulti equals N independent single-column gapFill runs") {
    import spark.implicits._
    val gen = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(1L, 2L), Gen.chooseNum(0L, 500L),
        Gen.option(Gen.chooseNum(0.0, 9.0)), Gen.chooseNum(0L, 99L)))
    samples(gen, 5).foreach { raw =>
      val rows = raw.zipWithIndex.map { case ((k, t, v, w), i) =>
        (k, t, i.toLong, v.map(x => math.rint(x * 10) / 10), w)
      }
      val df = rows.toDF("k", "t", "rid", "v", "w")
      val multi = ops.Temporal.gapFillMulti(df, "k", "t",
          Seq("v" -> "vf", "w" -> "wf"), "rid", 100L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (Option(r.get(3)), Option(r.get(4)), Option(r.get(5)),
            Option(r.get(6)))).toMap
      def single(vc: String) = ops.Temporal.gapFill(df, keyCol = "k",
          tsCol = "t", valCol = vc, idCol = "rid", bucketUs = 100L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (Option(r.get(3)), Option(r.get(4)))).toMap
      val (sv, sw) = (single("v"), single("w"))
      assert(multi.keySet == sv.keySet && multi.keySet == sw.keySet)
      multi.foreach { case (key, (lv, vf, lw, wf)) =>
        assert((lv, vf) == sv(key), s"v at $key")
        assert((lw, wf) == sw(key), s"w at $key")
      }
    }
  }

  test("sweep-line max concurrency equals brute force on arbitrary intervals") {
    import spark.implicits._
    val gen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(0L, 200L), Gen.chooseNum(1L, 80L),
        Gen.chooseNum(1L, 5L)))
    samples(gen, 6).foreach { qs =>
      val ivals = qs.zipWithIndex.map { case ((s, len, pods), i) =>
        (f"q$i%03d", s, s + len, pods)
      }
      val df = ivals
        .toDF("query_id", "admitted_us", "end_us", "min_executor_pod")
        .withColumn("cache_b_per_backend", lit(1L))
        .withColumn("mem_b_per_backend", lit(1L))
        .withColumn("cpu_mv_per_backend", lit(1L))
        .withColumn("spill_b_per_backend", lit(1L))
      val m = Concurrency.maxima(df, Concurrency.integerDeltas)
      val brute = ivals.map { case (_, t, _, _) =>
        ivals.filter { case (_, s, e, _) => s <= t && t < e }
          .map(_._4).sum
      }.max
      assert(m.getAs[Long]("max_concurrent_pods") == brute)
    }
  }

  test("graft_bpe equals the delimiter-replace formulation on random input") {
    // independent second formulation — the ORACLE's: each merge is one
    // LTR pass of java.lang.String.replace (non-regex, non-overlapping)
    // over '|'-delimited symbols; must agree with the loop encoder on
    // arbitrary words and arbitrary (even pathological) merge lists
    def viaReplace(w: String, merges: Seq[(String, String)]): String = {
      // double delimiters between symbols: consecutive matches of a
      // self-adjacent pair must TOUCH without overlapping, else runs of
      // 3+ identical symbols under-merge (the bug this test caught in
      // the single-delimiter formulation)
      val delim = "|" + w.map(_.toString).mkString("||") + "|"
      val folded = merges.foldLeft(delim) { case (acc, (a, b)) =>
        acc.replace(s"|$a||$b|", s"|$a$b|")
      }
      folded.stripPrefix("|").stripSuffix("|")
        .split("\\|\\|").mkString(" ")
    }
    val sym = Gen.oneOf("a", "b", "c", "ab", "bc", "aa")
    val genMerges = Gen.listOfN(8, Gen.zip(sym, sym))
    val genWord = Gen.listOfN(12, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    val gen = Gen.zip(genMerges, Gen.listOfN(20, genWord))
    samples(gen, 8).foreach { case (merges, words) =>
      val table = graft.functions.BpeEncode.Table(merges)
      words.foreach { w =>
        val loop = graft.functions.BpeEncode.encodeWord(w, table)
        val repl = viaReplace(w, merges)
        assert(loop == repl, s"word=$w merges=$merges: $loop != $repl")
      }
    }
  }

  test("registrableDomain equals an independent PSL replay on random hosts") {
    import spark.implicits._
    // independent longest-suffix-match reference over the same snapshot
    val snapshot = ops.TextAnalysis.PublicSuffixSnapshot
    val byDepth = snapshot.groupBy(_.count(_ == '.') + 1)
    val maxDepth = byDepth.keys.max
    def ref(host: String): Option[String] = {
      if (snapshot.contains(host)) return None
      val ls = host.split('.')
      (maxDepth to 1 by -1).foreach { k =>
        if (ls.length > k && byDepth.get(k).exists(_.contains(
            ls.takeRight(k).mkString("."))))
          return Some(ls.takeRight(k + 1).mkString("."))
      }
      if (ls.length >= 2) Some(ls.takeRight(2).mkString(".")) else None
    }
    val label = Gen.oneOf("com", "co", "uk", "jp", "example", "a", "bb",
      "github", "io", "net", "au", "org", "x")
    val genHost = Gen.chooseNum(1, 5)
      .flatMap(n => Gen.listOfN(n, label).map(_.mkString(".")))
    samples(Gen.listOfN(40, genHost), 6).foreach { hosts =>
      val got = hosts.toDF("h")
        .select(col("h"),
          ops.TextAnalysis.registrableDomain(col("h")).as("d"))
        .collect().map(r => r.getString(0) -> Option(r.getString(1)))
      got.foreach { case (h, d) =>
        assert(d == ref(h), s"host=$h got=$d want=${ref(h)}")
      }
    }
  }

  test("duplicatedSpans equals the brute-force k-gram cover on random corpora") {
    import spark.implicits._
    val genDoc = Gen.listOfN(10, Gen.oneOf("x", "y", "z")).map(_.mkString(" "))
    val gen = Gen.listOfN(6, genDoc)
    samples(gen, 4).foreach { texts =>
      val k = 3
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "body")
      val got = ops.Dedup.duplicatedSpans(docs, "body", k, "doc_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      // brute force: count k-grams corpus-wide, mark covered positions,
      // read maximal runs
      val toks = texts.map(_.split(" ").toVector)
      val grams = toks.zipWithIndex.flatMap { case (t, id) =>
        (0 to t.length - k).map(i => (t.slice(i, i + k).mkString(" "), id, i))
      }
      val dup = grams.groupBy(_._1).filter(_._2.size >= 2).keySet
      val expect = toks.zipWithIndex.flatMap { case (t, id) =>
        val covered = (0 to t.length - k)
          .filter(i => dup.contains(t.slice(i, i + k).mkString(" ")))
          .flatMap(i => i until i + k).toSet
        // maximal runs of covered positions
        val runs = scala.collection.mutable.ListBuffer[(Int, Int)]()
        var i = 0
        while (i < t.length) {
          if (covered(i)) {
            var j = i
            while (j < t.length && covered(j)) j += 1
            runs += ((i, j)); i = j
          } else i += 1
        }
        runs.map { case (s, e) => (id.toLong, s, e) }
      }.toSet
      assert(got == expect, s"texts=$texts\ngot=$got\nexpect=$expect")
    }
  }

  test("skyline equals brute-force dominance on random point sets") {
    import spark.implicits._
    val gen = Gen.listOfN(80,
      Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 12L)))
    samples(gen, 6).foreach { pts =>
      val df = pts.toDF("mx", "mn").repartition(3)
      val got = ops.Relational.skyline(df, "mx", "mn", buckets = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val distinct = pts.distinct
      def dom(y: (Long, Long), x: (Long, Long)) =
        y._1 >= x._1 && y._2 <= x._2 && (y._1 > x._1 || y._2 < x._2)
      val expect = distinct.filter(p => !distinct.exists(q => dom(q, p)))
        .map(p => p -> pts.count(_ == p).toLong).toMap
      assert(got == expect, s"pts=$pts")
    }
  }

  test("basketPairs equals brute-force pair counting on random baskets") {
    import spark.implicits._
    val gen = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(1L, 10L), Gen.oneOf("a", "b", "c", "d")))
    samples(gen, 6).foreach { rows =>
      val df = rows.toDF("bk", "it").repartition(3)
      val got = ops.Relational.basketPairs(df, "bk", "it",
          minSupportPerMille = 0)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(5))).toMap
      val ob = rows.distinct
      val nB = ob.map(_._1).distinct.length.toLong
      val marg = ob.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
      val expect = ob.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
        val is = xs.map(_._2).sorted
        for (i <- is.indices; j <- (i + 1) until is.length)
          yield (is(i), is(j))
      }.groupBy(identity).map { case (k, v) =>
        k -> (v.size.toLong, v.size * nB * 1000 / (marg(k._1) * marg(k._2)))
      }
      assert(got == expect, s"rows=$rows")
    }
  }
}
