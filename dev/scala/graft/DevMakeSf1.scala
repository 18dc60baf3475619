package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: synthesize an sf1 dataset as 10 key-shifted copies of the
  * driver's sf0.1 parquet (the driver ships sf0.001/0.01/0.1 only; the
  * scale sweep needs one more decade to separate fixed overhead from the
  * data term). NOT an oracle input — correctness stays pinned to the
  * driver's tables; this exists solely for time-vs-rows measurements.
  *
  * Construction preserves what the sweep measures:
  *   - referential integrity: every key domain shifts by copy·stride, so
  *     joins fan out exactly as at sf0.1 (no dangling keys, no
  *     cross-copy matches);
  *   - dimensions (region, nation) stay single-copy — as at any real
  *     scale factor;
  *   - events keep their timestamps → 10× density in the same window,
  *     which is what a bigger deployment's event stream looks like;
  *   - documents get PER-COPY TOKEN SUFFIXES (copy 0 verbatim): a naive
  *     10× text copy would make every doc a 10-way near-dup and inflate
  *     every dedup measurement quadratically IN THE DATA — suffixing
  *     decouples the copies so per-copy duplicate structure (and
  *     per-copy vocabulary) is preserved while the corpus row count
  *     scales 10×.
  */
object DevMakeSf1 {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    // stride multiplier: key strides are sized for src=sf0.1; chaining
    // the generator (sf1 → sf10) needs them ×10 so the shifted domains
    // of the larger source cannot collide across copies
    val strideF = if (args.length > 2) args(2).toLong else 1L
    // tag alphabet base: a CHAINED run must tag with a DISJOINT letter
    // range — with the same alphabet, copy (i=1, j=0) and copy (i=0,
    // j=1) would both read "token + xb", making their documents
    // byte-identical and manufacturing 10-way cross-copy exact dups
    // (the same class of artifact the letter-only tag already fixed)
    val tagBase: Char = if (args.length > 3) args(3).head else 'a'
    // copy count (round-14 addition): a ×3 chained decade (sf10 → sf30)
    // probes the >5×/decade tail without the disk/time of a full ×10;
    // the tag range must stay within the alphabet (tagBase + factor ≤ z)
    val Factor = if (args.length > 4) args(4).toInt else 10
    require(Factor >= 1 && tagBase + Factor <= 'z' + 1,
      s"DevMakeSf1: copy count $Factor from tag base '$tagBase' leaves " +
        "'a'..'z' — an out-of-alphabet tag silently reintroduces the " +
        "cross-copy exact-duplicate artifact the tag scheme exists to " +
        "prevent (pick a lower factor or an earlier base letter)")
    val spark = GraftSession("graft-make-sf1")

    val orderS = 10L * 1000 * 1000 * strideF
    val custS = 1L * 1000 * 1000 * strideF
    val partS = 1L * 1000 * 1000 * strideF
    val suppS = 100L * 1000 * strideF
    val eventS = 10L * 1000 * 1000 * strideF
    val userS = 10L * 1000 * 1000 * strideF
    val docS = 1L * 1000 * 1000 * strideF
    val vecS = 1L * 1000 * 1000 * strideF

    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")

    def scaled(t: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val base = load(t)
      val all = (0 until Factor).map(i => copy(base, i)).reduce(_ union _)
      all.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"MAKESF1 $t rows=${spark.read.parquet(s"$out/$t.parquet").count()}")
    }

    def shift(df: DataFrame, c: String, stride: Long, i: Int): DataFrame =
      df.withColumn(c, col(c) + lit(stride * i))

    Seq("region", "nation").foreach { t =>
      load(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"MAKESF1 $t (dimension, single copy)")
    }
    scaled("customer")((d, i) => shift(d, "c_custkey", custS, i))
    scaled("supplier")((d, i) => shift(d, "s_suppkey", suppS, i))
    scaled("part")((d, i) => shift(d, "p_partkey", partS, i))
    scaled("orders")((d, i) =>
      shift(shift(d, "o_orderkey", orderS, i), "o_custkey", custS, i))
    scaled("lineitem")((d, i) =>
      shift(shift(shift(d, "l_orderkey", orderS, i),
        "l_partkey", partS, i), "l_suppkey", suppS, i))
    scaled("events")((d, i) =>
      shift(shift(d, "event_id", eventS, i), "user_id", userS, i))
    scaled("documents") { (d, i) =>
      val shifted = shift(d, "doc_id", docS, i)
      // LETTER-ONLY copy tag: several tokenizers are '[a-z]+' — a digit
      // tag ('x1') would be STRIPPED and collapse copies 1..9 onto one
      // identical suffixed corpus, manufacturing 9-way near-dups that
      // inflate every pair-based dedup measurement ~100× (observed:
      // 256 → 200k edges before this fix)
      val tag = s"x${(tagBase + i).toChar}"
      if (i == 0) shifted
      else shifted.withColumn("text", expr(
        // token-level decoupling: every whitespace token gets a copy tag,
        // so tokenizers ([a-z]+ / [a-z0-9]+) see disjoint vocabularies
        s"concat_ws(' ', transform(split(text, '\\\\s+'), t -> concat(t, '$tag')))"))
    }
    scaled("embeddings") { (d, i) =>
      val shifted = shift(d, "vec_id", vecS, i)
      // COPY-DECOUPLED vectors (the embedding analog of the text token
      // tag): a bare vec_id shift leaves every copy's vectors EXACT
      // duplicates of copy 0, so each SRP/IVF bucket holds `Factor`
      // clones of every base vector and any pair-based operator (q31,
      // q125, q127) blows up quadratically IN THE DATA — a generator
      // artifact, not a plan property (observed: q127 at sf10 ran
      // minutes/GBs instead of seconds). Each copy applies a
      // deterministic per-(copy, seed) SIGN-FLIP pattern — a diagonal
      // ±1 matrix, so every intra-copy cosine and norm is preserved
      // EXACTLY while cross-copy directions decouple. Sign patterns
      // (unlike rotations, whose composition is additive mod dim and
      // collides on the (i, j) diagonals of a chained run: only 64
      // rotations exist for 100 copies) compose by XOR keyed on the
      // run seed — chained runs stay pairwise distinct.
      if (i == 0) shifted
      else shifted.withColumn("embedding", expr(
        s"transform(embedding, (x, d) -> " +
          s"CASE WHEN pmod(hash(d, $i, ${tagBase.toInt}), 2) = 1 " +
          s"THEN -x ELSE x END)"))
    }
    spark.stop()
  }
}
