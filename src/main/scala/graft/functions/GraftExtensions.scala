package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._

/** SQL-surface registration (SURVEY §4 candidate (c)): exposes the
  * engine's scalar functions to `spark.sql` users.
  *
  *   - `graft_dot(a, b)` — native codegen'd float-array dot product
  *     ([[DotProduct]])
  *   - `graft_cosine(a, b)` — cosine similarity composed from three dots
  *   - `graft_tsize(pods)` — the t-shirt bucketing CASE chain
  *     ([[graft.sizing.Bucketing]] semantics, Q1/Q2 stances)
  *   - `graft_hash60(s)` — the shared 60-bit md5 hash
  *     ([[graft.ops.Dialect]])
  *
  * Two registration paths:
  *   - public config: `spark.sql.extensions=graft.functions.GraftExtensions`
  *   - programmatic: [[GraftFunctions.ensureRegistered]] on an existing
  *     session (idempotent) — used by the operator modules so their SQL
  *     fragments work on any caller-supplied session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // auto-rewrite builtin idioms to the native codegen'd expressions:
    // aggregate(zip_with(...)) dot products and size(array_intersect(...))
    ext.injectOptimizerRule(_ => graft.plans.NativeDotRewrite)
    ext.injectOptimizerRule(_ => graft.plans.NativeOverlapRewrite)
  }
}

object GraftFunctions {

  /** Fold a parameter that must be a literal (k, prime, mod, …) with a
    * function-named error instead of eval()'s bare
    * UnsupportedOperationException on a column reference.
    */
  private def lit(fn: String, arg: String, e: Expression): Number = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: argument '$arg' must be a literal, got ${e.sql}")
    e.eval() match {
      case n: Number => n
      case other => throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be a non-null numeric literal, got " +
          s"${Option(other).getOrElse("NULL")}")
    }
  }

  /** String-literal variant of [[lit]] (merge tables, separators, …). */
  private def litStr(fn: String, arg: String, e: Expression): String = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: argument '$arg' must be a literal, got ${e.sql}")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be a non-null string literal, got " +
          s"${Option(other).getOrElse("NULL")}")
    }
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0",
      "", "built-in")

  private def tsizeExpr(pods: Expression): Expression = {
    import graft.sizing.Bucketing.{PodBuckets, TopBucket}
    CaseWhen(
      PodBuckets.map { case (hi, l) =>
        (LessThanOrEqual(pods, Literal(hi)), Literal(l))
      },
      Some(Literal(TopBucket)))
  }

  private def hash60Expr(e: Expression): Expression = {
    import org.apache.spark.sql.types._
    Cast(
      Conv(
        Substring(Md5(Cast(e, BinaryType)), Literal(1), Literal(15)),
        Literal(16), Literal(10)),
      LongType)
  }

  private def cosineExpr(a: Expression, b: Expression): Expression =
    Divide(DotProduct(a, b),
      Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b))))

  /** (name, info, builder) for every engine SQL function. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      info("graft_dot", "graft_dot(a, b) - double dot product of two float arrays"),
      (cs: Seq[Expression]) => DotProduct(cs(0), cs(1))),
    ("graft_l2q",
      info("graft_l2q",
        "graft_l2q(a, b) - bigint squared L2 distance of two bigint arrays"),
      (cs: Seq[Expression]) => SqDistLong(cs(0), cs(1))),
    ("graft_l2_argmin",
      info("graft_l2_argmin",
        "graft_l2_argmin(p, cents, d) - struct(cid, dist) of the nearest" +
          " centroid in a flattened row-major bigint centroid array"),
      (cs: Seq[Expression]) => L2ArgMin(cs(0), cs(1), cs(2))),
    ("graft_cosine",
      info("graft_cosine", "graft_cosine(a, b) - cosine similarity of two float arrays"),
      (cs: Seq[Expression]) => cosineExpr(cs(0), cs(1))),
    ("graft_tsize",
      info("graft_tsize", "graft_tsize(pods) - t-shirt size bucket label"),
      (cs: Seq[Expression]) => tsizeExpr(cs.head)),
    ("graft_hash60",
      info("graft_hash60", "graft_hash60(s) - 60-bit md5-derived hash"),
      (cs: Seq[Expression]) => hash60Expr(cs.head)),
    ("graft_minhash",
      info("graft_minhash",
        "graft_minhash(hashes, n, prime) - n-element MinHash signature"),
      (cs: Seq[Expression]) => {
        // Enforce MinHashSig's overflow preconditions (see Sketches.scala:
        // (2n+1)·x + 101·n must stay < 2^63 with elements < prime):
        // silently-wrong signatures from Long overflow are worse than an
        // analysis-time error.
        val n = lit("graft_minhash", "n", cs(1)).intValue()
        val prime = lit("graft_minhash", "prime", cs(2)).longValue()
        if (n < 1 || n > 32) throw new IllegalArgumentException(
          s"graft_minhash: n must be in [1, 32] (overflow-safe range), got $n")
        if (prime < 2 || prime >= (1L << 31))
          throw new IllegalArgumentException(
            "graft_minhash: prime must be in [2, 2^31) " +
              s"(overflow-safe range), got $prime")
        MinHashSig(cs.head, n, prime)
      }),
    ("graft_simhash60",
      info("graft_simhash60",
        "graft_simhash60(hashes) - 60-bit SimHash signature"),
      (cs: Seq[Expression]) => SimHash60(cs.head)),
    ("graft_overlap",
      info("graft_overlap",
        "graft_overlap(a, b) - distinct-intersection cardinality " +
          "(= size(array_intersect(a, b)) without the array)"),
      (cs: Seq[Expression]) => OverlapCount(cs(0), cs(1))),
    ("graft_hash60_array",
      info("graft_hash60_array",
        "graft_hash60_array(arr[, mod]) - per-element 60-bit md5 hash"),
      (cs: Seq[Expression]) => Hash60Array(cs.head,
        if (cs.length > 1) lit("graft_hash60_array", "mod", cs(1)).longValue()
        else 0L)),
    ("graft_shingles",
      info("graft_shingles",
        "graft_shingles(tokens, k) - distinct space-joined word k-shingles"),
      (cs: Seq[Expression]) => WordShingles(cs.head,
        lit("graft_shingles", "k", cs(1)).intValue())),
    ("graft_char_ngrams",
      info("graft_char_ngrams",
        "graft_char_ngrams(text, n) - distinct character n-grams"),
      (cs: Seq[Expression]) => CharNgrams(cs.head,
        lit("graft_char_ngrams", "n", cs(1)).intValue())),
    ("graft_char_windows",
      info("graft_char_windows",
        "graft_char_windows(text, n) - ALL character n-grams in order"),
      (cs: Seq[Expression]) => CharNgrams(cs.head,
        lit("graft_char_windows", "n", cs(1)).intValue(), distinct = false)),
    ("graft_window_min",
      info("graft_window_min",
        "graft_window_min(xs, w) - sliding-window minima (winnowing)"),
      (cs: Seq[Expression]) => WindowMin(cs.head,
        lit("graft_window_min", "w", cs(1)).intValue())),
    ("graft_bpe",
      info("graft_bpe",
        "graft_bpe(words, merges) - BPE-encode each word under a " +
          "rank-ordered 'a b,th e,...' merge table; symbols space-joined"),
      (cs: Seq[Expression]) => BpeEncode(cs.head,
        BpeEncode.parseMerges(litStr("graft_bpe", "merges", cs(1))))),
    ("graft_nfc",
      info("graft_nfc",
        "graft_nfc(text) - Unicode NFC canonical normalization"),
      (cs: Seq[Expression]) => NfcNormalize(cs.head)),
    ("graft_bloom_contains",
      info("graft_bloom_contains",
        "graft_bloom_contains(filter_bytes, v) - bloom-filter membership " +
          "test (runtime-filter pushdown building block)"),
      (cs: Seq[Expression]) => BloomContains(cs(0), cs(1))))

  /** A bloom-membership probe Column over `value` for a serialized
    * [[org.apache.spark.util.sketch.BloomFilter]]. The bytes become a
    * BINARY `lit` and the registered expression is invoked via
    * `call_function` — no SQL-text round-trip: a multi-MB filter is a
    * direct binary Literal (never a base64 string the parser must chew
    * through), and the value expression can't splice into or break the
    * surrounding text. Requires [[ensureRegistered]] on the session first.
    */
  def bloomProbe(bytes: Array[Byte], value: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_bloom_contains",
      org.apache.spark.sql.functions.lit(bytes), value)

  /** SQL-expression convenience for [[bloomProbe]] (back-compatible with
    * the original String signature): `valueSql` is parsed as ONE
    * standalone expression — in isolation, never spliced into a larger
    * SQL string, so it cannot inject into or break the filter literal.
    */
  def bloomProbe(bytes: Array[Byte], valueSql: String)
      : org.apache.spark.sql.Column =
    bloomProbe(bytes, org.apache.spark.sql.functions.expr(valueSql))

  /** Idempotent programmatic registration on an existing session:
    * functions into the registry, and the native-rewrite rules into
    * `experimental.extraOptimizations` (sessions built without
    * `spark.sql.extensions` still get the fast paths).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    all.foreach { case (name, inf, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, inf, builder)
    }
    val rules =
      Seq(graft.plans.NativeDotRewrite, graft.plans.NativeOverlapRewrite)
    val cur = spark.experimental.extraOptimizations
    val missing = rules.filterNot(cur.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = cur ++ missing
  }
}
