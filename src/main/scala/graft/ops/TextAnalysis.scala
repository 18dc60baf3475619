package graft.ops

import graft.CkptLocalOps
import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table (north-star extensions, SURVEY §2.9): token counting
  * (whitespace + regex tokenizers), quality scoring, n-gram-profile
  * language identification, and rolling-hash / winnowing document
  * fingerprints.
  *
  * All per-document computation is higher-order array expressions over a
  * single scan — no UDFs, no shuffles until the final small aggregation,
  * so each operator is a map-side pass at 100 TB. The only shuffles are
  * on tiny keys (lang × tier, lang × gram-profile).
  *
  * Oracle parity: every scalar is either exact integer arithmetic or a
  * single deterministic IEEE-754 double expression evaluated in the same
  * shape on both engines (see [[Dialect]] for the shared md5-based hash).
  */
object TextAnalysis extends QueryModule {

  // --- q21: token counting (whitespace + regex tokenizers) ---------------
  // Two tokenizers per document: naive whitespace split and a regex word
  // tokenizer (the "BPE-ish" pre-tokenization pass: maximal [a-z]+ runs).
  private def q21(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '[a-z]+', 0)"))
      .select(
        col("doc_id"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_ws"),
        expr("CAST(size(toks) AS BIGINT)").as("n_re"),
        expr("CAST(size(array_distinct(toks)) AS BIGINT)").as("n_distinct"),
        // CASE guard: zero-token docs yield NULL on both engines (Spark's
        // 0/0 double and DuckDB's would otherwise disagree)
        expr("""CASE WHEN size(toks) = 0 THEN NULL ELSE
             |round(CAST(aggregate(transform(toks, t -> CAST(length(t) AS BIGINT)),
             |  0L, (a, x) -> a + x) AS DOUBLE) / size(toks), 4) END""".stripMargin)
          .as("avg_tok_len"))

  private val q21Sql =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_ws,
      |  len(toks) AS n_re,
      |  len(list_distinct(toks)) AS n_distinct,
      |  CASE WHEN len(toks) = 0 THEN NULL ELSE
      |  round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(toks, t -> CAST(length(t) AS BIGINT))),
      |    (a, b) -> a + b) AS DOUBLE) / len(toks), 4) END AS avg_tok_len
      |FROM (SELECT doc_id, text, regexp_extract_all(text, '[a-z]+') AS toks
      |      FROM documents)""".stripMargin

  // --- q22: quality scoring (stopword / duplication ratios → tiers) ------
  // score ∈ [0,1]: half from non-stopword density, half from lexical
  // diversity (distinct/total tokens). Deterministic: both terms are one
  // double division + multiply, same shape both engines.
  // Zero-token guard (q21's convention): without it the engines DIVERGE
  // on a doc with no [a-z] tokens — Spark's 0/0 double division is NULL
  // while DuckDB's IEEE mode yields NaN, and DuckDB orders NaN above
  // every number, so `score >= threshold` would keep the row in the
  // oracle and drop it in Spark. NULL on both engines → 'low' tier on
  // both (CASE/otherwise), and every >= filter drops it on both.
  private val scoreExprSpark =
    """CASE WHEN size(toks) = 0 THEN CAST(NULL AS DOUBLE) ELSE
      |round((1.0 - CAST(size(filter(toks, t -> t = 'a' OR t = 'the')) AS DOUBLE)
      |  / size(toks)) * 0.5
      |  + CAST(size(array_distinct(toks)) AS DOUBLE) / size(toks) * 0.5,
      |  6) END""".stripMargin

  private def q22(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '[a-z]+', 0)"))
      .withColumn("n_toks", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("score", expr(scoreExprSpark))
      .withColumn("tier",
        when(col("score") >= 0.78, "high")
          .when(col("score") >= 0.70, "mid")
          .otherwise("low"))
      .groupBy("lang", "tier")
      .agg(
        count(lit(1)).as("n_docs"),
        expr("round(CAST(sum(n_toks) AS DOUBLE) / count(*), 4)")
          .as("avg_tokens"))

  // DuckDB twin of scoreExprSpark, shared by q22 and the q90 pipeline
  private val scoreExprDuck =
    """CASE WHEN len(toks) = 0 THEN NULL ELSE
      |round((1.0 - CAST(len(list_filter(toks, t -> t = 'a' OR t = 'the')) AS DOUBLE)
      |      / len(toks)) * 0.5
      |      + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.5,
      |      6) END""".stripMargin

  private val q22Sql =
    s"""WITH scored AS (
      |  SELECT lang,
      |    CAST(len(toks) AS BIGINT) AS n_toks,
      |    $scoreExprDuck AS score
      |  FROM (SELECT lang, regexp_extract_all(text, '[a-z]+') AS toks
      |        FROM documents)
      |)
      |SELECT lang,
      |  CASE WHEN score >= 0.78 THEN 'high'
      |       WHEN score >= 0.70 THEN 'mid' ELSE 'low' END AS tier,
      |  COUNT(*) AS n_docs,
      |  round(CAST(SUM(n_toks) AS DOUBLE) / COUNT(*), 4) AS avg_tokens
      |FROM scored GROUP BY 1, 2""".stripMargin

  // --- q23: n-gram-profile language ID ------------------------------------
  // Two-stage heuristic: (1) build a per-language profile = top-20 char
  // trigrams by corpus frequency; (2) score each document against every
  // profile by distinct-trigram overlap, predict the argmax. Output is the
  // (actual × predicted) confusion matrix. The profile build is a tiny
  // groupBy (≤ langs × |trigram vocab|); scoring is a broadcastable join
  // against ≤ 100 profile rows — scales linearly in corpus size.
  private def q23(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val docs = Tables.load(s, dir, "documents")
    // Native trigram expr: the builtin per-position substring shape is
    // O(len²) per document ([[graft.functions.CharNgrams]]).
    // Stage 1 (one corpus pass): per-language profile = top-20 trigrams.
    // The explode feeds a partial-aggregating groupBy on (lang, g), so the
    // shuffle is the trigram VOCABULARY per language, not the corpus.
    val profW = Window.partitionBy("plang")
      .orderBy(col("n").desc, col("g").asc)
    val profile = docs
      .select(col("lang"), explode(expr("graft_char_ngrams(text, 3)")).as("g"))
      .groupBy(col("lang").as("plang"), col("g"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(profW))
      .filter(col("rn") <= 20)
      .groupBy("plang").agg(sort_array(collect_list(col("g"))).as("gs"))
      .orderBy("plang")
      .collect()

    // Stage 2 (one corpus pass): the profile is langs × 20 strings —
    // collect it and fold it back in as literals, so scoring each document
    // against every language is one array_intersect per (doc, lang): no
    // second explode, no join, no per-doc ranking window. The argmax is an
    // array_max over (score, -langIndex) structs — ties prefer the
    // lexicographically smallest language, same as the ranking it replaces.
    val langs = profile.map(_.getAs[String]("plang")).toSeq
    val scoreStructs = profile.zipWithIndex.map { case (r, i) =>
      struct(
        size(array_intersect(col("g3"), typedLit(r.getSeq[String](1))))
          .as("score"),
        lit(-i).as("negi"))
    }
    docs
      .select(col("lang"), expr("graft_char_ngrams(text, 3)").as("g3"))
      .select(col("lang"),
        element_at(typedLit(langs),
          -array_max(array(scoreStructs.toIndexedSeq: _*)).getField("negi")
            + 1).as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
  }

  private val q23Sql =
    """WITH grams AS (
      |  SELECT doc_id, lang, unnest(list_distinct(
      |    list_transform(generate_series(1, greatest(length(text)-2, 1)),
      |      i -> substr(text, i, 3)))) AS g
      |  FROM documents
      |), profile AS (
      |  SELECT plang, g FROM (
      |    SELECT lang AS plang, g, COUNT(*) AS n,
      |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, g ASC) AS rn
      |    FROM grams GROUP BY lang, g)
      |  WHERE rn <= 20
      |), matches AS (
      |  SELECT gr.doc_id, p.plang, COUNT(*) AS score
      |  FROM grams gr JOIN profile p ON gr.g = p.g
      |  GROUP BY gr.doc_id, p.plang
      |), scored AS (
      |  SELECT d.doc_id, d.lang, l.plang, COALESCE(m.score, 0) AS score
      |  FROM documents d
      |  CROSS JOIN (SELECT DISTINCT plang FROM profile) l
      |  LEFT JOIN matches m ON m.doc_id = d.doc_id AND m.plang = l.plang
      |), pred AS (
      |  SELECT doc_id, lang, plang AS pred FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, plang ASC) AS rn
      |    FROM scored)
      |  WHERE rn = 1
      |)
      |SELECT lang, pred, COUNT(*) AS n_docs FROM pred GROUP BY lang, pred""".stripMargin

  // --- q232: char-bigram Naive Bayes language ID (train + apply) -----------
  // The SUPERVISED counterpart of q23: q23 scores documents against
  // top-20 trigram profiles (an overlap heuristic, no probabilities);
  // this is the real upstream gate a multilingual curation pipeline
  // runs before q22's lang filter — a multinomial Naive Bayes over
  // char bigrams, TRAINED on the corpus's own lang-labeled docs
  // (doc_id % 10 != 0) and APPLIED to the held-out tenth, in one plan.
  //
  // Model: Laplace-smoothed P(g|lang) = (c(g,lang)+1)/(tot(lang)+V)
  // over the TRAIN vocabulary V (shared across languages — the
  // smoothing denominator must be per-language mass + global vocab for
  // the scores to be comparable); prior P(lang) = docs(lang)/docs.
  // Score(doc, lang) = prior + Σ_g tf·logP, every log floored to
  // integer millinats BEFORE summing (q99's ln-quantization recipe:
  // libm ln is not IEEE-pinned, but both engines floor the SAME
  // double ratio built from identical integer counts, so the quantized
  // values agree; integer sums are then order-independent and exact).
  // Out-of-vocabulary test grams are DROPPED by contract (an inner
  // join against the vocab — the standard NB treatment; the oracle
  // replays the same rule). Argmax ties prefer the lexicographically
  // smallest language on both sides.
  //
  // Scale shape: model build is one (lang, gram)-keyed partial
  // aggregate (shuffle = vocabulary × languages, not the corpus);
  // scoring is one (doc, gram) pre-aggregate equi-joined against the
  // distributed log-prob table (q104's open-vocabulary discipline —
  // never a broadcast map scan), then a (doc, lang) sum and a
  // min(struct) argmax. Only language-cardinality frames (priors,
  // lang list) broadcast. No windows, no driver loops.

  /** PUBLIC operator: train a char-bigram Naive Bayes language
    * classifier on the `% 10 != 0` rows of `docs` (labels from
    * `langCol`) and score the held-out `% 10 == 0` rows. Returns one
    * row per held-out doc: (`idCol`, pred_lang, score_milli — the
    * winning class's integer-millinat log-posterior, true_lang,
    * correct). */
  def langIdNaiveBayes(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    val normed = docs.select(col(idCol).as("__id"),
        col(langCol).as("__lang"),
        expr(s"array_join(regexp_extract_all(lower(`$textCol`), " +
          "'[a-z]+', 0), ' ')").as("nt"))
      .withColumn("grams", expr(
        // Spark's sequence(1, 0) yields a DESCENDING [1, 0] (not empty
        // like DuckDB's generate_series) — guard short strings
        "CASE WHEN length(nt) >= 2 THEN transform(" +
          "sequence(1, length(nt) - 1), i -> substring(nt, i, 2)) " +
          "ELSE array() END"))
      .select(col("__id"), col("__lang"), col("grams"))
      .ckptLocal(eager = false) // train counts + test scoring
    val train = normed.filter(col("__id") % 10 =!= 0)
    val test = normed.filter(col("__id") % 10 === 0)
    val trainGrams = train
      .select(col("__lang"), explode(col("grams")).as("g"))
      .groupBy("__lang", "g").agg(count(lit(1)).as("c"))
      .ckptLocal(eager = false) // vocab + totals + smoothing join
    val langs = train.groupBy("__lang").agg(count(lit(1)).as("ndocs"))
      .ckptLocal(eager = true) // |languages| rows
    val totals = trainGrams.groupBy("__lang").agg(sum("c").as("tot"))
    val vocab = trainGrams.select("g").distinct()
      .ckptLocal(eager = false) // lq scaffold + size
    val vCount = vocab.groupBy().agg(count(lit(1)).as("vsz"))
    val lq = vocab.crossJoin(broadcast(langs.select("__lang")))
      .join(trainGrams, Seq("__lang", "g"), "left")
      .join(broadcast(totals), Seq("__lang"))
      .crossJoin(broadcast(vCount))
      .select(col("__lang"), col("g"), expr(
        "CAST(floor(ln(CAST(coalesce(c, 0L) + 1 AS DOUBLE) " +
          "/ (tot + vsz)) * 1000) AS BIGINT)").as("lq"))
    val priors = langs
      .crossJoin(broadcast(langs.agg(sum("ndocs").as("nd_tot"))))
      .select(col("__lang"), expr(
        "CAST(floor(ln(CAST(ndocs AS DOUBLE) / nd_tot) * 1000) " +
          "AS BIGINT)").as("prior"))
    val contrib = test
      .select(col("__id"), explode(col("grams")).as("g"))
      .groupBy("__id", "g").agg(count(lit(1)).as("tc"))
      .join(lq, Seq("g")) // inner: OOV grams dropped by contract
      .groupBy("__id", "__lang")
      .agg(sum(col("tc") * col("lq")).as("gsum"))
    test.select(col("__id"), col("__lang").as("true_lang"))
      .crossJoin(broadcast(priors)) // doc × language scaffold: a doc
                                    // with zero in-vocab grams still
                                    // scores on priors alone
      .join(contrib, Seq("__id", "__lang"), "left")
      .select(col("__id"), col("true_lang"), col("__lang"),
        (col("prior") + coalesce(col("gsum"), lit(0L))).as("score"))
      .groupBy(col("__id"), col("true_lang"))
      .agg(min(struct((-col("score")).as("ns"), col("__lang").as("l")))
        .as("b"))
      .select(col("__id").as(idCol), col("b.l").as("pred_lang"),
        (-col("b.ns")).as("score_milli"), col("true_lang"),
        (col("b.l") === col("true_lang")).as("correct"))
  }

  private def q232(s: SparkSession, dir: String): DataFrame =
    langIdNaiveBayes(Tables.load(s, dir, "documents"))

  private val q232Sql =
    """WITH gr AS (
      |  SELECT doc_id, lang,
      |    list_transform(generate_series(1, length(nt) - 1),
      |      i -> substring(nt, i, 2)) AS grams
      |  FROM (SELECT doc_id, lang, array_to_string(
      |    regexp_extract_all(lower(text), '[a-z]+'), ' ') AS nt
      |    FROM documents)
      |), tg AS (
      |  SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT lang, unnest(grams) AS g FROM gr
      |        WHERE doc_id % 10 != 0)
      |  GROUP BY lang, g
      |), vocab AS (SELECT DISTINCT g FROM tg),
      |vc AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM vocab),
      |tot AS (
      |  SELECT lang, CAST(SUM(c) AS BIGINT) AS tot FROM tg GROUP BY lang
      |), ld AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS ndocs FROM gr
      |  WHERE doc_id % 10 != 0 GROUP BY lang
      |), lq AS (
      |  SELECT l.lang, v.g,
      |    CAST(FLOOR(ln(CAST(COALESCE(t.c, 0) + 1 AS DOUBLE)
      |      / (tt.tot + vc.vsz)) * 1000) AS BIGINT) AS lq
      |  FROM vocab v CROSS JOIN ld l
      |  LEFT JOIN tg t ON t.lang = l.lang AND t.g = v.g
      |  JOIN tot tt ON tt.lang = l.lang
      |  CROSS JOIN vc
      |), pri AS (
      |  SELECT lang, CAST(FLOOR(ln(CAST(ndocs AS DOUBLE)
      |    / (SELECT CAST(SUM(ndocs) AS BIGINT) FROM ld)) * 1000)
      |    AS BIGINT) AS prior
      |  FROM ld
      |), tstg AS (
      |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS tc
      |  FROM (SELECT doc_id, unnest(grams) AS g FROM gr
      |        WHERE doc_id % 10 = 0)
      |  GROUP BY doc_id, g
      |), contrib AS (
      |  SELECT s.doc_id, q.lang, CAST(SUM(s.tc * q.lq) AS BIGINT) AS gsum
      |  FROM tstg s JOIN lq q ON q.g = s.g
      |  GROUP BY s.doc_id, q.lang
      |), ranked AS (
      |  SELECT t.doc_id, t.lang AS true_lang, p.lang AS cand,
      |    p.prior + COALESCE(c.gsum, 0) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY t.doc_id
      |      ORDER BY p.prior + COALESCE(c.gsum, 0) DESC, p.lang ASC)
      |      AS rn
      |  FROM (SELECT doc_id, lang FROM gr WHERE doc_id % 10 = 0) t
      |  CROSS JOIN pri p
      |  LEFT JOIN contrib c ON c.doc_id = t.doc_id AND c.lang = p.lang
      |)
      |SELECT doc_id, cand AS pred_lang, CAST(score AS BIGINT)
      |  AS score_milli, true_lang, cand = true_lang AS correct
      |FROM ranked WHERE rn = 1""".stripMargin

  // --- q237: DSIR-style importance log-ratio data selection ----------------
  // Data Selection via Importance Resampling (Xie et al., NeurIPS
  // 2023): score every candidate doc by how much more likely its
  // tokens are under a TARGET-domain LM than under the general-corpus
  // LM, then keep the best. The published method resamples ∝ the
  // importance weight; the deterministic variant here RANKS by the
  // per-token mean log-ratio and takes the top K (their top-k
  // heuristic baseline — ranking keeps the whole pipeline RNG-free
  // and hashable, and the doc-level weights are exactly what a
  // downstream q229 systematic-PPS pass would consume as integer
  // masses). Length-normalizing by n_toks matters: the raw sum
  // conflates domain affinity with document length (a long mediocre
  // doc outscores a short on-target one), so selection orders on the
  // exact rational mean in micro-nats — q99's floor-division identity.
  //
  // Models, on q232's Laplace recipe: p_src(t) = c_all(t)/tot_all over
  // the WHOLE corpus (never zero — every scored token is in the corpus
  // vocab by construction); p_tgt(t) = (c_tgt(t)+1)/(tot_tgt+|V|) over
  // the target slice, smoothed over the SHARED corpus vocab so the two
  // logs are comparable. Each ln is floored to integer millinats
  // SEPARATELY before the difference (both engines floor the same
  // double built from identical integer counts), so per-doc sums are
  // order-independent BIGINTs.
  //
  // Scale shape: both models are vocabulary-bounded partial aggregates;
  // scoring is the (doc, token) pre-aggregate equi-joined to the
  // DISTRIBUTED delta table (q104's open-vocabulary discipline — no
  // broadcast map scan); selection is a salted two-phase global top-K
  // (the bruteForceTopK trick: per-salt ROW_NUMBER first, so the final
  // single-partition window sees ≤ saltBuckets·K rows, and the output
  // is salt-independent — the oracle replays a plain ROW_NUMBER).

  /** PUBLIC operator: rank docs by mean per-token importance log-ratio
    * ln(p_target/p_source) and keep the top `k`. `targetCol` ===
    * `targetVal` defines the target slice. Zero-token docs are
    * excluded (their mean is undefined). One row per selected doc:
    * (rank, doc_id, source, n_toks, sum_lr_milli, mean_lr_micro),
    * ordered mean desc / doc_id asc. */
  def dsirSelect(docs: DataFrame, targetCol: String = "source",
      targetVal: String = DsirTarget, k: Int = DsirK,
      textCol: String = "text", idCol: String = "doc_id",
      saltBuckets: Int = 64): DataFrame = {
    require(k >= 1 && saltBuckets >= 1,
      s"dsirSelect: k=$k saltBuckets=$saltBuckets must be positive")
    val toks = docs.select(col(idCol).as("__id"),
        col(targetCol).as("__tgt"),
        expr(s"regexp_extract_all(lower(`$textCol`), '[a-z]+', 0)")
          .as("tk"))
      .ckptLocal(eager = false) // two models + scoring
    val allCnt = toks.select(explode(col("tk")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("ca"))
      .ckptLocal(eager = false) // delta scaffold + vsz + tot_all
    val tgtCnt = toks.filter(col("__tgt") === targetVal)
      .select(explode(col("tk")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("ct"))
    val totAll = allCnt.agg(sum("ca").as("tot_all"))
    val totTgt = tgtCnt.agg(
      coalesce(sum("ct"), lit(0L)).as("tot_tgt"))
    val vsz = allCnt.agg(count(lit(1)).as("vsz"))
    val delta = allCnt.join(tgtCnt, Seq("t"), "left")
      .crossJoin(broadcast(totAll)).crossJoin(broadcast(totTgt))
      .crossJoin(broadcast(vsz))
      .select(col("t"), (expr(
        "CAST(floor(ln(CAST(coalesce(ct, 0L) + 1 AS DOUBLE) " +
          "/ (tot_tgt + vsz)) * 1000) AS BIGINT)") - expr(
        "CAST(floor(ln(CAST(ca AS DOUBLE) / tot_all) * 1000) " +
          "AS BIGINT)")).as("d"))
    val perdoc = toks
      .select(col("__id"), explode(col("tk")).as("t"))
      .groupBy("__id", "t").agg(count(lit(1)).as("c"))
      .join(delta, Seq("t")) // inner ≡ total: corpus vocab covers all
      .groupBy("__id").agg(sum(col("c") * col("d")).as("sum_lr_milli"))
    val scored = toks
      .select(col("__id"), col("__tgt"),
        expr("CAST(size(tk) AS BIGINT)").as("n_toks"))
      .where(col("n_toks") > 0)
      .join(perdoc, Seq("__id"))
      .withColumn("mean_lr_micro", expr("(sum_lr_milli * 1000 " +
        "- pmod(sum_lr_milli * 1000, n_toks)) div n_toks"))
    val wLocal = Window.partitionBy("salt")
      .orderBy(col("mean_lr_micro").desc, col("__id").asc)
    val w = Window.orderBy(col("mean_lr_micro").desc, col("__id").asc)
    scored
      .withColumn("salt", pmod(hash(col("__id")), lit(saltBuckets)))
      .withColumn("rl", row_number().over(wLocal))
      .filter(col("rl") <= k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("rank"), col("__id").as(idCol),
        col("__tgt").as("source"), col("n_toks"), col("sum_lr_milli"),
        col("mean_lr_micro"))
  }

  private val DsirTarget = "src0"
  private val DsirK = 100

  private def q237(s: SparkSession, dir: String): DataFrame =
    dsirSelect(Tables.load(s, dir, "documents"))

  private val q237Sql =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    regexp_extract_all(lower(text), '[a-z]+') AS tk
       |  FROM documents
       |), ac AS MATERIALIZED (
       |  SELECT t, CAST(COUNT(*) AS BIGINT) AS ca
       |  FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY t
       |), tc AS (
       |  SELECT t, CAST(COUNT(*) AS BIGINT) AS ct
       |  FROM (SELECT unnest(tk) AS t FROM toks
       |        WHERE source = '$DsirTarget') GROUP BY t
       |), ta AS (SELECT CAST(SUM(ca) AS BIGINT) AS tot_all FROM ac),
       |tt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS tot_tgt
       |       FROM tc),
       |vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM ac),
       |delta AS (
       |  SELECT ac.t,
       |    CAST(FLOOR(ln(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE)
       |        / (tt.tot_tgt + vs.vsz)) * 1000) AS BIGINT)
       |    - CAST(FLOOR(ln(CAST(ac.ca AS DOUBLE) / ta.tot_all) * 1000)
       |        AS BIGINT) AS d
       |  FROM ac LEFT JOIN tc ON tc.t = ac.t
       |  CROSS JOIN ta CROSS JOIN tt CROSS JOIN vs
       |), perdoc AS (
       |  SELECT p.doc_id, CAST(SUM(p.c * delta.d) AS BIGINT)
       |    AS sum_lr_milli
       |  FROM (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
       |        GROUP BY doc_id, t) p
       |  JOIN delta ON delta.t = p.t
       |  GROUP BY p.doc_id
       |), scored AS (
       |  SELECT tk.doc_id, tk.source,
       |    CAST(len(tk.tk) AS BIGINT) AS n_toks, pd.sum_lr_milli,
       |    (pd.sum_lr_milli * 1000
       |      - ((((pd.sum_lr_milli * 1000) % CAST(len(tk.tk) AS BIGINT))
       |          + CAST(len(tk.tk) AS BIGINT))
       |         % CAST(len(tk.tk) AS BIGINT)))
       |      // CAST(len(tk.tk) AS BIGINT) AS mean_lr_micro
       |  FROM toks tk JOIN perdoc pd ON pd.doc_id = tk.doc_id
       |  WHERE len(tk.tk) > 0
       |)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY mean_lr_micro DESC,
       |    doc_id ASC) AS INTEGER) AS rank,
       |  doc_id, source, n_toks, sum_lr_milli, mean_lr_micro
       |FROM scored
       |ORDER BY mean_lr_micro DESC, doc_id ASC LIMIT $DsirK""".stripMargin

  // --- q238: TextRank keyword extraction -----------------------------------
  // TextRank (Mihalcea & Tarau, EMNLP 2004): rank words by PageRank
  // over the token co-occurrence graph — the unsupervised keyword
  // extractor that complements q118's RAKE (degree-scored phrase
  // candidates) with a GLOBAL recursive importance score: a word
  // matters because important words co-occur with it. Graph: vertices
  // = corpus vocabulary, undirected edges between ADJACENT tokens
  // (window 2, the paper's keyword setting) weighted by corpus-wide
  // co-occurrence count; self-loops (immediate repetition) excluded —
  // a vertex feeding itself only inflates its own score. Undirected =
  // both directed edges, so out_w(v) = total co-occurrence mass of v
  // and the random walk is symmetric.
  //
  // The ranking loop IS [[Graph.pageRank]] — the same bit-reproducible
  // integer recurrence (scaled ranks, overflow-split contributions,
  // floor per edge) q107 runs over the trade graph, here with
  // smallVertexSet = true: the vertex set is the VOCABULARY, bounded
  // by the language (q88's argument), not the token stream — so each
  // round broadcasts vocab-sized rank/out-weight frames and the edge
  // set is never shuffled. The oracle replays the identical recurrence
  // via Graph.pageRankUnrolledSql — the SAME generator discipline as
  // kmChainSql (one drift surface for the arithmetic).
  //
  // Scale shape: the edge build is one explode + (src, dst) partial
  // aggregate (shuffle bounded by DISTINCT adjacent pairs ≤ vocab²,
  // in practice ≈ vocab-sized — never the token stream); the top-K is
  // the salted two-phase global window (q237's shape).

  /** PUBLIC operator: corpus-level TextRank keywords. Builds the
    * adjacent-token co-occurrence graph, runs `iters` integer PageRank
    * rounds, and returns the top `k` words: (rank, word, rank_scaled)
    * ordered rank_scaled desc / word asc. */
  def textRankKeywords(docs: DataFrame, textCol: String = "text",
      iters: Int = TrIters, k: Int = TrTopK,
      saltBuckets: Int = 64): DataFrame = {
    require(iters >= 1 && iters <= 16 && k >= 1,
      s"textRankKeywords: iters=$iters k=$k out of range " +
        "(each round is an unrolled oracle CTE)")
    // Adjacent pairs via zip_with over two shifted slices, exploded in
    // the SAME select as the token projection — never a
    // transform(sequence(...), i -> element_at(tk, i)...) lambda over an
    // aliased tk: CollapseProject inlines the alias into the lambda BODY,
    // so the full-document regexp_extract_all re-runs PER ARRAY ELEMENT
    // (twice per pair). Measured at sf0.1: 10.7 s for the pair scan with
    // the element_at form vs 0.9 s with zip_with — the regex must be
    // evaluated per ROW, which slices/size do (guide §1/§4: keep the
    // expensive expression out of the per-element path). The slice form
    // also subsumes the one-token guard: slice(tk, 1, greatest(n-1, 0))
    // is empty exactly when n < 2 (Spark's sequence(1, 0) is a
    // DESCENDING [1, 0], so the old form needed an explicit CASE).
    val pairs = docs
      .select(expr(s"regexp_extract_all(lower(`$textCol`), " +
        "'[a-z]+', 0)").as("tk"))
      .select(explode(expr(
        "zip_with(slice(tk, 1, greatest(size(tk) - 1, 0)), " +
        "slice(tk, 2, greatest(size(tk) - 1, 0)), " +
        "(x, y) -> named_struct('a', x, 'b', y))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .where(col("a") =!= col("b"))
    // Symmetrize AFTER the directed-pair aggregate: the old
    // pairs-unionAll-pairs form scanned the token stream twice; the
    // directed (a, b) counts are vocab²-bounded, so flipping THEM costs
    // nothing and w(s,d) = c(s,d) + c(d,s) is the identical BIGINT.
    // ckptLocal: dirCnt feeds both unionAll legs — without the barrier
    // the full token-scan + aggregate subtree is duplicated into each
    // leg and only plan-shape-dependent exchange reuse saves the second
    // scan; the checkpoint (vocab²-bounded, cheap) guarantees one scan.
    val dirCnt = pairs.groupBy("a", "b").agg(count(lit(1)).as("c"))
      .ckptLocal(eager = false)
    val edges = dirCnt.select(col("a").as("src"), col("b").as("dst"), col("c"))
      .unionAll(dirCnt.select(col("b").as("src"), col("a").as("dst"), col("c")))
      .groupBy("src", "dst").agg(sum(col("c")).as("w"))
      .persist() // feeds |V| and every round (q107's trade)
    val pr = Graph.pageRank(edges, iters, TrScale,
      smallVertexSet = true)
    val wLocal = Window.partitionBy("salt")
      .orderBy(col("rank_scaled").desc, col("id").asc)
    val w = Window.orderBy(col("rank_scaled").desc, col("id").asc)
    pr.withColumn("salt", pmod(hash(col("id")), lit(saltBuckets)))
      .withColumn("rl", row_number().over(wLocal))
      .filter(col("rl") <= k)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("rank"), col("id").as("word"), col("rank_scaled"))
  }

  private val TrIters = 5
  private val TrTopK = 30
  private val TrScale = 1000000000000L

  private def q238(s: SparkSession, dir: String): DataFrame =
    textRankKeywords(Tables.load(s, dir, "documents"))

  private val q238Sql =
    s"""WITH toks AS (
       |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS tk
       |  FROM documents
       |), pr AS (
       |  SELECT tk[i] AS a, tk[i + 1] AS b
       |  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS t(i)
       |  WHERE tk[i] != tk[i + 1]
       |), e AS (
       |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM (SELECT a AS src, b AS dst FROM pr
       |        UNION ALL SELECT b, a FROM pr)
       |  GROUP BY src, dst
       |),
       |${Graph.pageRankUnrolledSql(TrIters, TrScale)}
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY r DESC, id ASC)
       |    AS INTEGER) AS rank,
       |  id AS word, r AS rank_scaled
       |FROM it$TrIters
       |ORDER BY r DESC, id ASC LIMIT $TrTopK""".stripMargin

  // --- q24: rolling-hash fingerprints (winnowing) -------------------------
  // Per document: 8-char k-gram hashes (the rolling window), the global
  // min-hash fingerprint, and the winnowing fingerprint count (distinct
  // minima over a 4-hash sliding window — the classic local fingerprinting
  // scheme used for near-dup sketching).
  // graft_char_windows: all 8-grams in one linear pass — the per-position
  // substring lambda is O(len²) in UTF8String boundary scans
  private val kgramHashesSpark =
    "graft_hash60_array(graft_char_windows(text, 8))"

  private def q24(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    Tables.load(s, dir, "documents")
      .withColumn("hs", expr(kgramHashesSpark))
      .select(
        col("doc_id"),
        expr("CAST(size(hs) AS BIGINT)").as("n_kgrams"),
        expr("array_min(hs)").as("fp_min"),
        // Native O(n) monotonic-deque minima ([[graft.functions.WindowMin]])
        // vs the O(n·w) interpreted slice+array_min lambda
        expr("CAST(size(array_distinct(graft_window_min(hs, 4))) AS BIGINT)")
          .as("n_winnow"))
  }

  private val q24Sql = {
    val h = Dialect.duckHash60("substr(text, i, 8)")
    s"""WITH hashed AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, greatest(length(text)-7, 1)),
       |      i -> $h) AS hs
       |  FROM documents
       |)
       |SELECT doc_id,
       |  len(hs) AS n_kgrams,
       |  list_min(hs) AS fp_min,
       |  len(list_distinct(list_transform(
       |    generate_series(1, greatest(len(hs)-3, 1)),
       |    j -> list_min(hs[j:j+3])))) AS n_winnow
       |FROM hashed""".stripMargin
  }

  // --- q40: fixed-size sequence chunking ----------------------------------
  // The document→training-window fan-out: each document's token stream
  // splits into chunks of `ChunkTokens` tokens (last chunk ragged).
  // One scan, explode to (doc, chunk) rows, per-chunk stats — the shape a
  // packing/tokenization stage feeds to a trainer. Map-side except the
  // final tiny histogram on chunk ordinal.
  private val ChunkTokens = 64

  // `greatest(..., 1)` pins zero-token docs to exactly ONE empty chunk on
  // both engines: without it Spark's sequence(0, -1) yields [0, -1]
  // (descending default step — two phantom chunks) while DuckDB's
  // generate_series(0, -1) yields [] (zero rows).
  private def q40(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '[a-z]+', 0)"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, greatest(CAST(ceil(size(toks) / $ChunkTokens.0) AS INT), 1) - 1),
           |  c -> slice(toks, c * $ChunkTokens + 1, $ChunkTokens))"""
          .stripMargin)).as(Seq("chunk_idx", "chunk")))
      .groupBy(col("chunk_idx").cast("bigint").as("chunk_idx"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(expr("size(chunk)")).as("n_tokens"),
        min(expr("size(chunk)")).cast("bigint").as("min_len"),
        countDistinct(expr("chunk[0]")).as("n_first_tokens"))

  private val q40Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS toks
       |  FROM documents
       |), chunks AS (
       |  SELECT doc_id, c AS chunk_idx,
       |    toks[c * $ChunkTokens + 1 : (c + 1) * $ChunkTokens] AS chunk
       |  FROM toks, unnest(generate_series(0,
       |    GREATEST(CAST(CEIL(len(toks) / $ChunkTokens.0) AS INT), 1) - 1)) AS t(c)
       |)
       |SELECT CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  COUNT(*) AS n_chunks,
       |  CAST(SUM(len(chunk)) AS BIGINT) AS n_tokens,
       |  CAST(MIN(len(chunk)) AS BIGINT) AS min_len,
       |  COUNT(DISTINCT chunk[1]) AS n_first_tokens
       |FROM chunks GROUP BY 1""".stripMargin

  // --- q57: TF-IDF term weighting ------------------------------------------
  // Corpus-level term importance: tf (total occurrences) weighted by
  // inverse document frequency. The idf here is the RATIONAL N/df, not
  // log(N/df): log is not correctly-rounded across libms, which would
  // break bit-parity with the oracle — and the transform is monotone, so
  // the ranking (the thing a pipeline consumes) is identical. One
  // explode → (term) aggregation; N rides along via a broadcast of the
  // 1-row corpus count.
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(n))
      .select(col("term"), col("tf"), col("df"),
        round(col("tf").cast("double") * col("n_docs").cast("double")
          / col("df").cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("term").asc)
      .limit(20)
  }

  private val q57Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS term
      |  FROM documents
      |)
      |SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df,
      |  round(CAST(COUNT(*) AS DOUBLE)
      |    * CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
      |    / CAST(COUNT(DISTINCT doc_id) AS DOUBLE), 6) AS score
      |FROM toks GROUP BY term
      |ORDER BY score DESC, term ASC LIMIT 20""".stripMargin

  // --- q70: benchmark decontamination (n-gram overlap) ---------------------
  // The standard training-data hygiene pass: drop (here: count) training
  // documents that share any word 5-gram with a held-out evaluation set.
  // Held-out set = doc_id ≡ 0 (mod 17) — deterministic and ~6% of the
  // corpus, mirroring a benchmark suite's size relative to a crawl.
  //
  // Scale design: the eval side's distinct shingles are TINY relative to
  // the corpus (benchmarks are MBs, crawls are TBs), so the containment
  // check is a BROADCAST semi-join against the exploded training shingles
  // — the 100 TB side is never shuffled, and the whole operator is one
  // map-side pass + a small per-source aggregate.
  private def q70(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val docs = Tables.load(s, dir, "documents")
      .withColumn("sh",
        expr("graft_shingles(regexp_extract_all(text, '[a-z]+', 0), 5)"))
    val evalGrams = docs.filter(col("doc_id") % 17 === 0)
      .select(explode(col("sh")).as("g")).distinct()
    val train = docs.filter(col("doc_id") % 17 =!= 0)
    val contaminated = train
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select("doc_id").distinct()
    train.join(contaminated, Seq("doc_id"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_contaminated"))
      .join(train.groupBy("source").agg(count(lit(1)).as("n_train")),
        Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
  }

  // Oracle mirror of graft_shingles(toks, 5): max(|toks|−4, 1) slices,
  // deduplicated (first-occurrence order is irrelevant downstream).
  private val q70Sql =
    """WITH sh AS (
      |  SELECT doc_id, source,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(len(toks) - 4, 1)),
      |      i -> array_to_string(toks[i:i+4], ' '))) AS sh
      |  FROM (SELECT doc_id, source,
      |          regexp_extract_all(text, '[a-z]+') AS toks
      |        FROM documents)
      |), eval_grams AS (
      |  SELECT DISTINCT g FROM sh, unnest(sh.sh) AS t(g)
      |  WHERE doc_id % 17 = 0
      |), train AS (
      |  SELECT * FROM sh WHERE doc_id % 17 <> 0
      |), contaminated AS (
      |  SELECT DISTINCT doc_id FROM train, unnest(train.sh) AS t(g)
      |  WHERE g IN (SELECT g FROM eval_grams)
      |)
      |SELECT source,
      |  COUNT(*) AS n_train,
      |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM contaminated)
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
      |FROM train GROUP BY source""".stripMargin

  // --- q80: token packing (concat-and-chunk context-window assignment) ---
  // The batch-construction step of a pretraining pipeline: documents are
  // concatenated per source in a deterministic order (doc_id) and chunked
  // into fixed token budgets; a document belongs to the context window
  // where its first token lands — bin = exclusive-prefix-token-count div
  // budget, the standard concat-and-chunk assignment. Per (source, bin):
  // document count, token mass, and the doc-id span — the manifest a
  // downstream batch loader would read.
  //
  // Scale shape: one scan computes token counts (map-side higher-order
  // exprs, no UDF), one window per source computes the exclusive running
  // sum, one small shuffle aggregates per (source, bin). At 100 TB the
  // per-source window is the scale limit IF one source dominates — then
  // the running sum goes through the value-bucketed two-pass scan
  // ([[graft.plans.PrefixSum]], same trick as q20) instead of a single
  // window; the battery keeps the window form because sources here are
  // balanced and the assignment is identical.
  private val packBudget = 4096L

  /** PUBLIC operator: concat-and-chunk token packing. Assigns each
    * document to the fixed-`budget` context window where its first token
    * lands (bin = exclusive prefix token count div budget, per
    * `groupCol` in `orderCol` order) and returns the per-(group, bin)
    * manifest: doc count, token mass, id span. One scan + one per-group
    * window + one partial aggregation that reuses the window's hash
    * partitioning (verified single-exchange plan).
    */
  def tokenPacking(docs: DataFrame, budget: Long = packBudget,
      groupCol: String = "source", orderCol: String = "doc_id",
      textCol: String = "text", nTokCol: Option[String] = None): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      // nTokCol: callers that already tokenized (q129's pipeline) pass
      // their count through instead of paying the regex a second time —
      // same '[a-z0-9]+' contract, identical manifest
      .withColumn("n_tok", nTokCol.map(c => col(c).cast("bigint")).getOrElse(
        expr(s"CAST(size(regexp_extract_all($textCol, '[a-z0-9]+', 0)) AS BIGINT)")))
      .withColumn("prev", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", expr(s"prev div $budget"))
      .groupBy(groupCol, "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("bin_tokens"),
        min(col(orderCol)).as("first_doc"),
        max(col(orderCol)).as("last_doc"))
  }

  private def q80(s: SparkSession, dir: String): DataFrame =
    tokenPacking(Tables.load(s, dir, "documents"))

  /** PUBLIC operator: [[tokenPacking]]'s DOMINANT-SOURCE scale path —
    * the same concat-and-chunk assignment computed through the
    * distributed two-pass prefix scan ([[graft.plans.PrefixSum]])
    * instead of a per-source window. When one source is so large that a
    * single window partition would serialize it, the scan range-buckets
    * the order key, runs per-(source, bucket) local sums in parallel,
    * and broadcasts per-source exclusive carry-ins — same manifest, no
    * single-task bottleneck. The scan is GROUPED (PrefixSum groupCols):
    * every source packs independently in ONE pass, so mixed input —
    * some sources huge, some small — needs no per-source dispatch;
    * q95 proves bit-equality with the window form under the oracle
    * across all sources.
    */
  def tokenPackingViaScan(docs: DataFrame, budget: Long = packBudget,
      groupCol: String = "source", orderCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // localCheckpoint barrier: PrefixSum.scan evaluates its input three
    // times (bounds pass, totals branch, local scan) — without the
    // barrier the regexp tokenization (and any upstream join) re-executes
    // per branch, 2-3× the dominant source's scan cost thrown away at
    // the very scale this operator exists for. Same lineage-truncation
    // trade as minHashLshPairs (blocks auto-freed on GC).
    val toks = docs.withColumn("n_tok",
      expr(s"CAST(size(regexp_extract_all(`$textCol`, '[a-z0-9]+', 0)) " +
        "AS BIGINT)"))
      .ckptLocal(eager = false)
    graft.plans.PrefixSum
      .scan(toks, orderCol, Seq(col(orderCol)), Seq("n_tok" -> "__run"),
        groupCols = Seq(groupCol))
      // inclusive running sum → exclusive prefix (the doc's own tokens
      // don't count toward its bin assignment)
      .withColumn("__prev", col("__run") - col("n_tok"))
      .withColumn("bin", expr(s"__prev div $budget"))
      .groupBy(groupCol, "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("bin_tokens"),
        min(col(orderCol)).as("first_doc"),
        max(col(orderCol)).as("last_doc"))
  }

  // --- q95: the scan-based packing path under the oracle -------------------
  // ALL sources packed in one grouped PrefixSum scan; the oracle is q80's
  // SQL shape at this budget — proving the two-pass scan assigns every
  // document of every source the exact same bin as the per-source window
  // form (per-group carry-in arithmetic included). Budget 512 (not q80's
  // 4096) so each source's token mass genuinely splits into many bins at
  // the gate scale — a 1-bin-per-source result would verify nothing
  // about carry-ins.
  private val q95Budget = 512L

  private def q95(s: SparkSession, dir: String): DataFrame =
    tokenPackingViaScan(Tables.load(s, dir, "documents"),
      budget = q95Budget)

  private val q95Sql =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok
       |  FROM documents
       |), c AS (
       |  SELECT source, doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS prev
       |  FROM t
       |)
       |SELECT source, prev // $q95Budget AS bin, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM c GROUP BY source, prev // $q95Budget""".stripMargin

  private val q80Sql =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok
       |  FROM documents
       |), c AS (
       |  SELECT source, doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS prev
       |  FROM t
       |)
       |SELECT source, prev // $packBudget AS bin, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM c GROUP BY source, prev // $packBudget""".stripMargin

  // --- q85: weighted mixture sampling (training-mix construction) ---------
  // The step that turns per-source weights into an actual training mix:
  // each source gets a deterministic sampling rate and membership is a
  // pure hash function of the document key — stable across engines, runs,
  // and cluster sizes (the q54 stance: engine RNG TABLESAMPLE is useless
  // under a cross-engine oracle and non-reproducible in production). The
  // per-source rates here derive from the source-name hash (25/50/75/100%
  // — config-equivalent, so the oracle reproduces them); the output is
  // the mix manifest: docs, target rate, sampled count, achieved rate.
  // One scan, one small aggregation — map-side at any scale.

  /** PUBLIC operator: deterministic weighted sampler. Keeps the rows
    * whose `keySql` hash lands under the per-row `rate` percentage —
    * membership is a pure function of the key, so the sample is
    * reproducible everywhere. `rate` is typically a per-source/stratum
    * weight column joined or derived onto the frame. A pure filter: the
    * output is exactly the caller's schema (no working columns added or
    * overwritten).
    */
  def mixtureSample(docs: DataFrame, rate: org.apache.spark.sql.Column,
      keySql: String): DataFrame =
    docs.filter(expr(s"${Dialect.sparkHash60(keySql)} % 100") < rate)

  private val q85RateSpark = s"25 * (1 + ${Dialect.sparkHash60("source")} % 4)"
  private val q85RateDuck = s"25 * (1 + ${Dialect.duckHash60("source")} % 4)"

  private def q85(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("rate", expr(q85RateSpark))
      .withColumn("sampled",
        (expr(s"${Dialect.sparkHash60("CAST(doc_id AS STRING)")} % 100")
          < col("rate")).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("rate")).cast("bigint").as("rate_pct"),
        sum(col("sampled")).as("n_sampled"),
        round(sum(col("sampled")) * 100.0 / count(lit(1)), 2)
          .as("achieved_pct"))

  private val q85Sql =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(MAX(rate) AS BIGINT) AS rate_pct,
       |  CAST(SUM(sampled) AS BIGINT) AS n_sampled,
       |  round(SUM(sampled) * 100.0 / COUNT(*), 2) AS achieved_pct
       |FROM (SELECT source, $q85RateDuck AS rate,
       |        CASE WHEN ${Dialect.duckHash60("CAST(doc_id AS VARCHAR)")}
       |          % 100 < $q85RateDuck THEN 1 ELSE 0 END AS sampled
       |      FROM documents)
       |GROUP BY source""".stripMargin

  /** PUBLIC operator: deterministic EXACT-SIZE stratified sample — the
    * min(k, |stratum|) rows with the smallest key-hash per stratum
    * (hash then key as tiebreak: fully deterministic, engine-portable,
    * stable across runs/cluster sizes — the eval-set counterpart of
    * [[mixtureSample]]'s rate-based mix). Scale shape: ONE window
    * shuffle, and the rank-limit filter compiles to WindowGroupLimit
    * (spec-pinned), so each map task pre-prunes to its local top-k and
    * no reducer ever sees a full stratum. Output is exactly the
    * caller's schema.
    */
  def stratifiedSample(df: DataFrame, k: Int, keySql: String,
      strataCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(expr(Dialect.sparkHash60(keySql)).asc, expr(keySql).asc)
    df.withColumn("__ss_rn", row_number().over(w))
      .filter(col("__ss_rn") <= k)
      .drop("__ss_rn")
  }

  // --- q94: exact-size stratified sample over documents --------------------
  // 5 documents per source, membership a pure function of doc_id — the
  // deterministic "pick n examples per stratum" primitive an eval-set
  // build runs. Oracle replays the identical hash-ranked window.
  private val q94K = 5

  private def q94(s: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.load(s, dir, "documents"), q94K,
      keySql = "CAST(doc_id AS STRING)", strataCols = Seq("source"))
      .select("source", "doc_id", "n_chars")

  private val q94Sql = {
    val h = Dialect.duckHash60("CAST(doc_id AS VARCHAR)")
    s"""SELECT source, doc_id, n_chars FROM (
       |  SELECT source, doc_id, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY $h ASC, CAST(doc_id AS VARCHAR) ASC) AS rn
       |  FROM documents)
       |WHERE rn <= $q94K""".stripMargin
  }

  // --- q229: systematic PPS sampling (probability ∝ weight, no RNG) --------
  // The WEIGHTED complement of q94's equal-per-stratum pick and q85's
  // rate-based mix: sample k items with inclusion probability
  // proportional to an integral weight (token count, quality score) —
  // the "sample training docs by token mass" primitive. Method:
  // systematic PPS (Madow, Ann. Math. Stat. 1949) — lay the items on
  // the cumulative-weight axis in a deterministic total order (by id),
  // drop k MIDPOINT selection points p_j = (2j+1)·W/(2k), and select
  // every item whose weight interval [W_{i−1}, W_i) contains a point.
  // Multiplicity is the honest PPS-without-replacement answer for
  // items heavier than W/k (they cover several points); Σ n_picks = k
  // EXACTLY by telescoping (PpsSampleSpec pins it).
  //
  // Deterministic and integer-exact end-to-end: no RNG (the fixed
  // midpoint grid is the determinism device — same discipline as q94's
  // hash ranks), and the point-in-interval count has the closed form
  // f(x) = min(k, (2k·x + W − 1) div (2W)) evaluated per row in BIGINT
  // (numerator bound: 2k·W must stay < 2⁶³ — guarded in-plan,
  // fail-loud). The cumulative weights come from [[graft.plans
  // .PrefixSum.scan]] (range-bucketed two-pass, never a single-task
  // global window), so the whole operator is one prefix scan + one
  // per-row projection — no join, no extra shuffle. Oracle replays the
  // identical arithmetic over a plain window SUM.

  /** PUBLIC operator: systematic PPS sample of `k` picks. `items`
    * needs a unique numeric `idCol` (the deterministic order) and a
    * non-negative integral `wCol`; zero-weight rows are unsampleable
    * and dropped, negative weights fail loud. Output: the selected
    * rows as (`idCol`, `w`, `n_picks`), n_picks ≥ 1, Σ = k. */
  def ppsSample(items: DataFrame, k: Int, idCol: String = "doc_id",
      wCol: String = "w"): DataFrame = {
    require(k >= 1 && k <= 100000000,
      s"ppsSample: k=$k outside 1..1e8 (2k·W must stay within BIGINT)")
    val base = items.select(col(idCol).as("__id"),
        col(wCol).cast("long").as("__w"))
      .where(coalesce(
        assert_true(col("__w") >= 0,
          lit("ppsSample: negative weight — inclusion probability " +
            "is undefined")),
        lit(true)))
      .filter(col("__w") > 0)
    val cum = graft.plans.PrefixSum.scan(base, "__id",
      Seq(col("__id")), Seq(("__w", "__cw")))
    // Guard as a FILTER, not a projected column: an unreferenced
    // projection is dropped by Catalyst column pruning (its assert_true
    // only fires if the column is consumed), which would turn this
    // fail-loud bound into silent wraparound. The filter form is the
    // same pattern as the negative-weight guard above; PpsSampleSpec
    // pins that it actually fires.
    val tot = base.groupBy().agg(sum(col("__w")).as("__wt"))
      .where(coalesce(
        assert_true(col("__wt") <= Long.MaxValue / (2L * k),
          lit(s"ppsSample: 2k·W overflows BIGINT at k=$k — shrink k " +
            "or rescale weights")),
        lit(true)))
    // integral div (never Column./, which routes through DOUBLE and
    // loses exactness past 2^53)
    def f(x: String) = least(lit(k.toLong),
      expr(s"(${2L * k}L * ($x) + __wt - 1) div (2L * __wt)"))
    cum.crossJoin(broadcast(tot))
      .withColumn("n_picks", f("__cw") - f("__cw - __w"))
      .filter(col("n_picks") >= 1)
      .select(col("__id").as(idCol), col("__w").as("w"), col("n_picks"))
  }

  private val PpsK = 100

  private def q229(s: SparkSession, dir: String): DataFrame =
    ppsSample(Tables.load(s, dir, "documents").select(col("doc_id"),
        expr("CAST(size(regexp_extract_all(text, '[a-z]+', 0)) AS BIGINT)")
          .as("w")),
      k = PpsK)

  private val q229Sql =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS w
       |  FROM documents
       |), p AS (
       |  SELECT doc_id, w,
       |    CAST(SUM(w) OVER (ORDER BY doc_id) AS BIGINT) AS cw
       |  FROM t WHERE w > 0
       |), tot AS (
       |  SELECT CAST(SUM(w) AS BIGINT) AS wt FROM t WHERE w > 0
       |)
       |SELECT doc_id, w, n_picks FROM (
       |  SELECT doc_id, w,
       |    LEAST($PpsK, (${2 * PpsK} * cw + wt - 1) // (2 * wt))
       |    - LEAST($PpsK, (${2 * PpsK} * (cw - w) + wt - 1) // (2 * wt))
       |      AS n_picks
       |  FROM p, tot)
       |WHERE n_picks >= 1""".stripMargin

  // --- q86: deterministic train/val/test split ----------------------------
  // The dataset-partitioning step: every document lands in EXACTLY one of
  // train (80%), val (10%), test (10%) by hash of its key — disjoint and
  // exhaustive by construction (one CASE over one hash bucket), stable
  // across engines/runs/cluster sizes, and decoupled from q70's
  // decontamination (which removes eval-overlapping TRAIN docs after the
  // split). Per split: count, share, doc-id span — the manifest the
  // downstream loaders consume.
  private val q86BucketSpark =
    s"${Dialect.sparkHash60("CAST(doc_id AS STRING)")} % 100"
  private val q86BucketDuck =
    s"${Dialect.duckHash60("CAST(doc_id AS VARCHAR)")} % 100"

  private def q86(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("split",
        expr(s"""CASE WHEN $q86BucketSpark < 80 THEN 'train'
             |WHEN $q86BucketSpark < 90 THEN 'val'
             |ELSE 'test' END""".stripMargin))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(col("n_chars")).as("chars_total"))

  private val q86Sql =
    s"""SELECT CASE WHEN $q86BucketDuck < 80 THEN 'train'
       |            WHEN $q86BucketDuck < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, MIN(doc_id) AS min_doc,
       |  MAX(doc_id) AS max_doc,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars_total
       |FROM documents GROUP BY 1""".stripMargin

  // --- q87: intra-document repetition metrics (quality filtering) ---------
  // The repetition signals large-corpus quality filters actually use
  // (Gopher/C4-style): a document dominated by one repeated bigram, or
  // whose word 5-grams are mostly repeats, is boilerplate/spam. Both
  // metrics are PER-ROW higher-order array folds over one scan — no
  // shuffle anywhere, embarrassingly parallel at 100 TB (the alternative
  // explode → groupBy(doc, gram) shape shuffles the full n-gram stream;
  // the per-row sort+fold keeps it map-side: O(n log n) per document).

  /** PUBLIC operator: per-document repetition metrics.
    *   - `top_bigram_n` / `top_bigram_frac`: occurrences of the most
    *     frequent word bigram and its share of all bigrams (sort the
    *     bigram array, longest equal-run via one aggregate fold).
    *   - `dup5_frac`: fraction of word 5-grams that are repeats
    *     (1 − distinct/total).
    * Documents too short for a metric yield NULL (not 0 — absence of
    * evidence), same contract as q21's zero-token guard.
    */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("toks", expr(s"regexp_extract_all($textCol, '[a-z]+', 0)"))
      .withColumn("bg", expr(
        """CASE WHEN size(toks) < 2 THEN array()
          |ELSE transform(sequence(1, size(toks) - 1),
          |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))
          |END""".stripMargin))
      .withColumn("g5", expr(
        """CASE WHEN size(toks) < 5 THEN array()
          |ELSE transform(sequence(1, size(toks) - 4),
          |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
          |    element_at(toks, i + 2), element_at(toks, i + 3),
          |    element_at(toks, i + 4)))
          |END""".stripMargin))
      // longest equal-run over the SORTED bigrams = max bigram frequency;
      // prev-tracking fold, null-safe <=> so the NULL seed never matches
      .withColumn("top_n", expr(
        """CASE WHEN size(bg) = 0 THEN CAST(NULL AS BIGINT) ELSE
          |aggregate(array_sort(bg),
          |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
          |  (a, x) -> named_struct(
          |    'prev', x,
          |    'run',  CASE WHEN x <=> a.prev THEN a.run + 1L ELSE 1L END,
          |    'best', greatest(a.best,
          |      CASE WHEN x <=> a.prev THEN a.run + 1L ELSE 1L END)),
          |  a -> a.best) END""".stripMargin))
      .select(
        col(idCol),
        expr("CAST(size(bg) AS BIGINT)").as("n_bigrams"),
        col("top_n").as("top_bigram_n"),
        expr("""CASE WHEN size(bg) = 0 THEN CAST(NULL AS DOUBLE)
             |ELSE round(CAST(top_n AS DOUBLE) / size(bg), 6) END"""
          .stripMargin).as("top_bigram_frac"),
        expr("""CASE WHEN size(g5) = 0 THEN CAST(NULL AS DOUBLE)
             |ELSE round(1.0 - CAST(size(array_distinct(g5)) AS DOUBLE)
             |  / size(g5), 6) END""".stripMargin).as("dup5_frac"))

  private def q87(s: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables.load(s, dir, "documents"))

  // Oracle computes the max bigram frequency by unnest + GROUP BY — a
  // different (shuffle) shape proving the per-row fold equals the
  // canonical count; LEFT JOIN keeps too-short docs with NULL metrics.
  private val q87Sql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS w FROM documents
      |), grams AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) < 2 THEN [] ELSE
      |      list_transform(generate_series(1, len(w) - 1),
      |        i -> concat_ws(' ', w[i], w[i + 1])) END AS bg,
      |    CASE WHEN len(w) < 5 THEN [] ELSE
      |      list_transform(generate_series(1, len(w) - 4),
      |        i -> concat_ws(' ', w[i], w[i + 1], w[i + 2], w[i + 3],
      |          w[i + 4])) END AS g5
      |  FROM toks
      |), topb AS (
      |  SELECT doc_id, MAX(n) AS top_n FROM (
      |    SELECT doc_id, g, COUNT(*) AS n
      |    FROM (SELECT doc_id, unnest(bg) AS g FROM grams)
      |    GROUP BY doc_id, g)
      |  GROUP BY doc_id
      |)
      |SELECT g.doc_id,
      |  CAST(len(bg) AS BIGINT) AS n_bigrams,
      |  CAST(top_n AS BIGINT) AS top_bigram_n,
      |  CASE WHEN len(bg) = 0 THEN NULL
      |    ELSE round(CAST(top_n AS DOUBLE) / len(bg), 6) END
      |    AS top_bigram_frac,
      |  CASE WHEN len(g5) = 0 THEN NULL
      |    ELSE round(1.0 - CAST(len(list_distinct(g5)) AS DOUBLE)
      |      / len(g5), 6) END AS dup5_frac
      |FROM grams g LEFT JOIN topb USING (doc_id)""".stripMargin

  // --- q88: corpus vocabulary / Zipf statistics ---------------------------
  // The corpus-level profile a data curator reads before training: per
  // source, vocabulary size, token mass, hapax fraction (share of terms
  // seen exactly once — the long tail), and the token-mass share of the
  // top-100 terms (Zipf head coverage). Cross-document by nature, so it
  // SHUFFLES — but the shuffle key is (source, term): map-side partial
  // aggregation collapses the token stream to the VOCABULARY before the
  // exchange, and the rank window runs over per-source vocab (bounded by
  // the language, not the corpus) — the shape survives 100 TB.
  private val zipfTopK = 100

  /** PUBLIC operator: per-`groupCol` vocabulary statistics (see q88). */
  def vocabularyStats(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", topK: Int = zipfTopK): DataFrame = {
    val w = Window.partitionBy(groupCol)
      .orderBy(col("n").desc, col("tok").asc)
    docs
      .select(col(groupCol),
        explode(expr(s"regexp_extract_all($textCol, '[a-z]+', 0)")).as("tok"))
      .groupBy(groupCol, "tok")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("vocab_size"),
        sum(col("n")).as("n_tokens"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax_n"),
        sum(when(col("rn") <= topK, col("n")).otherwise(0L))
          .as("__topk_mass"))
      // ratios derived from the already-computed counts — one aggregation
      // buffer per quantity, and the numerator/denominator can't drift
      // from the counts they describe
      .select(col(groupCol), col("vocab_size"), col("n_tokens"),
        col("hapax_n"),
        round(col("hapax_n").cast("double") / col("vocab_size"), 6)
          .as("hapax_frac"),
        round(col("__topk_mass").cast("double") / col("n_tokens"), 6)
          .as("topk_coverage"))
  }

  private def q88(s: SparkSession, dir: String): DataFrame =
    vocabularyStats(Tables.load(s, dir, "documents"))

  private val q88Sql =
    s"""WITH tok AS (
       |  SELECT source, unnest(regexp_extract_all(text, '[a-z]+')) AS tok
       |  FROM documents
       |), c AS (
       |  SELECT source, tok, COUNT(*) AS n FROM tok GROUP BY source, tok
       |), r AS (
       |  SELECT source, n,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |                       ORDER BY n DESC, tok ASC) AS rn
       |  FROM c
       |)
       |SELECT source, COUNT(*) AS vocab_size,
       |  CAST(SUM(n) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_n,
       |  round(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS hapax_frac,
       |  round(CAST(SUM(CASE WHEN rn <= $zipfTopK THEN n ELSE 0 END)
       |    AS DOUBLE) / SUM(n), 6) AS topk_coverage
       |FROM r GROUP BY source""".stripMargin

  // --- q90: the curation pipeline, end-to-end ------------------------------
  // The capstone composition a real corpus run executes as ONE job: exact
  // dedup (keep-first survivors) → quality filter (score ≥ mid tier) →
  // deterministic train split (hash bucket < 80) → context-window token
  // packing → per-source manifest. Every stage is a public operator whose
  // own battery entry is independently oracle-checked (q72, q22, q86,
  // q80); this entry proves they COMPOSE into one lazy plan — one
  // pipeline, no intermediate materialization, each stage's shuffle
  // feeding the next (dup-key window → map-side score/hash filters →
  // per-source packing window → small manifest agg).
  private val q90QualityMin = 0.70

  private def q90(s: SparkSession, dir: String): DataFrame = {
    val survivors = Dedup.keepFirstSurvivors(
      Tables.load(s, dir, "documents"), Dedup.dedupKey())
    val train = survivors
      .withColumn("toks", expr("regexp_extract_all(text, '[a-z]+', 0)"))
      .withColumn("score", expr(scoreExprSpark))
      .filter(col("score") >= q90QualityMin)
      .filter(expr(s"$q86BucketSpark < 80"))
    tokenPacking(train)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("bin_tokens")).as("n_tokens"))
  }

  private val q90Sql =
    s"""WITH ranked AS (
       |  SELECT doc_id, source, text,
       |    ROW_NUMBER() OVER (PARTITION BY ${Dedup.keyDuck}
       |                       ORDER BY doc_id ASC) AS rn
       |  FROM documents
       |), surv AS (
       |  SELECT doc_id, source, text FROM ranked WHERE rn = 1
       |), scored AS (
       |  SELECT doc_id, source, text, $scoreExprDuck AS score
       |  FROM (SELECT doc_id, source, text,
       |          regexp_extract_all(text, '[a-z]+') AS toks
       |        FROM surv)
       |), train AS (
       |  SELECT source, doc_id,
       |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok
       |  FROM scored
       |  WHERE score >= $q90QualityMin AND $q86BucketDuck < 80
       |), packed AS (
       |  SELECT source,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) // $packBudget AS bin,
       |    n_tok
       |  FROM train
       |), bins AS (
       |  SELECT source, bin, COUNT(*) AS n_docs, SUM(n_tok) AS bin_tokens
       |  FROM packed GROUP BY source, bin
       |)
       |SELECT source, COUNT(*) AS n_bins,
       |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |  CAST(SUM(bin_tokens) AS BIGINT) AS n_tokens
       |FROM bins GROUP BY source""".stripMargin

  // --- q98: PII detection + redaction -------------------------------------
  // The compliance pass every training corpus needs before anything else
  // touches it: detect and mask emails, phone numbers, IPv4 addresses,
  // and long digit runs (account/SSN-shaped ids). Pure map-side — four
  // codegen'd regexps per row, no shuffle, no UDF — so at 100 TB it runs
  // at scan speed and composes in front of any pipeline (the curation
  // capstone's shape). Patterns are RE2-safe (no lookaround) so the same
  // literal runs on Spark's Java regex and DuckDB's RE2 identically.
  // IPv4 is OCTET-RANGE-EXACT (0–255 per octet, no leading zeros): a
  // naive \d{1,3} quad also masks version strings and section numbers
  // ("999.999.1.1") — over-redaction that silently eats non-PII text.
  // The \b guards also stop a mid-number match ("1234.5.6.7" never
  // yields ".5.6.7" as an IP). Alternation order is longest-first and
  // both engines (Java regex, DuckDB RE2) match leftmost-first, so the
  // same literal behaves identically.
  private val Octet = """(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"""
  private val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("emails", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""",
      "<EMAIL>"),
    ("phones", """\b\d{3}-\d{3}-\d{4}\b""", "<PHONE>"),
    ("ipv4s", s"""\\b$Octet(\\.$Octet){3}\\b""", "<IP>"),
    ("digit_ids", """\b\d{9,}\b""", "<ID>"))

  /** PUBLIC operator: PII detection + redaction. Appends per-class match
    * counts (`n_emails`, `n_phones`, `n_ipv4s`, `n_digit_ids`, counted on
    * the ORIGINAL text so overlapping classes report independently) and
    * the masked `redacted` text (classes replaced in the declared order —
    * email, phone, IPv4, digit-run — so a phone never half-matches inside
    * an already-masked email). Map-side only; keeps caller schema.
    */
  def piiRedact(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = PiiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(col(textCol), lit(pat), lit(0)))
        .cast("long").as(s"n_$name")
    }
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pat, repl)) => regexp_replace(c, lit(pat), lit(repl))
    }
    docs.select(docs.columns.map(col) ++ counts
      :+ redacted.as("redacted"): _*)
  }

  // The synthetic corpus carries no digits at all, so the battery entry
  // plants deterministic PII — the same pure-arithmetic snippets on both
  // engines (doc_id-keyed, every class exercised) — then proves detection
  // counts AND the exact redacted string (md5) match.
  private def q98(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val aug = docs.withColumn("text", concat(
      col("text"),
      when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com now")))
        .otherwise(""),
      when(col("doc_id") % 5 === 0, concat(lit(" from 10.0."),
        (col("doc_id") % 256).cast("string"), lit("."),
        (col("doc_id") % 250 + 1).cast("string"))).otherwise(""),
      when(col("doc_id") % 7 === 0, concat(lit(" call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(""),
      when(col("doc_id") % 11 === 0, concat(lit(" account 9"),
        lpad((col("doc_id") % 100000000).cast("string"), 8, "0")))
        .otherwise("")))
    piiRedact(aug).select(
      col("doc_id"), col("source"),
      col("n_emails"), col("n_phones"), col("n_ipv4s"), col("n_digit_ids"),
      length(col("redacted")).cast("long").as("redacted_len"),
      md5(col("redacted")).as("redacted_md5"))
  }

  private val q98Sql =
    """WITH aug AS (
      |  SELECT doc_id, source,
      |    text
      |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
      |         || CAST(doc_id AS VARCHAR) || '@example.com now'
      |       ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.'
      |         || CAST(doc_id % 256 AS VARCHAR) || '.'
      |         || CAST(doc_id % 250 + 1 AS VARCHAR)
      |       ELSE '' END
      |    || CASE WHEN doc_id % 7 = 0 THEN ' call 555-'
      |         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
      |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |       ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0 THEN ' account 9'
      |         || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0')
      |       ELSE '' END AS t
      |  FROM documents
      |), red AS (
      |  SELECT doc_id, source, t,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
      |      '\b(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}\b', '<IP>', 'g'),
      |      '\b\d{9,}\b', '<ID>', 'g') AS redacted
      |  FROM aug
      |)
      |SELECT doc_id, source,
      |  CAST(len(regexp_extract_all(t,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT)
      |    AS n_phones,
      |  CAST(len(regexp_extract_all(t,
      |    '\b(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(\.(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}\b'))
      |    AS BIGINT) AS n_ipv4s,
      |  CAST(len(regexp_extract_all(t, '\b\d{9,}\b')) AS BIGINT)
      |    AS n_digit_ids,
      |  CAST(length(redacted) AS BIGINT) AS redacted_len,
      |  md5(redacted) AS redacted_md5
      |FROM red""".stripMargin

  // --- q99: unigram LM scoring (the "perplexity filter") ------------------
  // The quality gate real curation pipelines run: score each document by
  // its mean token log-probability under a unigram model of the corpus
  // itself; improbable-token-heavy docs rank low. Two passes: (1) the
  // vocabulary build — q88's shape, partial map-side counts, the shuffle
  // carries (token, count) bounded by the LANGUAGE's vocabulary, never
  // the token stream; (2) scoring — the (token → quantized logp) table
  // is folded into ONE broadcast map row and every document scores
  // map-side with an in-array fold (no shuffle, no join) — while the
  // vocabulary stays under the measured break-even (256 terms; the
  // map lookup is a linear scan, see unigramLogProb). Past it, the
  // auto-select switches to the explode + vocab equi-join
  // (decontamination's shape); semantics identical, bit-equal.
  //
  // Cross-engine exactness: ln() is libm, not IEEE-pinned, so per-token
  // log-probs are QUANTIZED to integer millinats — floor(ln(p)·1000) —
  // and each doc aggregates a BIGINT sum (order-independent, exact).
  // A last-ulp libm difference flips a quantized value only when
  // ln(p)·1000 sits within ~1e-10 of an integer, and only DISTINCT
  // vocabulary probabilities (not tokens) are exposed to that — margin
  // documented, vanishing in practice. The per-doc mean stays in
  // INTEGER micro-nats via explicit floor division (a double mean hit a
  // real round-half tie at 6dp on the first gate run: Spark HALF_UP vs
  // DuckDB's nearest-even disagreed on -3.4877125).

  /** PUBLIC operator: per-document unigram log-prob scoring. Returns
    * doc_id/source plus `n_toks`, the exact `sum_logp_milli` (BIGINT
    * millinats), and `mean_logp_micro` (BIGINT micro-nats, floor of the
    * exact rational mean; NULL for zero-token docs). The model is the
    * corpus's own unigram distribution; unseen tokens are impossible by
    * construction (score NULLs loudly if a caller scores foreign text
    * against this corpus's map).
    *
    * TWO scoring paths, bit-identical (integer millinat sums are
    * order-independent; UnigramPathSpec proves equality):
    *  - broadcast: the (token → quantized logp) table folds into ONE
    *    map row broadcast to the scorers — zero scoring shuffle. The
    *    cliff: `element_at` on Spark's ArrayBasedMapData is a LINEAR
    *    key scan, so scoring costs O(total_tokens × V) string compares
    *    — measured 178 s at 27M tokens × 3,100 terms where the join
    *    path takes 3.7 s, and the join already wins at V = 310
    *    (2.1 s vs 4.9 s, PERF.md round 13). Right only for genuinely
    *    tiny maps (stopword lists, label maps);
    *  - join: explode + pre-aggregated (doc, token) counts equi-joined
    *    against a DISTRIBUTED logp table — hash-probe O(1) per term,
    *    linear at every measured decade (1.75× for the 10× step to
    *    sf10); the plan for every non-toy vocabulary.
    * `scoreViaJoin` pins a path; `None` auto-selects by counting the
    * vocabulary (one extra vocabulary-bounded aggregation job — the
    * lazy checkpoint means tokenization itself still runs once) and
    * switching to the join above `broadcastVocabMax` distinct terms.
    * The default bound is 256: the measured break-even, NOT a
    * broadcast-size limit — a 2^20-term map row broadcasts fine and
    * then burns quadratic time in the per-token scan.
    */
  def unigramLogProb(docs: DataFrame, textCol: String = "text",
      broadcastVocabMax: Long = 1L << 8,
      scoreViaJoin: Option[Boolean] = None): DataFrame = {
    val toks = docs
      .withColumn("toks",
        expr(s"regexp_extract_all(`$textCol`, '[a-z]+', 0)"))
      // both passes (vocab build + scoring) read the tokenization;
      // truncate lineage so the regexp runs once (q95's trade)
      .ckptLocal(eager = false)
    val vocab = toks.select(explode(col("toks")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    // The floor-division identity used by both paths: Spark `div`
    // truncates toward zero, DuckDB `//` floors — (x - pmod(x, n)) div n
    // is exact floor for any sign (gapFill's bucketing identity)
    def withMean(df: DataFrame): DataFrame = df
      .withColumn("mean_logp_micro",
        when(col("n_toks") === 0, lit(null).cast("long"))
          .otherwise(expr("(sum_logp_milli * 1000 " +
            "- pmod(sum_logp_milli * 1000, n_toks)) div n_toks")))
    val useJoin =
      scoreViaJoin.getOrElse(vocab.count() > broadcastVocabMax)
    if (useJoin) {
      // open-vocabulary path. The logp table stays DISTRIBUTED; it is
      // read twice (total mass + scoring join), so cache it — it is
      // vocabulary-bounded, never token-stream-bounded.
      val v = vocab.persist()
      val lp = v
        .crossJoin(broadcast(v.agg(sum("cnt").as("total"))))
        .select(col("t"), expr(
          "CAST(floor(ln(CAST(cnt AS DOUBLE) / total) * 1000) AS BIGINT)")
          .as("lq"))
      // pre-aggregate to DISTINCT (doc, term) pairs before the join:
      // the join input shrinks from the token stream to the doc-term
      // matrix, and the per-doc sum weights by the in-doc count
      val perdoc = toks
        .select(col("doc_id"), explode(col("toks")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .join(lp, "t")
        .groupBy("doc_id").agg(sum(col("c") * col("lq")).as("s"))
      withMean(toks
        .select(col("doc_id"), col("source"),
          expr("CAST(size(toks) AS BIGINT)").as("n_toks"))
        .join(perdoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_toks"),
          coalesce(col("s"), lit(0L)).as("sum_logp_milli")))
    } else {
      // ONE aggregation yields both the vocabulary entries and the total
      // mass — aggregating `vocab` twice (map build + total) would make
      // Catalyst recompute the whole token-explode subtree per branch.
      // The quantization expression is value-identical to per-row
      // floor(ln(CAST(cnt AS DOUBLE)/total)·1000) (oracle-pinned).
      val vmap = vocab
        .agg(collect_list(struct(col("t"), col("cnt"))).as("tc"),
          sum("cnt").as("total"))
        .select(expr(
          """map_from_entries(transform(tc, e -> struct(e.t,
            |CAST(floor(ln(CAST(e.cnt AS DOUBLE) / total) * 1000)
            |AS BIGINT))))""".stripMargin).as("m"))
      withMean(toks.crossJoin(broadcast(vmap))
        .select(
          col("doc_id"), col("source"),
          expr("CAST(size(toks) AS BIGINT)").as("n_toks"),
          expr("aggregate(transform(toks, t -> element_at(m, t)), 0L, " +
            "(a, x) -> a + x)").as("sum_logp_milli")))
    }
  }

  private def q99(s: SparkSession, dir: String): DataFrame =
    unigramLogProb(Tables.load(s, dir, "documents"))

  // q104: the OPEN-VOCABULARY scoring path under the same oracle — the
  // explode + pre-aggregated-counts + distributed-logp equi-join plan a
  // web-scale vocabulary forces (a 100M-term map row cannot broadcast).
  // Integer millinat sums are order-independent, so the two paths are
  // bit-equal and the oracle SQL is literally q99's.
  private def q104(s: SparkSession, dir: String): DataFrame =
    unigramLogProb(Tables.load(s, dir, "documents"),
      scoreViaJoin = Some(true))

  private val q99Sql =
    """WITH toks AS (
      |  SELECT doc_id, source, regexp_extract_all(text, '[a-z]+') AS toks
      |  FROM documents
      |), vocab AS (
      |  SELECT t, COUNT(*) AS cnt
      |  FROM (SELECT unnest(toks) AS t FROM toks) GROUP BY t
      |), lp AS (
      |  SELECT t,
      |    CAST(FLOOR(ln(CAST(cnt AS DOUBLE) / total) * 1000) AS BIGINT)
      |      AS lq
      |  FROM vocab, (SELECT SUM(cnt) AS total FROM vocab)
      |), perdoc AS (
      |  SELECT doc_id, SUM(lq) AS s
      |  FROM (SELECT doc_id, unnest(toks) AS t FROM toks) JOIN lp USING (t)
      |  GROUP BY doc_id
      |)
      |SELECT toks.doc_id, source,
      |  CAST(len(toks) AS BIGINT) AS n_toks,
      |  CAST(COALESCE(s, 0) AS BIGINT) AS sum_logp_milli,
      |  CASE WHEN len(toks) = 0 THEN NULL
      |       -- explicit FLOOR: DuckDB's integer // truncates toward zero
      |       -- ((-7)//2 = -3), so subtract the positive remainder first —
      |       -- the quotient is then exact and truncation == floor
      |       ELSE CAST((COALESCE(s, 0) * 1000
      |         - ((COALESCE(s, 0) * 1000 % len(toks)) + len(toks))
      |           % len(toks)) // len(toks) AS BIGINT)
      |  END AS mean_logp_micro
      |FROM toks LEFT JOIN perdoc ON toks.doc_id = perdoc.doc_id""".stripMargin

  // --- q102: per-domain document cap ---------------------------------------
  // The web-curation step that stops one host from dominating a corpus
  // (the C4/RefinedWeb "domain cap"): parse the domain out of each URL
  // and keep at most K documents per domain, picked by the deterministic
  // hash rank (engine/run/cluster stable — q94's primitive, reused).
  // Scale shape: one regexp projection + the stratified-rank window,
  // which compiles to WindowGroupLimit map-side pruning — tasks pre-trim
  // to local top-K before the per-domain shuffle, so a 100 TB crawl
  // shuffles at most K rows per (task, domain), never a hot domain's
  // full row set.

  /** Embedded snapshot of publicsuffix.org rules (the PUBLIC list real
    * crawl pipelines key their domain caps on). A deliberate SUBSET —
    * the common gTLDs/ccTLDs, their second-level registries, and the
    * hot user-content suffixes (github.io, blogspot.com,
    * s3.amazonaws.com, …) that dominate crawl skew; a production
    * deployment swaps in the full ~9k-rule list, and the matching code
    * below is depth-generic over whatever is here. Wildcard (`*.ck`)
    * and exception (`!www.ck`) rules are out of scope for the
    * snapshot (none present); unknown TLDs fall back to the PSL's
    * default `*` rule (last label is the public suffix).
    */
  private[graft] val PublicSuffixSnapshot: Seq[String] = Seq(
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz",
    "io", "co", "ai", "dev", "app", "xyz", "me",
    "uk", "jp", "au", "de", "fr", "it", "nl", "es", "se", "ch", "br",
    "in", "cn", "ru", "us", "ca", "nz", "kr", "mx", "pl",
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp",
    "com.au", "net.au", "org.au", "edu.au",
    "com.br", "net.br", "org.br",
    "co.in", "net.in", "org.in",
    "com.cn", "net.cn", "org.cn",
    "co.nz", "net.nz", "org.nz",
    "co.kr", "or.kr", "com.mx", "com.pl",
    // PSL private-section entries: user-content platforms where each
    // SUBDOMAIN is an independent publisher — exactly the hosts a
    // registrable-only cap would wrongly collapse into one bucket
    "github.io", "gitlab.io", "blogspot.com", "herokuapp.com",
    "appspot.com", "cloudfront.net", "s3.amazonaws.com")

  private val suffixesByDepth: Map[Int, Seq[String]] =
    PublicSuffixSnapshot.groupBy(_.count(_ == '.') + 1)
  private val maxSuffixDepth: Int = suffixesByDepth.keys.max

  /** Hostname of `url`: the RFC 3986 authority, lowercased (hostnames
    * are case-insensitive), with userinfo and port stripped —
    * `https://user:pw@Host.Example.COM:8443/x` → `host.example.com` —
    * so URL variants that differ only in those components cannot count
    * as distinct domains. A bracketed IPv6 literal keeps its brackets
    * (it never ends in `:digits`, so the port strip is safe); a
    * trailing dot (`example.com.`) is dropped, as the PSL algorithm
    * does. NULL when the URL is null or has no `scheme://authority`.
    */
  def urlHost(url: Column): Column = {
    val auth = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    val host = regexp_replace(regexp_replace(regexp_replace(lower(auth),
      "^[^@]*@", ""), ":[0-9]+$", ""), "\\.$", "")
    when(url.isNull || auth === "", lit(null)).otherwise(host)
  }

  /** The DuckDB twin of [[urlHost]] minus the null guard (SQL callers
    * filter on the authority themselves); same regexps, same order. */
  private def urlHostSql(urlExpr: String): String =
    s"regexp_replace(regexp_replace(regexp_replace(lower(" +
      s"regexp_extract($urlExpr, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))," +
      s" '^[^@]*@', ''), ':[0-9]+$$', ''), '\\.$$', '')"

  /** Registrable domain (eTLD+1) of a lowercased `host` under
    * [[PublicSuffixSnapshot]]: the public suffix plus one label —
    * `a.b.example.co.uk` → `example.co.uk`. Longest-suffix match, the
    * PSL algorithm restricted to exact rules; a host with an unknown
    * TLD uses the default `*` rule (last two labels), and a host that
    * IS a public suffix, or has a single label, has no registrable
    * domain → NULL. Pure `Column` expression: label slicing + set
    * membership (`InSet` at this cardinality), codegen-friendly, no
    * UDF — at a full 9k-rule list the same shape still holds (one
    * hash-set probe per depth).
    */
  def registrableDomain(host: Column): Column =
    registrableDomainBound(host, split(host, "\\."))

  /** The cascade over PRE-BOUND `host`/`parts` columns. Why the split:
    * inlined, the host derivation (a 4-regexp chain for [[urlHost]])
    * replicates into every CASE branch (~15 copies) and the fused
    * whole-stage function costs ~1.6 s of Janino compilation PER QUERY
    * (measured flat across 100× rows, DevQ103Probe: 2.4 s → 0.8 s with
    * codegen off; PERF.md "Deleted dev probes"). Callers on a hot path bind `host` and `parts` as
    * their own projection columns — split/regexp are non-cheap and
    * multiply-referenced, so CollapseProject keeps that projection
    * separate and each stage codegens small.
    */
  private[ops] def registrableDomainBound(host: Column, parts: Column)
      : Column = {
    val n = size(parts)
    // last k labels / last k+1 labels, joined back with dots. The
    // greatest(…, 1) clamp keeps slice() total — its value is only USED
    // under an `n > k` guard, but slice throws on start ≤ 0 and the
    // clamp removes any reliance on conjunct evaluation order.
    def lastK(k: Int) =
      concat_ws(".", slice(parts, greatest(n - lit(k) + 1, lit(1)), lit(k)))
    def regAt(k: Int) =
      concat_ws(".", slice(parts, greatest(n - lit(k), lit(1)), lit(k + 1)))
    val cascade = (1 to maxSuffixDepth).foldLeft(
      // default `*` rule: unknown TLD → last label is the suffix
      when(n >= 2, regAt(1)).otherwise(lit(null))) { (acc, k) =>
      suffixesByDepth.get(k) match {
        case Some(sufs) =>
          when(n > k && lastK(k).isin(sufs: _*), regAt(k)).otherwise(acc)
        case None => acc
      }
    } // built inside-out: the deepest suffix depth is checked FIRST
    when(host.isNull || host.isin(PublicSuffixSnapshot: _*), lit(null))
      .otherwise(cascade)
  }

  /** DuckDB CASE expression replaying [[registrableDomain]] over a
    * `host` column, with `parts`/`n` (its split + length) in scope —
    * generated from the SAME snapshot Seq so the two engines cannot
    * drift. DuckDB's `list_slice` is 1-based inclusive-both-ends.
    */
  private def registrableSqlCase: String = {
    def inList(vals: Seq[String]) = vals.map(s => s"'$s'").mkString(", ")
    def lastK(k: Int) =
      if (k == 1) "parts[n]"
      else s"array_to_string(list_slice(parts, n - ${k - 1}, n), '.')"
    def regAt(k: Int) = s"array_to_string(list_slice(parts, n - $k, n), '.')"
    val branches = (maxSuffixDepth to 1 by -1).flatMap { k =>
      suffixesByDepth.get(k).map { sufs =>
        s"WHEN n > $k AND ${lastK(k)} IN (${inList(sufs)}) THEN ${regAt(k)}"
      }
    }
    s"""CASE WHEN host IN (${inList(PublicSuffixSnapshot)}) THEN NULL
       |  ${branches.mkString("\n  ")}
       |  WHEN n >= 2 THEN ${regAt(1)}
       |  ELSE NULL END""".stripMargin
  }

  /** PUBLIC operator: per-domain cap. Adds `domain` and keeps at most
    * `k` documents per domain by the deterministic hash-of-`keySql`
    * rank. The domain key is [[urlHost]] — the lowercased hostname with
    * userinfo/port stripped, so `user@host`, `host:8443`, and case
    * variants cannot evade the cap — or, with `registrable = true`, the
    * [[registrableDomain]] (eTLD+1), the C4/RefinedWeb policy where
    * `a.spam.example.com` and `b.spam.example.com` share one budget
    * while `foo.github.io` publishers stay independent. Rows with no
    * domain under the chosen key (null/schemeless/malformed URL; in
    * registrable mode also bare public suffixes and single-label
    * hosts) PASS THROUGH UNCAPPED with `domain` NULL: silently capping
    * the garbage bucket as if it were one domain would mass-drop data
    * AND serialize a single hot window partition — the caller decides
    * that bucket's fate. Callers keep their schema (plus `domain`; a
    * pre-existing `domain` column is rejected rather than silently
    * clobbered).
    */
  def domainCap(docs: DataFrame, k: Int, urlCol: String = "url",
      keySql: String = "CAST(doc_id AS STRING)",
      registrable: Boolean = false): DataFrame = {
    require(!docs.columns.contains("domain"),
      "domainCap emits a `domain` column; rename the existing one")
    val host = urlHost(col(urlCol))
    val withDomain =
      if (registrable)
        // bind host + parts as their own projection (see
        // registrableDomainBound's compile-cost note)
        docs.withColumn("__rd_host", host)
          .withColumn("__rd_parts", split(col("__rd_host"), "\\."))
          .withColumn("domain", registrableDomainBound(
            col("__rd_host"), col("__rd_parts")))
          .drop("__rd_host", "__rd_parts")
      else docs.withColumn("domain", host)
    stratifiedSample(withDomain.filter(col("domain").isNotNull),
        k, keySql, Seq("domain"))
      .unionByName(withDomain.filter(col("domain").isNull))
  }

  private val q102K = 3

  // The synthetic corpus has no URL column, so the battery plants one
  // deterministically (21 domains across 3 TLDs — every domain holds
  // well over K docs at every sf, so the cap genuinely binds); the
  // oracle replays the same URL arithmetic, domain regexp, and hash rank.
  private def q102(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").withColumn("url",
      concat(lit("https://site"), (col("doc_id") % 7).cast("string"),
        lit(".example."),
        expr("CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' " +
          "ELSE 'net' END"),
        lit("/p/"), col("doc_id").cast("string")))
    domainCap(docs, k = q102K)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("kept_id_sum"),
        min(col("doc_id")).as("first_kept"),
        max(col("doc_id")).as("last_kept"))
  }

  private val q102Sql = {
    val h = Dialect.duckHash60("CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.' ||
       |    CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
       |         ELSE 'net' END || '/p/' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents
       |), x AS (
       |  SELECT doc_id,
       |    lower(regexp_extract(url,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS domain
       |  FROM d
       |), r AS (
       |  SELECT domain, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY domain
       |      ORDER BY $h ASC, CAST(doc_id AS VARCHAR) ASC) AS rn
       |  FROM x
       |)
       |SELECT domain, COUNT(*) AS n_kept,
       |  CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum,
       |  MIN(doc_id) AS first_kept, MAX(doc_id) AS last_kept
       |FROM r WHERE rn <= $q102K GROUP BY domain""".stripMargin
  }

  // --- q103: registrable-domain (eTLD+1) cap -------------------------------
  // q102 under the adversarial conditions real crawls exhibit: the
  // planted URLs vary userinfo (`crawler:pw@`), port (`:8443`), host
  // case, AND subdomain label — every one a distinct raw authority —
  // while the registrable domain collapses them to 12 groups
  // (d{0..3} × {com, co.uk, net.au}), so the cap binds exactly where
  // the C4/RefinedWeb policy says it should. The oracle replays the
  // full chain — URL arithmetic, host strip, the suffix CASE (generated
  // from the same snapshot Seq), and the hash rank — in DuckDB.
  private val q103K = 3

  private def q103(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").withColumn("url",
      concat(
        lit("https://"),
        when(col("doc_id") % 5 === 0, lit("crawler:pw@")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit("H")).otherwise(lit("h")),
        (col("doc_id") % 13).cast("string"),
        lit(".d"), (col("doc_id") % 4).cast("string"), lit("."),
        expr("CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' " +
          "ELSE 'net.au' END"),
        when(col("doc_id") % 4 === 0, lit(":8443")).otherwise(lit("")),
        lit("/p/"), col("doc_id").cast("string")))
    domainCap(docs, k = q103K, registrable = true)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("kept_id_sum"),
        min(col("doc_id")).as("first_kept"),
        max(col("doc_id")).as("last_kept"))
  }

  private val q103Sql = {
    val h = Dialect.duckHash60("CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    'https://' ||
       |    CASE WHEN doc_id % 5 = 0 THEN 'crawler:pw@' ELSE '' END ||
       |    CASE WHEN doc_id % 2 = 0 THEN 'H' ELSE 'h' END ||
       |    CAST(doc_id % 13 AS VARCHAR) ||
       |    '.d' || CAST(doc_id % 4 AS VARCHAR) || '.' ||
       |    CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
       |         ELSE 'net.au' END ||
       |    CASE WHEN doc_id % 4 = 0 THEN ':8443' ELSE '' END ||
       |    '/p/' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents
       |), hosts AS (
       |  SELECT doc_id, ${urlHostSql("url")} AS host FROM d
       |), p AS (
       |  SELECT doc_id, host, string_split(host, '.') AS parts,
       |    len(string_split(host, '.')) AS n
       |  FROM hosts
       |), x AS (
       |  SELECT doc_id,
       |    $registrableSqlCase AS domain
       |  FROM p
       |), r AS (
       |  SELECT domain, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY domain
       |      ORDER BY $h ASC, CAST(doc_id AS VARCHAR) ASC) AS rn
       |  FROM x WHERE domain IS NOT NULL
       |)
       |SELECT domain, COUNT(*) AS n_kept,
       |  CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum,
       |  MIN(doc_id) AS first_kept, MAX(doc_id) AS last_kept
       |FROM r WHERE rn <= $q103K GROUP BY domain""".stripMargin
  }

  // --- q106: BM25 relevance scoring ----------------------------------------
  // The retrieval-side ranking function (Robertson/Spärck Jones BM25,
  // k1=1.2 b=0.75) against a fixed query-term set — the scoring pass a
  // retrieval-augmented curation pipeline runs to pick documents relevant
  // to a topic. Scale shape: the per-doc term frequencies come from ARRAY
  // lambdas over one tokenization (no explode, no shuffle for the per-doc
  // side); the corpus statistics (N, total tokens, per-term df) fold into
  // ONE 1-row aggregate that broadcasts — so the whole operator is a
  // single scan plus a broadcast, and the 100 TB side never shuffles.
  //
  // Determinism: each query term's BM25 contribution is floored to
  // integer millinats BEFORE the per-doc sum (integer addition is
  // order-independent; double addition is not), and the double arithmetic
  // inside each term is shape-identical to the oracle's (same
  // parenthesization, same casts), following q99's ln-quantization
  // precedent.
  private val q106Terms = Seq("spark", "query", "vector", "customer")
  private val Bm25K1 = "1.2"
  private val Bm25B = "0.75"

  /** One query term's floored-millinat BM25 contribution; `tf`/`dl` are
    * SQL fragments for this doc's term frequency and token count, `df`
    * the term's document frequency fragment (corpus-stat columns ride in
    * via the broadcast 1-row struct).
    */
  private def bm25TermMilli(tf: String, df: String, dl: String,
      n: String, total: String): String =
    s"""CAST(floor(
       |  ln((CAST($n - $df AS DOUBLE) + 0.5) / (CAST($df AS DOUBLE) + 0.5) + 1.0)
       |  * (CAST($tf AS DOUBLE) * (${Bm25K1} + 1.0))
       |  / (CAST($tf AS DOUBLE) + ${Bm25K1} * ((1.0 - ${Bm25B})
       |     + ${Bm25B} * (CAST($dl AS DOUBLE) * $n / $total)))
       |  * 1000) AS BIGINT)""".stripMargin

  private def q106(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .withColumn("toks",
        expr("regexp_extract_all(text, '[a-z]+', 0)"))
      .withColumn("dl", expr("CAST(size(toks) AS BIGINT)"))
    val withTf = q106Terms.foldLeft(docs) { (d, t) =>
      d.withColumn(s"tf_$t",
        expr(s"CAST(size(filter(toks, x -> x = '$t')) AS BIGINT)"))
    }
    // ONE corpus-stat row: N, total tokens, per-term df. sum((tf>0)::int)
    // == df without a distinct or second scan.
    val stats = withTf.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_toks") +:
        q106Terms.map(t =>
          sum(expr(s"CAST(tf_$t > 0 AS BIGINT)")).as(s"df_$t")): _*)
    val scoreMilli = q106Terms.map(t =>
      bm25TermMilli(s"tf_$t", s"df_$t", "dl", "n_docs", "total_toks"))
      .mkString(" + ")
    withTf.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("source"), col("dl").as("n_toks"),
        expr(scoreMilli).as("bm25_milli"))
      .orderBy(col("bm25_milli").desc, col("doc_id").asc)
      .limit(100)
  }

  private val q106Sql = {
    val tfs = q106Terms.map(t =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$t")
      .mkString(", ")
    val dfs = q106Terms.map(t =>
      s"SUM(CAST(tf_$t > 0 AS BIGINT)) AS df_$t").mkString(", ")
    val score = q106Terms.map(t =>
      bm25TermMilli(s"tf_$t", s"df_$t", "dl", "n_docs", "total_toks"))
      .mkString(" + ")
    s"""WITH tf AS (
       |  SELECT doc_id, source,
       |    CAST(len(toks) AS BIGINT) AS dl, $tfs
       |  FROM (SELECT doc_id, source,
       |          regexp_extract_all(text, '[a-z]+') AS toks
       |        FROM documents)
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_toks, $dfs FROM tf
       |)
       |SELECT doc_id, source, dl AS n_toks, $score AS bm25_milli
       |FROM tf, stats
       |ORDER BY bm25_milli DESC, doc_id ASC LIMIT 100""".stripMargin
  }

  // --- q108: probability-proportional-to-size sampling ---------------------
  // Sequential Poisson sampling (Ohlsson '98): priority = u/w with u a
  // per-row uniform and w the row's weight; the k smallest priorities are
  // an (approximately) probability-proportional-to-size sample WITHOUT
  // replacement — the standard one-pass weighted sampler (here: favor
  // LONG documents, w = n_chars). Engine-portable determinism: u is the
  // shared 60-bit md5 hash and the priority is integer floor-division
  // (h div w) with doc_id tiebreak — no doubles, no RNG state, identical
  // on any engine/partitioning. Scale shape: priority is a map-side
  // projection and the k-smallest select compiles to TakeOrderedAndProject
  // (per-partition bounded heaps, no global sort, no shuffle of the
  // corpus).
  private val q108K = 25

  private def q108(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("priority",
        expr(s"${Dialect.sparkHash60("CAST(doc_id AS STRING)")} " +
          "div greatest(n_chars, 1L)"))
      .orderBy(col("priority").asc, col("doc_id").asc)
      .limit(q108K)
      .select("doc_id", "source", "n_chars", "priority")

  private val q108Sql = {
    val h = Dialect.duckHash60("CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, source, n_chars,
       |  CAST($h // greatest(n_chars, 1) AS BIGINT) AS priority
       |FROM documents
       |ORDER BY priority ASC, doc_id ASC LIMIT $q108K""".stripMargin
  }

  // --- q111: character-level Shannon entropy -------------------------------
  // The classic gibberish/boilerplate quality signal: per-document char
  // distribution entropy (low = repeated filler, high = noise). One
  // explode → (doc, char) count aggregate → per-doc integer sum; each
  // char class's term, (c/n)·ln(n/c) in millinats, is floored to an
  // integer BEFORE the per-doc sum (order-independent; q99's ln
  // quantization precedent — the double arithmetic inside a term is
  // shape-identical to the oracle's). Bucketed histogram output keeps
  // the result corpus-sized, not doc-sized.
  //
  // The char tokenizer is '[^\n]', NOT '.': Java's '.' excludes all five
  // line terminators (\n \r U+0085 U+2028 U+2029) while DuckDB's RE2 '.'
  // excludes only \n, so a document containing \r or U+2028 would count
  // a different char multiset per engine. The explicit class pins the
  // excluded set to exactly {\n} in both dialects.
  private def q111(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(expr("regexp_extract_all(text, '[^\\n]', 0)")).as("ch"))
      .groupBy("doc_id", "source", "ch").agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .select(col("doc_id"), col("source"),
        expr("CAST(floor((CAST(c AS DOUBLE) / n) " +
          "* ln(CAST(n AS DOUBLE) / c) * 1000) AS BIGINT)").as("term_milli"),
        col("n"))
    terms
      .groupBy("doc_id", "source")
      .agg(sum(col("term_milli")).as("entropy_milli"),
        max(col("n")).as("n_chars_matched"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(min(entropy_milli) AS BIGINT)").as("min_entropy"),
        expr("CAST(max(entropy_milli) AS BIGINT)").as("max_entropy"),
        expr("CAST(sum(entropy_milli) AS BIGINT)").as("sum_entropy"),
        expr("CAST(sum(CAST(entropy_milli < 2500 AS BIGINT)) AS BIGINT)")
          .as("n_low_entropy"))
  }

  private val q111Sql =
    """WITH cc AS (
      |  SELECT doc_id, source, ch, COUNT(*) AS c
      |  FROM (SELECT doc_id, source,
      |          unnest(regexp_extract_all(text, '[^\n]')) AS ch
      |        FROM documents)
      |  GROUP BY doc_id, source, ch
      |), t AS (
      |  SELECT doc_id, source,
      |    CAST(FLOOR((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c)
      |      * 1000) AS BIGINT) AS term_milli
      |  FROM (SELECT *, SUM(c) OVER (PARTITION BY doc_id) AS n FROM cc)
      |), e AS (
      |  SELECT doc_id, source, CAST(SUM(term_milli) AS BIGINT)
      |    AS entropy_milli
      |  FROM t GROUP BY doc_id, source
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(MIN(entropy_milli) AS BIGINT) AS min_entropy,
      |  CAST(MAX(entropy_milli) AS BIGINT) AS max_entropy,
      |  CAST(SUM(entropy_milli) AS BIGINT) AS sum_entropy,
      |  CAST(SUM(CAST(entropy_milli < 2500 AS BIGINT)) AS BIGINT)
      |    AS n_low_entropy
      |FROM e GROUP BY source""".stripMargin

  // --- q119: bigram PMI collocation mining ---------------------------------
  // The phrase-detection pass (word2vec-style collocations, n-gram
  // merge candidates for tokenizer training): pointwise mutual
  // information ln(c12·N / (c1·c2)) over adjacent token pairs, top 50
  // by PMI among bigrams with support ≥ 3. Bigrams come from ONE
  // tokenization via an index lambda (struct(x, element_at(t, i+2)) —
  // no self-join of the exploded corpus); both count aggregates get
  // map-side partial combine; the support filter runs BEFORE the
  // unigram joins so only surviving bigrams shuffle; the unigram side
  // is token-keyed (web-scale vocabularies don't broadcast — q104's
  // argument); N is one broadcast row. PMI is quantized to integer
  // millinats (q99's ln precedent) and the top-k is a total order →
  // TakeOrderedAndProject bounded heaps, never a global sort.
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(expr("regexp_extract_all(text, '[a-z]+', 0)").as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val big = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(slice(t, 1, size(t) - 1), " +
          "(x, i) -> struct(x AS w1, element_at(t, i + 2) AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bc = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 3)
    val nb = big.agg(count(lit(1)).as("nb"))
    bc
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("c12"),
        expr("CAST(FLOOR(ln(CAST(c12 AS DOUBLE) * nb / (c1 * c2)) * 1000) " +
          "AS BIGINT)").as("pmi_milli"))
      .orderBy(col("pmi_milli").desc, col("w1").asc, col("w2").asc)
      .limit(50)
  }

  private val q119Sql =
    """WITH toks AS (
      |  SELECT regexp_extract_all(text, '[a-z]+') AS t FROM documents
      |), big AS (
      |  SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS bg
      |  FROM toks WHERE len(t) >= 2
      |), bc AS (
      |  SELECT bg[1] AS w1, bg[2] AS w2, COUNT(*) AS c12
      |  FROM big GROUP BY 1, 2
      |), uc AS (
      |  SELECT unnest(t) AS w FROM toks
      |), uni AS (
      |  SELECT w, COUNT(*) AS c FROM uc GROUP BY w
      |), tot AS (
      |  SELECT CAST(SUM(c12) AS BIGINT) AS nb FROM bc
      |)
      |SELECT w1, w2, c12,
      |  CAST(FLOOR(ln(CAST(c12 AS DOUBLE) * nb / (u1.c * u2.c)) * 1000)
      |    AS BIGINT) AS pmi_milli
      |FROM bc JOIN uni u1 ON bc.w1 = u1.w JOIN uni u2 ON bc.w2 = u2.w, tot
      |WHERE c12 >= 3
      |ORDER BY pmi_milli DESC, w1 ASC, w2 ASC LIMIT 50""".stripMargin

  // --- q121: BPE tokenizer apply -------------------------------------------
  // Model-token counting (the unit every packing/budget decision in a
  // training pipeline is actually denominated in — q80/q95's
  // whitespace-token budgets are a proxy for this): encode each word
  // under a rank-ordered BPE merge table via the native
  // [[graft.functions.BpeEncode]] expression (merge table parsed once,
  // shipped with the plan — the broadcast-dimension pattern), then audit
  // per source: word/char/BPE-token mass and an XOR checksum over every
  // document's full encoding, so ONE symbol merged differently anywhere
  // flips the entry. The oracle replays the identical rank-ordered
  // left-to-right merge semantics as a folded `replace` chain over the
  // same merge list (the '|'-delimited-symbols encoding makes one
  // `replace('|a|b|','|ab|')` exactly one LTR merge pass).
  //
  // Scale shape: pure map-side column work — one scan, no shuffle except
  // the final per-source aggregate; a 10⁵-merge production table rides
  // the serialized plan instead of a join.
  private val q121Merges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r",
    "an" -> "d", "o" -> "n", "r" -> "e", "e" -> "n", "a" -> "t",
    "o" -> "r", "e" -> "s", "in" -> "g", "t" -> "o", "o" -> "u",
    "i" -> "s", "a" -> "r", "a" -> "l", "s" -> "t", "e" -> "d")

  /** BPE-encode `textCol`'s words under a rank-ordered merge list: adds
    * `outCol` = array of per-word encodings (symbols space-joined).
    * Merge tables are dimension-sized — pass the collected rank-ordered
    * pairs; they travel with the plan, not through a join.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", outCol: String = "bpe"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val spec = merges.map { case (a, b) => s"$a $b" }.mkString(",")
    docs.withColumn(outCol, expr(
      s"graft_bpe(regexp_extract_all(lower($textCol), '[a-z0-9]+', 0), " +
        s"'$spec')"))
  }

  private def q121(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val spec = q121Merges.map { case (a, b) => s"$a $b" }.mkString(",")
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
      .select(col("doc_id"), col("source"), col("ws"),
        expr(s"graft_bpe(ws, '$spec')").as("enc"))
      .select(col("doc_id"), col("source"),
        expr("CAST(size(ws) AS BIGINT)").as("n_words"),
        expr("CAST(length(concat_ws('', ws)) AS BIGINT)").as("n_chars"),
        expr("CAST(aggregate(enc, 0, (acc, e) -> acc + size(split(e, ' ')))" +
          " AS BIGINT)").as("n_bpe"),
        expr("concat_ws('  ', enc)").as("enc_text"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_bpe")).as("n_bpe_tokens"),
        expr("bit_xor(" + Dialect.sparkHash60(
          "concat(CAST(doc_id AS STRING), ':', enc_text)") + ")")
          .as("enc_checksum"))
  }

  private val q121Sql = {
    // DOUBLE delimiter between symbols ('|a||b||c|'): with a single
    // delimiter, consecutive matches of a self-adjacent pair would SHARE
    // the boundary '|' — replace() consumes it and the next occurrence
    // in a run of 3+ identical symbols cannot match, under-merging runs
    // ('b b b b' → [bb, b, b] instead of [bb, bb]). With '||' between
    // symbols, adjacent matches touch without overlapping, so one
    // replace() IS one LTR merge pass (property-tested against the loop
    // encoder on random pathological merge lists in PropertiesSpec).
    val delim =
      "'|' || array_to_string(regexp_extract_all(w, '.'), '||') || '|'"
    val folded = q121Merges.foldLeft(delim) { case (acc, (a, b)) =>
      s"replace($acc, '|$a||$b|', '|$a$b|')"
    }
    val encWord = s"replace(trim($folded, '|'), '||', ' ')"
    val h = Dialect.duckHash60("CAST(doc_id AS VARCHAR) || ':' || enc_text")
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM documents
       |), enc AS (
       |  SELECT doc_id, source, ws,
       |    list_transform(ws, w -> $encWord) AS e
       |  FROM toks
       |), per_doc AS (
       |  SELECT doc_id, source,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(length(array_to_string(ws, '')) AS BIGINT) AS n_chars,
       |    CAST(COALESCE(list_sum(list_transform(e,
       |      x -> len(string_split(x, ' ')))), 0) AS BIGINT) AS n_bpe,
       |    array_to_string(e, '  ') AS enc_text
       |  FROM enc
       |)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |  CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
       |  bit_xor($h) AS enc_checksum
       |FROM per_doc GROUP BY source""".stripMargin
  }

  /** PUBLIC operator: distributed BPE merge TRAINING — the other half
    * of [[bpeEncode]] (which consumes a fixed, already-learned merge
    * table). Learns `rounds` merge rules from the corpus by the
    * classic greedy loop (most frequent adjacent symbol pair wins;
    * ties break by (lt, rt) ascending for determinism), returning one
    * row per round: (round, lt, rt, merged = lt||rt, freq).
    *
    * Scale design — the part that matters at 100 TB: the corpus is
    * scanned ONCE, into a (word, freq) table; every training round
    * runs on that table, which is VOCABULARY-bounded (Heaps' law:
    * distinct words grow ~n^0.5, not n) — the classic reason BPE
    * training is tractable at corpus scale. Per round: explode
    * adjacent pairs weighted by word freq (map-side), one tiny
    * aggregate, a distributed top-1 (TakeOrderedAndProject), then the
    * winning merge applied as a single string `replace` column op.
    * The argmax stays a 1-row checkpointed DataFrame consumed via
    * broadcast cross join — no collected literals, no driver loop
    * over data; the per-round `localCheckpoint` bounds lineage depth
    * (and is why rounds cost O(rounds), not O(rounds²) recompute).
    *
    * Merge-application exactness: word state is the '|'-delimited
    * symbol string with DOUBLED internal delimiters ('|a||b||c|'),
    * q121's encoding — one `replace('|a||b|','|ab|')` is then exactly
    * one greedy left-to-right non-overlapping merge pass (runs of a
    * self-adjacent symbol merge as BPE prescribes; see q121Sql's
    * scaladoc for the single-delimiter trap). Pair counting counts
    * OVERLAPPING adjacencies ('a a a' → (a,a) twice), the standard
    * trainer convention. If pairs exhaust before `rounds` (degenerate
    * corpora), later rounds emit no row — mirrored by the oracle's
    * empty-CTE chain, so parity holds there too.
    */
  def bpeTrainMerges(docs: DataFrame, rounds: Int = BpeTrainRounds,
      textCol: String = "text"): DataFrame = {
    require(rounds >= 1 && rounds <= 64,
      s"bpeTrainMerges: rounds $rounds outside 1..64 (each round is a " +
        "chained oracle CTE; production vocabularies train once and " +
        "encode forever via bpeEncode)")
    val words = docs
      .select(explode(
        expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)"))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(
        expr("concat('|', array_join(regexp_extract_all(w, '.', 0), '||')," +
          " '|')").as("ts"),
        col("freq"))
      .ckptLocal(eager = true) // vocab-sized; read by every round
    var w = words
    val perRound = (1 to rounds).map { i =>
      val m = w
        .select(col("freq"),
          expr("split(trim(BOTH '|' FROM ts), '\\\\|\\\\|')").as("toks"))
        .where(expr("size(toks) >= 2"))
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i - 1] AS lt, toks[i] AS rt))")).as("p"))
        .groupBy(col("p.lt").as("lt"), col("p.rt").as("rt"))
        .agg(sum("freq").as("freq"))
        .orderBy(col("freq").desc, col("lt").asc, col("rt").asc)
        .limit(1)
        .ckptLocal(eager = true) // 1 row; truncates round lineage
      w = w
        .crossJoin(broadcast(
          m.select(col("lt").as("__mlt"), col("rt").as("__mrt"))))
        .select(expr("replace(ts, '|' || __mlt || '||' || __mrt || '|', " +
          "'|' || __mlt || __mrt || '|')").as("ts"), col("freq"))
      m.select(lit(i).as("round"), col("lt"), col("rt"),
        concat(col("lt"), col("rt")).as("merged"), col("freq"))
    }
    perRound.reduce(_ unionByName _)
  }

  private val BpeTrainRounds = 10

  private def q204(s: SparkSession, dir: String): DataFrame =
    bpeTrainMerges(Tables.load(s, dir, "documents"))

  private val q204Sql: String = {
    val head =
      """WITH uw AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |  FROM documents
        |), w0 AS MATERIALIZED (
        |  SELECT '|' || array_to_string(regexp_extract_all(w, '.'), '||')
        |           || '|' AS ts,
        |         CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM uw GROUP BY w
        |)""".stripMargin
    // MATERIALIZED is load-bearing: w{i-1} is referenced twice per round
    // (pair counts + merge application) — inlined, the chain would
    // re-expand exponentially in the round depth
    val rounds = (1 to BpeTrainRounds).map { i =>
      s""", t$i AS (
         |  SELECT string_split(trim(ts, '|'), '||') AS toks, freq
         |  FROM w${i - 1}
         |), p$i AS (
         |  SELECT toks[j] AS lt, toks[j + 1] AS rt,
         |         CAST(SUM(freq) AS BIGINT) AS freq
         |  FROM t$i, UNNEST(generate_series(1, len(toks) - 1)) AS u(j)
         |  WHERE len(toks) >= 2
         |  GROUP BY lt, rt
         |), m$i AS MATERIALIZED (
         |  SELECT lt, rt, freq FROM p$i
         |  ORDER BY freq DESC, lt ASC, rt ASC LIMIT 1
         |), w$i AS MATERIALIZED (
         |  SELECT replace(w.ts, '|' || m.lt || '||' || m.rt || '|',
         |                 '|' || m.lt || m.rt || '|') AS ts, w.freq
         |  FROM w${i - 1} w CROSS JOIN m$i m
         |)""".stripMargin
    }.mkString
    val tail = (1 to BpeTrainRounds).map { i =>
      s"SELECT CAST($i AS INTEGER) AS round, lt, rt, lt || rt AS merged, " +
        s"freq FROM m$i"
    }.mkString("\n", "\nUNION ALL\n", "")
    head + rounds + tail
  }

  // --- q123: interpolated bigram-LM scoring --------------------------------
  // One rung up the perplexity-filter ladder from q99's unigram model
  // (KenLM-style filtering, simplified to the distributed-shape
  // essentials): per-doc bigram log-likelihood under the corpus's own
  // interpolated bigram model,
  //   P(w2|w1) = λ·c(w1,w2)/ctx(w1) + (1−λ)·c(w2)/T,   λ = 0.7,
  // with ctx(w1) = Σ_w2 c(w1,w2) (occurrences of w1 as a predecessor)
  // and T the corpus token mass. Scoring the training corpus itself
  // (the curation use) means every observed bigram has c ≥ 1 and every
  // context ctx ≥ 1, so no smoothing zeros arise; the FIRST token of a
  // doc is deliberately out of scope (bigram positions i ≥ 2 only) —
  // documented contract, same as any windowed LM score.
  //
  // Cross-engine exactness (q99's recipe): each term is computed as
  //   floor(ln( DOUBLE(λn·c12·T + (10−λn)·ctx·c2) / DOUBLE(10·ctx·T) )·1000)
  // — integer numerator/denominator built exactly, ONE double division,
  // libm ln, floored to integer millinats BEFORE the per-doc sum, so
  // partition order cannot move the result. Int64 bound: λn·c12·T <
  // 2^63 needs c12·T < 1.3e18 — fine to ~10¹² tokens with hot bigrams
  // ≤ 10⁶; beyond that, scale c12/T to per-mille ranks first.
  //
  // Scale shape: doc bigrams are one scan + explode (linear); the model
  // is two vocabulary-bounded aggregates; T is a broadcast 1-row cross
  // join. The model pieces (c12/ctx/c2/T) are joined into ONE
  // per-bigram-TYPE term table FIRST — all of those frames are
  // vocabulary-bounded, so those joins never touch corpus-sized data —
  // and the corpus-sized bigram stream is then joined ONCE on (w1,w2).
  // (The round-13 shape joined the big side three times — on (w1,w2),
  // w1, then w2 — and the sf30 probe showed exactly that: 4.9× for 3×
  // rows as three corpus-wide shuffles hit 32-partition spill. One
  // shuffle of the big side is the 100 TB shape; AQE may even broadcast
  // the term table when the observed-bigram vocabulary is small.)
  private val q123LambdaTenths = 7

  /** Per-bigram-type interpolated-LM term table: (w1, w2, term_milli)
    * with term_milli = floor(ln((λn·c12·T + (10−λn)·ctx·c2)/(10·ctx·T))
    * ·1000) — integer numerator/denominator, ONE double division, libm
    * ln (q123's exactness recipe). All inputs are vocabulary-bounded
    * aggregates of `bigs`/`uni`, so this frame never scales with the
    * corpus, only with the observed bigram vocabulary. */
  private def bigramTermTable(bigs: DataFrame, uni: DataFrame): DataFrame = {
    val total = uni.agg(sum(col("c2")).as("T"))
    val bmodel = bigs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = bmodel.groupBy("w1").agg(sum(col("c12")).as("ctx"))
    val lam = q123LambdaTenths
    bmodel
      .join(ctx, Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2"), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"),
        expr(s"CAST(floor(ln(CAST($lam * c12 * T + ${10 - lam} * ctx * c2" +
          s" AS DOUBLE) / CAST(10 * ctx * T AS DOUBLE)) * 1000) AS BIGINT)")
          .as("term_milli"))
  }

  private def q123(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val toks = docs.select(col("doc_id"), col("source"),
      expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("t"))
    val bigs = toks.select(col("doc_id"), explode(expr(
        """CASE WHEN size(t) >= 2 THEN
          |  transform(sequence(1, size(t) - 1),
          |    i -> struct(t[i - 1] AS w1, t[i] AS w2))
          |ELSE array() END""".stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c2"))
    val scored = bigs
      .join(bigramTermTable(bigs, uni), Seq("w1", "w2"))
      .select(col("doc_id"), col("term_milli"))
    val perDoc = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("term_milli")).as("ll_milli"))
    docs.select("doc_id", "source")
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_bigrams")), lit(0L)).as("n_bigrams"),
        coalesce(sum(col("ll_milli")), lit(0L)).as("sum_ll_milli"),
        coalesce(min(col("ll_milli")), lit(0L)).as("min_doc_ll"),
        coalesce(max(col("ll_milli")), lit(0L)).as("max_doc_ll"))
  }

  private val q123Sql = {
    val lam = q123LambdaTenths
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    regexp_extract_all(lower(text), '[a-z]+') AS t
       |  FROM documents
       |), bigs AS (
       |  SELECT doc_id, t[i - 1] AS w1, t[i] AS w2
       |  FROM toks, UNNEST(generate_series(2, len(t))) AS u(i)
       |  WHERE len(t) >= 2
       |), uni AS (
       |  SELECT w, COUNT(*) AS c2
       |  FROM (SELECT UNNEST(t) AS w FROM toks) GROUP BY w
       |), tot AS (SELECT CAST(SUM(c2) AS BIGINT) AS T FROM uni),
       |bmodel AS (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM bigs GROUP BY w1, w2
       |), ctx AS (
       |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS ctx FROM bmodel GROUP BY w1
       |), scored AS (
       |  SELECT doc_id,
       |    CAST(FLOOR(ln(CAST($lam * c12 * T + ${10 - lam} * ctx * c2
       |      AS DOUBLE) / CAST(10 * ctx * T AS DOUBLE)) * 1000) AS BIGINT)
       |      AS term_milli
       |  FROM bigs
       |  JOIN bmodel USING (w1, w2)
       |  JOIN ctx USING (w1)
       |  JOIN uni ON bigs.w2 = uni.w
       |  CROSS JOIN tot
       |), per_doc AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(term_milli) AS BIGINT) AS ll_milli
       |  FROM scored GROUP BY doc_id
       |)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(COALESCE(SUM(n_bigrams), 0) AS BIGINT) AS n_bigrams,
       |  CAST(COALESCE(SUM(ll_milli), 0) AS BIGINT) AS sum_ll_milli,
       |  CAST(COALESCE(MIN(ll_milli), 0) AS BIGINT) AS min_doc_ll,
       |  CAST(COALESCE(MAX(ll_milli), 0) AS BIGINT) AS max_doc_ll
       |FROM documents LEFT JOIN per_doc USING (doc_id)
       |GROUP BY source""".stripMargin
  }

  // --- q215: Kneser-Ney smoothed bigram-LM scoring -------------------------
  // The standard LM-filter smoothing (Kneser & Ney 1995; interpolated
  // form per Chen & Goodman 1999), one rung up from q123's simple
  // interpolation: absolute discounting d on the bigram count, with the
  // stolen mass re-routed through the CONTINUATION unigram
  //   Pcont(w2) = N1+(·w2) / B
  // — how many distinct LEFT contexts w2 follows, over B = distinct
  // bigram types — rather than raw frequency (the fix for "Francisco is
  // frequent but only ever follows San"):
  //   P(w2|w1) = (c12 − d)/ctx(w1) + d·N1+(w1·)/ctx(w1) · N1+(·w2)/B.
  // Scoring the training corpus itself ⇒ every scored bigram has
  // c12 ≥ 1 > d, so the max(c12−d, 0) clamp never binds and P > 0 with
  // no unseen-event escape needed (same closed-corpus contract as q123).
  //
  // Cross-engine exactness (q123's recipe), d = dn/dd = 3/4:
  //   P = [ (dd·c12 − dn)·B + dn·N1f·N1b ] / (dd·ctx·B)
  // — integer numerator/denominator built exactly, ONE double division,
  // libm ln, floored to integer millinats BEFORE the per-doc sum, so
  // partition order cannot move the result. Int64 bound: dd·c12·B <
  // 2^63 needs c12·B < 2.3e18 — holds while the hottest bigram's count
  // times the bigram-type vocabulary stays under ~10⁹ × 10⁹; beyond,
  // pre-scale counts to per-mille ranks first (q123's note).
  //
  // Scale shape: q123's restructured shape from the start — every model
  // piece (c12, ctx, N1f, N1b, B) is a vocabulary-bounded aggregate,
  // joined into ONE per-bigram-TYPE term table; the corpus-sized bigram
  // stream joins it ONCE on (w1,w2); B is a broadcast 1-row cross join.
  private def q215(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val toks = docs.select(col("doc_id"), col("source"),
      expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("t"))
    val bigs = toks.select(col("doc_id"), explode(expr(
        """CASE WHEN size(t) >= 2 THEN
          |  transform(sequence(1, size(t) - 1),
          |    i -> struct(t[i - 1] AS w1, t[i] AS w2))
          |ELSE array() END""".stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val bmodel = bigs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = bmodel.groupBy("w1").agg(
      sum(col("c12")).as("ctx"), count(lit(1)).as("n1f"))
    val cont = bmodel.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val btypes = bmodel.agg(count(lit(1)).as("B"))
    val term = bmodel
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(btypes))
      .select(col("w1"), col("w2"),
        expr("CAST(floor(ln(CAST((4 * c12 - 3) * B + 3 * n1f * n1b" +
          " AS DOUBLE) / CAST(4 * ctx * B AS DOUBLE)) * 1000) AS BIGINT)")
          .as("term_milli"))
    val perDoc = bigs.join(term, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("term_milli")).as("ll_milli"))
    docs.select("doc_id", "source")
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_bigrams")), lit(0L)).as("n_bigrams"),
        coalesce(sum(col("ll_milli")), lit(0L)).as("sum_ll_milli"),
        coalesce(min(col("ll_milli")), lit(0L)).as("min_doc_ll"),
        coalesce(max(col("ll_milli")), lit(0L)).as("max_doc_ll"))
  }

  private val q215Sql =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    regexp_extract_all(lower(text), '[a-z]+') AS t
      |  FROM documents
      |), bigs AS (
      |  SELECT doc_id, t[i - 1] AS w1, t[i] AS w2
      |  FROM toks, UNNEST(generate_series(2, len(t))) AS u(i)
      |  WHERE len(t) >= 2
      |), bmodel AS (
      |  SELECT w1, w2, COUNT(*) AS c12 FROM bigs GROUP BY w1, w2
      |), ctx AS (
      |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS ctx, COUNT(*) AS n1f
      |  FROM bmodel GROUP BY w1
      |), cont AS (
      |  SELECT w2, COUNT(*) AS n1b FROM bmodel GROUP BY w2
      |), btypes AS (SELECT COUNT(*) AS B FROM bmodel),
      |term AS (
      |  SELECT w1, w2,
      |    CAST(FLOOR(ln(CAST((4 * c12 - 3) * B + 3 * n1f * n1b AS DOUBLE)
      |      / CAST(4 * ctx * B AS DOUBLE)) * 1000) AS BIGINT) AS term_milli
      |  FROM bmodel JOIN ctx USING (w1) JOIN cont USING (w2)
      |  CROSS JOIN btypes
      |), per_doc AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams,
      |    CAST(SUM(term_milli) AS BIGINT) AS ll_milli
      |  FROM bigs JOIN term USING (w1, w2) GROUP BY doc_id
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(COALESCE(SUM(n_bigrams), 0) AS BIGINT) AS n_bigrams,
      |  CAST(COALESCE(SUM(ll_milli), 0) AS BIGINT) AS sum_ll_milli,
      |  CAST(COALESCE(MIN(ll_milli), 0) AS BIGINT) AS min_doc_ll,
      |  CAST(COALESCE(MAX(ll_milli), 0) AS BIGINT) AS max_doc_ll
      |FROM documents LEFT JOIN per_doc USING (doc_id)
      |GROUP BY source""".stripMargin

  // --- q129: curation pipeline v2 (capstone over the round-11 operators) ---
  // q90's successor, composed from the NEW primitives as ONE lazy plan:
  //   1. substring-level dedup — every doc rebuilt without its
  //      corpus-duplicated spans (Dedup.stripDuplicatedSpans, q120);
  //   2. quality floor — survivors need ≥ 5 tokens after stripping;
  //   3. bigram-LM gate — per-doc mean millinat score under the
  //      SURVIVING corpus's own interpolated bigram model (q123's
  //      machinery, self-contained on the post-strip corpus), keeping
  //      docs at or above the corpus mean-of-means;
  //   4. token packing — the q80 manifest over what survives, counted
  //      on the STRIPPED text.
  // Every stage is an independently oracle-checked operator; the
  // composed manifest hash-matching proves they compose lazily (no
  // intermediate materialization, one optimized plan) with no semantic
  // drift. Integer-division note: doc means are NEGATIVE millinats —
  // Spark's `div` truncates toward zero while DuckDB's `//` floors, so
  // the oracle emulates trunc as (x - (x % y)) // y (x % y carries the
  // dividend's sign in both engines; the subtraction lands on an exact
  // multiple, where floor == trunc).
  private def q129(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val stripped = Dedup.stripDuplicatedSpans(docs, "text", 5)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    // Round 18 (guide §2/§6 — one scan feeding all stages): the strip
    // pass (positional grams + window, the pipeline's dominant cost) and
    // the re-tokenization of the stripped text each appeared 4-5× in the
    // lazy plan — once under the model legs (bigs, uni), once under the
    // survivor join, once under the packing. ONE checkpointed frame now
    // carries (doc_id, source, stripped, t, n_tok): the strip + regex
    // run once, every stage reads the materialized tokens, and
    // tokenPacking reuses n_tok instead of re-running the regex.
    val qual = stripped
      .withColumn("t",
        expr("regexp_extract_all(stripped, '[a-z0-9]+', 0)"))
      .withColumn("n_tok", size(col("t")).cast("bigint"))
      .filter(col("n_tok") >= 5)
      .ckptLocal(eager = false) // model toks + survivor join + packing
    // bigram model over the surviving corpus (q123's shapes)
    val toks = qual.select(col("doc_id"), col("t"))
    val bigs = toks.select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t) - 1),
          |  i -> struct(t[i - 1] AS w1, t[i] AS w2))""".stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c2"))
    // one corpus-sized join against the vocabulary-bounded term table
    // (q123's restructured shape — see bigramTermTable)
    val perDoc = bigs
      .join(bigramTermTable(bigs, uni), Seq("w1", "w2"))
      .select(col("doc_id"), col("term_milli"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("term_milli")).as("ll_milli"))
      .withColumn("doc_mean", expr("ll_milli div n_bigrams"))
      .ckptLocal(eager = false) // corpus-mean agg + survivor join
    val gmean = perDoc
      .agg(expr("sum(doc_mean) div count(1)").as("g"))
    val kept = qual
      .join(perDoc.select("doc_id", "doc_mean"), Seq("doc_id"))
      .crossJoin(broadcast(gmean))
      .filter(col("doc_mean") >= col("g"))
      .select("doc_id", "source", "stripped", "n_tok")
    tokenPacking(kept, textCol = "stripped", nTokCol = Some("n_tok"))
  }

  private val q129Sql = {
    val lam = q123LambdaTenths
    s"""WITH ${Dedup.dupSpanCtes},
       |q AS (
       |  SELECT d.doc_id, d.source, COALESCE(st.stripped, '') AS stripped
       |  FROM documents d
       |  LEFT JOIN (SELECT doc_id, stripped FROM strip) st USING (doc_id)
       |), qual AS (
       |  SELECT doc_id, source, stripped,
       |    CAST(len(regexp_extract_all(stripped, '[a-z0-9]+')) AS BIGINT)
       |      AS n_tok
       |  FROM q
       |  WHERE len(regexp_extract_all(stripped, '[a-z0-9]+')) >= 5
       |), t2 AS (
       |  SELECT doc_id, regexp_extract_all(stripped, '[a-z0-9]+') AS t
       |  FROM qual
       |), bigs2 AS (
       |  SELECT doc_id, t[i - 1] AS w1, t[i] AS w2
       |  FROM t2, UNNEST(generate_series(2, len(t))) AS u(i)
       |), uni2 AS (
       |  SELECT w, COUNT(*) AS c2
       |  FROM (SELECT UNNEST(t) AS w FROM t2) GROUP BY w
       |), tot2 AS (SELECT CAST(SUM(c2) AS BIGINT) AS T FROM uni2),
       |bm2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigs2 GROUP BY w1, w2),
       |ctx2 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS ctx
       |         FROM bm2 GROUP BY w1),
       |pd2 AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(CAST(FLOOR(ln(CAST($lam * c12 * T +
       |      ${10 - lam} * ctx * c2 AS DOUBLE)
       |      / CAST(10 * ctx * T AS DOUBLE)) * 1000) AS BIGINT)) AS BIGINT)
       |      AS ll_milli
       |  FROM bigs2
       |  JOIN bm2 USING (w1, w2)
       |  JOIN ctx2 USING (w1)
       |  JOIN uni2 ON bigs2.w2 = uni2.w
       |  CROSS JOIN tot2
       |  GROUP BY doc_id
       |), pm AS (
       |  SELECT doc_id,
       |    (ll_milli - (ll_milli % n_bigrams)) // n_bigrams AS doc_mean
       |  FROM pd2
       |), gm AS (
       |  SELECT (s - (s % c)) // c AS g
       |  FROM (SELECT CAST(SUM(doc_mean) AS BIGINT) AS s,
       |          COUNT(*) AS c FROM pm)
       |), kept AS (
       |  SELECT qual.source, qual.doc_id, qual.n_tok
       |  FROM qual JOIN pm USING (doc_id), gm
       |  WHERE doc_mean >= g
       |), c3 AS (
       |  SELECT source, doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS prev
       |  FROM kept
       |)
       |SELECT source, prev // $packBudget AS bin, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM c3 GROUP BY source, prev // $packBudget""".stripMargin
  }

  // --- q132: broadcast linear-model quality scoring ------------------------
  // Apply a trained quality classifier (logistic regression) to every
  // document — the "run the model over the corpus" step of a curation
  // pipeline. The model lives in a 1-row weights table (as it would after
  // a training job writes it), broadcast cross-joined into the scan; the
  // score is the dot product of integer-scaled features with integer
  // weights, entirely LONG arithmetic.
  //
  // Two deliberate design points for engine-exact parity at scale:
  //  • features are milli-scaled integers (floor(1000·ratio)) — the one
  //    double division per feature is IEEE-deterministic, floor pins the
  //    result, and everything downstream is exact 64-bit math;
  //  • the sigmoid is NOT evaluated: it is monotone, so the accept
  //    threshold σ(z) ≥ p is applied in logit space as z ≥ logit(p) —
  //    the standard serving trick that keeps distributed scoring free of
  //    libm exp() ulp differences across engines/platforms.
  // Scale shape: stateless per-row projection over the document scan plus
  // one broadcast of a 1-row model — no shuffle until the final per-
  // (lang, accepted) aggregate of per-group sums.
  private def q132(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // (bias, w_ntoks, w_stop, w_distinct, w_meanlen) in milli-units; a
    // held-out training job's output, pinned as the serving contract.
    // The length feature is the RAW token count, not log2(n): Spark's
    // log2 is ln(x)/ln(2) while DuckDB's is C log2 — they disagree at
    // powers of two (Spark log2(16) = 3.9999999999999996), which flips a
    // floor-scaled feature. Integer features keep z exact end-to-end.
    val weights = broadcast(Seq((-345000L, 6000L, -500L, 600L, -50L))
      .toDF("w0", "w1", "w2", "w3", "w4"))
    val zMin = 0L // accept iff z_milli ≥ 0 ⇔ σ(z) ≥ 0.5
    Tables.load(s, dir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '[a-z]+', 0)"))
      .filter(expr("size(toks) > 0"))
      .select(
        col("doc_id"), col("lang"),
        expr("CAST(size(toks) AS BIGINT)").as("n_toks"),
        expr("""CAST(floor(1000.0 * CAST(size(filter(toks,
               |  t -> t = 'a' OR t = 'the')) AS DOUBLE)
               |  / CAST(size(toks) AS DOUBLE)) AS BIGINT)"""
          .stripMargin).as("f_stop"),
        expr("""CAST(floor(1000.0 * CAST(size(array_distinct(toks)) AS DOUBLE)
               |  / CAST(size(toks) AS DOUBLE)) AS BIGINT)"""
          .stripMargin).as("f_distinct"),
        expr("""CAST(floor(1000.0
               |  * CAST(aggregate(toks, 0L, (a, t) -> a + length(t)) AS DOUBLE)
               |  / CAST(size(toks) AS DOUBLE)) AS BIGINT)"""
          .stripMargin).as("f_meanlen"))
      .crossJoin(weights)
      .withColumn("z_milli", expr(
        "w0 + w1 * n_toks + w2 * f_stop + w3 * f_distinct + w4 * f_meanlen"))
      .groupBy(col("lang"),
        (col("z_milli") >= zMin).as("accepted"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("z_milli")).as("min_z"),
        max(col("z_milli")).as("max_z"),
        expr("CAST(floor(CAST(sum(z_milli) AS DOUBLE) / count(*)) AS BIGINT)")
          .as("avg_z"))
  }

  private val q132Sql =
    """WITH w AS (
      |  SELECT -345000 AS w0, 6000 AS w1, -500 AS w2, 600 AS w3, -50 AS w4
      |), f AS (
      |  SELECT doc_id, lang,
      |    CAST(len(toks) AS BIGINT) AS n_toks,
      |    CAST(floor(1000.0 * CAST(len(list_filter(toks,
      |      t -> t = 'a' OR t = 'the')) AS DOUBLE)
      |      / CAST(len(toks) AS DOUBLE)) AS BIGINT) AS f_stop,
      |    CAST(floor(1000.0 * CAST(len(list_distinct(toks)) AS DOUBLE)
      |      / CAST(len(toks) AS DOUBLE)) AS BIGINT) AS f_distinct,
      |    CAST(floor(1000.0
      |      * CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
      |      / CAST(len(toks) AS DOUBLE)) AS BIGINT) AS f_meanlen
      |  FROM (SELECT doc_id, lang,
      |          regexp_extract_all(text, '[a-z]+') AS toks
      |        FROM documents)
      |  WHERE len(toks) > 0
      |), z AS (
      |  SELECT lang,
      |    w0 + w1 * n_toks + w2 * f_stop + w3 * f_distinct
      |      + w4 * f_meanlen AS z_milli
      |  FROM f CROSS JOIN w
      |)
      |SELECT lang, z_milli >= 0 AS accepted, COUNT(*) AS n_docs,
      |  CAST(MIN(z_milli) AS BIGINT) AS min_z,
      |  CAST(MAX(z_milli) AS BIGINT) AS max_z,
      |  CAST(floor(CAST(SUM(z_milli) AS DOUBLE) / COUNT(*)) AS BIGINT)
      |    AS avg_z
      |FROM z GROUP BY lang, accepted""".stripMargin

  // --- q133: inverted-index construction -----------------------------------
  // term → (document frequency, total term frequency, first-10 posting
  // list) for every term appearing in ≥5% of documents — the index-build
  // step of a BM25/TF-IDF retrieval stack (q106/q57 SCORE against such
  // an index; this entry BUILDS it).
  //
  // Scale shape: ONE pipeline, ONE scan — tokenize → explode → (term,
  // doc) partial-count → one per-term aggregate carrying df, Σtf AND the
  // posting sample, where the sample is [[graft.functions.TopKAggregator]]
  // (k = 10 smallest doc ids via value = −doc): a bounded-heap typed
  // Aggregator whose buffer never exceeds k elements, so per-term
  // aggregate state is O(k) no matter how common the term. The plan has
  // exactly two data Exchanges ((term, doc), then term) and ZERO Window /
  // Sort nodes — the earlier window formulation's rank gate was consumed
  // inside the aggregate, which does NOT fire InferWindowGroupLimit and
  // sorted each stopword's full posting list in one task. Skew-safety
  // comes from partial aggregation: the top-k/df/Σtf PARTIALS run on
  // (term, doc)-partitioned data, so a stopword term's work spreads
  // across every task and the term exchange carries ≤ one partial row
  // per (term × partition). Round14PlanSpec pins the no-Window /
  // two-Exchange shape.
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val nDocs = broadcast(docs.agg(count(lit(1)).as("n_total")))
    val minDocs = udaf(new graft.functions.TopKAggregator(10),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("tf_total"),
        // (−doc DESC, doc ASC) ⇔ doc ASC: the k smallest doc ids, already
        // sorted — exact for any doc_id < 2^53
        minDocs(negate(col("doc_id").cast("double")), col("doc_id")).as("top"))
      .withColumn("top_docs",
        expr("array_join(transform(top, t -> CAST(t._2 AS STRING)), ',')"))
      .crossJoin(nDocs)
      .filter(col("df") * 20 >= col("n_total"))
      .select("term", "df", "tf_total", "top_docs")
  }

  private val q133Sql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS term
      |  FROM documents
      |), td AS (
      |  SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2
      |), ranked AS (
      |  SELECT term, doc_id, tf,
      |    ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      |  FROM td
      |)
      |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total,
      |  array_to_string(list_sort(list(doc_id) FILTER (rn <= 10)), ',')
      |    AS top_docs
      |FROM ranked GROUP BY term
      |HAVING COUNT(*) * 20 >= (SELECT COUNT(*) FROM documents)"""
      .stripMargin

  // --- q147: padding-efficiency audit (batch construction strategies) ------
  // Inference/training batches pad every sequence to its batch max, so
  // batch COMPOSITION decides how many FLOPs are wasted on pad tokens.
  // This entry builds size-8 batches per source under two strategies —
  // arrival order (doc_id) vs length-sorted (n_toks, doc_id) — and
  // reports per (source, strategy): batch count, real tokens, padded
  // slots, pad tokens, and per-mille waste. Length-sorting is the
  // standard fix (similar lengths share a batch ⇒ max ≈ each), and the
  // entry QUANTIFIES its win on this corpus.
  //
  // Scale shape: two source-partitioned row_number windows over one
  // scan (no global total order — batches are built within source
  // shards, as real pipelines do), then a (source, batch) aggregate and
  // a (source, strategy) rollup. All integers; waste is floor-div
  // per-mille.
  private val BatchSize = 8
  private def q147(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("CAST(size(regexp_extract_all(text, '[a-z]+', 0)) AS BIGINT)")
          .as("n_toks"))
      .persist()
    def strat(name: String, order: String): DataFrame = {
      docs
        .withColumn("bid", expr(
          s"(row_number() OVER (PARTITION BY source ORDER BY $order) - 1)" +
            s" div $BatchSize"))
        .groupBy("source", "bid")
        .agg(count(lit(1)).as("bn"), sum(col("n_toks")).as("btoks"),
          max(col("n_toks")).as("bmax"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_batches"),
          sum(col("btoks")).as("real_tokens"),
          sum(expr("bmax * bn")).as("padded_slots"))
        .select(col("source"), lit(name).as("strategy"), col("n_batches"),
          col("real_tokens"), col("padded_slots"),
          expr("padded_slots - real_tokens").as("pad_tokens"),
          expr("((padded_slots - real_tokens) * 1000) div padded_slots")
            .as("waste_per_mille"))
    }
    strat("fifo", "doc_id")
      .union(strat("sorted", "n_toks, doc_id"))
  }

  private val q147Sql = {
    def leg(name: String, order: String) =
      s"""SELECT source, '$name' AS strategy, COUNT(*) AS n_batches,
        |  CAST(SUM(btoks) AS BIGINT) AS real_tokens,
        |  CAST(SUM(bmax * bn) AS BIGINT) AS padded_slots,
        |  CAST(SUM(bmax * bn) - SUM(btoks) AS BIGINT) AS pad_tokens,
        |  ((CAST(SUM(bmax * bn) AS BIGINT) - CAST(SUM(btoks) AS BIGINT))
        |    * 1000) // CAST(SUM(bmax * bn) AS BIGINT) AS waste_per_mille
        |FROM (
        |  SELECT source, bid, COUNT(*) AS bn, SUM(n_toks) AS btoks,
        |    MAX(n_toks) AS bmax
        |  FROM (
        |    SELECT source, n_toks,
        |      (ROW_NUMBER() OVER (PARTITION BY source ORDER BY $order)
        |        - 1) // $BatchSize AS bid
        |    FROM t
        |  ) GROUP BY source, bid
        |) GROUP BY source"""
    s"""WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT)
      |      AS n_toks
      |  FROM documents
      |)
      |${leg("fifo", "doc_id").stripMargin}
      |UNION ALL
      |${leg("sorted", "n_toks, doc_id").stripMargin}""".stripMargin
  }

  // ======================= text canonicalization ===========================

  /** Canonicalize raw scraped text in one projection: strip markup tags,
    * decode the non-breaking-space entity, collapse space runs, trim,
    * and NFC-normalize (native [[graft.functions.NfcNormalize]] — the
    * Unicode step Spark has no builtin for). Order matters and is part
    * of the contract: entity decode BEFORE whitespace collapse (a
    * decoded `&nbsp;` can create an adjacent space run), NFC last (tag
    * stripping can abut a base char and a combining mark that must then
    * compose).
    *
    * Scale shape: shuffle-free — a single narrow projection inside one
    * whole-stage-codegen span; every step including the NFC expression
    * is codegen'd, and already-NFC text (all ASCII) returns the input
    * buffer without allocation.
    */
  def normalizeText(df: DataFrame, textCol: String = "text",
      outCol: String = "norm_text"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    df.withColumn(outCol, call_function("graft_nfc",
      trim(regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), "<[^>]*>", ""),
          "&nbsp;", " "),
        " +", " "))))
  }

  // --- q150: markup strip + entity decode + NFC normalization --------------
  // The canonicalization every scrape-derived corpus runs before dedup /
  // hashing. The parquet fixtures are pure ASCII, so the query first
  // plants deterministic markup and DECOMPOSED accent sequences (both
  // engines plant byte-identically: 'table'→'<b>table</b>&nbsp;',
  // 'fast'→'fa'+U+0301+'st'), then normalizes; NFC composes a+U+0301
  // into U+00E1, observable as a codepoint-length drop, and the 60-bit
  // hash pins the exact output bytes. DuckDB's nfc_normalize is the
  // oracle twin of the native expression. Per-doc rows; zero shuffles.
  private def q150(s: SparkSession, dir: String): DataFrame = {
    val dirty = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), "table", "<b>table</b>&nbsp;"),
          "fast", "fa\u0301st").as("text"))
    normalizeText(dirty)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("len_dirty"),
        length(col("norm_text")).cast("long").as("len_norm"),
        expr(Dialect.sparkHash60("norm_text")).as("norm_hash"))
  }

  private val q150Sql =
    s"""WITH dirty AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      regexp_replace(text, 'table', '<b>table</b>&nbsp;', 'g'),
      |      'fast', 'fa' || chr(769) || 'st', 'g') AS text
      |  FROM documents
      |), norm AS (
      |  SELECT doc_id, text,
      |    nfc_normalize(trim(regexp_replace(
      |      replace(regexp_replace(text, '<[^>]*>', '', 'g'),
      |        '&nbsp;', ' '),
      |      ' +', ' ', 'g'))) AS norm_text
      |  FROM dirty
      |)
      |SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS len_dirty,
      |  CAST(length(norm_text) AS BIGINT) AS len_norm,
      |  ${Dialect.duckHash60("norm_text")} AS norm_hash
      |FROM norm""".stripMargin

  // --- q163: readability scoring (sentence stats + Flesch estimate) --------
  // The classic document-difficulty signal a curation pipeline wants next
  // to q22's quality score: per doc, sentence count (terminator runs
  // [.!?]+, clamped ≥ 1 so a fragment without punctuation still scores),
  // word count (explicit [ \t\n\r]+ split — Java's \s includes \x0B where
  // RE2's does not, so the whitespace class is pinned, per q111's regex
  // lesson), a vowel-group syllable proxy (maximal [aeiouyAEIOUY]+ runs —
  // the standard dictionary-free estimator), and the Flesch reading-ease
  // value computed from those three integers as ONE shared double
  // expression (identical IEEE shape both engines), bucketed into
  // easy/medium/hard tiers. Zero-word docs yield NULL score + 'hard'
  // (q21/q22's guard convention). Scale shape: stateless per-row
  // projection — no shuffle at all; the three regex passes are one scan.
  private val FleschExpr =
    "round(206.835 - 1.015 * CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE) " +
      "- 84.6 * CAST(n_vg AS DOUBLE) / CAST(n_words AS DOUBLE), 4)"

  private def q163(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        expr("CAST(greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1) " +
          "AS BIGINT)").as("n_sent"),
        expr("CAST(size(filter(split(text, '[ \\t\\n\\r]+'), x -> x != '')) " +
          "AS BIGINT)").as("n_words"),
        expr("CAST(size(regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)) " +
          "AS BIGINT)").as("n_vg"))
      .select(col("doc_id"), col("n_sent"), col("n_words"), col("n_vg"),
        expr(s"CASE WHEN n_words = 0 THEN CAST(NULL AS DOUBLE) " +
          s"ELSE $FleschExpr END").as("fre"))
      .withColumn("tier",
        expr("CASE WHEN fre >= 60.0 THEN 'easy' " +
          "WHEN fre >= 30.0 THEN 'medium' ELSE 'hard' END"))

  private val q163Sql =
    s"""WITH c AS (
       |  SELECT doc_id,
       |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
       |      AS BIGINT) AS n_sent,
       |    CAST(len(list_filter(string_split_regex(text, '[ \\t\\n\\r]+'),
       |      x -> x != '')) AS BIGINT) AS n_words,
       |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
       |      AS BIGINT) AS n_vg
       |  FROM documents
       |), scored AS (
       |  SELECT doc_id, n_sent, n_words, n_vg,
       |    CASE WHEN n_words = 0 THEN CAST(NULL AS DOUBLE)
       |         ELSE $FleschExpr END AS fre
       |  FROM c
       |)
       |SELECT doc_id, n_sent, n_words, n_vg, fre,
       |  CASE WHEN fre >= 60.0 THEN 'easy'
       |       WHEN fre >= 30.0 THEN 'medium' ELSE 'hard' END AS tier
       |FROM scored""".stripMargin

  // --- q182: classifier evaluation (confusion → precision/recall/F1) -------
  // The metrics side of every model-in-the-loop pipeline step (q23's
  // lang-id, q132's quality model): per-class TP/FP/FN from the
  // (actual × predicted) confusion matrix, then precision/recall/F1 as
  // shared double expressions over those exact integers. The "model"
  // here is a deterministic hash-of-text assignment — a pure function
  // both engines replay bit-identically; the operator under test is the
  // metrics computation, and the near-uniform predictions exercise real
  // off-diagonal mass. Shape: one (actual, predicted) aggregate, then
  // two 5-row re-aggregations joined per class — everything after the
  // first groupBy is report-sized. F1 guards the P+R=0 class with NULL
  // (not a fake 0 — an undefined score must stay undefined).
  private val q182Langs = "array('de', 'en', 'es', 'fr', 'zh')"

  private def q182(s: SparkSession, dir: String): DataFrame = {
    val conf = Tables.load(s, dir, "documents")
      .select(col("lang"),
        expr(s"element_at($q182Langs, CAST(pmod(" +
          Dialect.sparkHash60("text") + ", 5) AS INT) + 1)").as("pred"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .ckptLocal(eager = false) // read 3× below
    val tp = conf.filter(col("lang") === col("pred"))
      .select(col("lang").as("label"), col("n").as("tp"))
    val actual = conf.groupBy(col("lang").as("label"))
      .agg(sum(col("n")).as("n_actual"))
    val predicted = conf.groupBy(col("pred").as("label"))
      .agg(sum(col("n")).as("n_predicted"))
    actual.join(predicted, Seq("label"), "full_outer")
      .join(tp, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("n_predicted"), lit(0L))
          - coalesce(col("tp"), lit(0L))).as("fp"),
        (coalesce(col("n_actual"), lit(0L))
          - coalesce(col("tp"), lit(0L))).as("fn"))
      .select(col("label"), col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp = 0 THEN CAST(NULL AS DOUBLE) ELSE " +
          "round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END")
          .as("precision"),
        expr("CASE WHEN tp + fn = 0 THEN CAST(NULL AS DOUBLE) ELSE " +
          "round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END")
          .as("recall"),
        expr("CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(NULL AS DOUBLE) " +
          "ELSE round(2.0 * CAST(tp AS DOUBLE) " +
          "/ CAST(2 * tp + fp + fn AS DOUBLE), 6) END").as("f1"))
  }

  private val q182Sql = {
    val pred = s"['de', 'en', 'es', 'fr', 'zh']" +
      s"[CAST(${Dialect.duckHash60("text")} % 5 AS INT) + 1]"
    s"""WITH conf AS (
       |  SELECT lang, $pred AS pred, COUNT(*) AS n
       |  FROM documents GROUP BY 1, 2
       |), tp AS (
       |  SELECT lang AS label, CAST(n AS BIGINT) AS tp FROM conf
       |  WHERE lang = pred
       |), act AS (
       |  SELECT lang AS label, CAST(SUM(n) AS BIGINT) AS n_actual
       |  FROM conf GROUP BY 1
       |), prd AS (
       |  SELECT pred AS label, CAST(SUM(n) AS BIGINT) AS n_predicted
       |  FROM conf GROUP BY 1
       |), j AS (
       |  SELECT COALESCE(act.label, prd.label) AS label,
       |    COALESCE(tp.tp, 0) AS tp,
       |    COALESCE(n_predicted, 0) - COALESCE(tp.tp, 0) AS fp,
       |    COALESCE(n_actual, 0) - COALESCE(tp.tp, 0) AS fn
       |  FROM act FULL OUTER JOIN prd ON act.label = prd.label
       |  LEFT JOIN tp ON COALESCE(act.label, prd.label) = tp.label
       |)
       |SELECT label, tp, fp, fn,
       |  CASE WHEN tp + fp = 0 THEN CAST(NULL AS DOUBLE) ELSE
       |    round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END
       |    AS precision,
       |  CASE WHEN tp + fn = 0 THEN CAST(NULL AS DOUBLE) ELSE
       |    round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END
       |    AS recall,
       |  CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(NULL AS DOUBLE) ELSE
       |    round(2.0 * CAST(tp AS DOUBLE)
       |      / CAST(2 * tp + fp + fn AS DOUBLE), 6) END AS f1
       |FROM j""".stripMargin
  }

  // --- q183: score calibration audit (reliability bins + ECE) --------------
  // Before a model score gates a 100 TB pipeline (q132's logreg, q99's
  // LM), the calibration question: does "score 0.7" mean 70% positive?
  // Deterministic milli-score (hash of text mod 1000) vs a parity label,
  // binned into deciles; per bin: count, mean score (exact integer
  // milli, floor), empirical positive rate (milli), and the bin's
  // |gap|·n contribution to ECE — all integers, so the oracle replays
  // bit-for-bit. One aggregate over 10 bins; the Expected Calibration
  // Error is the caller's Σ contrib / N over the 10-row result.
  private def q183(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(
        expr(s"pmod(${Dialect.sparkHash60("text")}, 1000)").as("score"),
        expr("CAST(n_chars % 2 = 0 AS BIGINT)").as("label"))
      .groupBy(expr("score div 100").as("bin"))
      .agg(count(lit(1)).as("n"),
        expr("sum(score) div count(1)").as("mean_score_milli"),
        expr("(1000 * sum(label)) div count(1)").as("pos_rate_milli"))
      .select(col("bin"), col("n"), col("mean_score_milli"),
        col("pos_rate_milli"),
        // mean score is in [0,1000) milli like the rate; the bin's ECE
        // mass is |gap| weighted by its count
        expr("abs(mean_score_milli - pos_rate_milli) * n")
          .as("ece_contrib"))

  private val q183Sql = {
    val score = s"${Dialect.duckHash60("text")} % 1000"
    s"""WITH b AS (
       |  SELECT $score AS score,
       |    CAST(n_chars % 2 = 0 AS BIGINT) AS label
       |  FROM documents
       |), g AS (
       |  SELECT score // 100 AS bin, COUNT(*) AS n,
       |    CAST(SUM(score) AS BIGINT) // COUNT(*) AS mean_score_milli,
       |    (1000 * CAST(SUM(label) AS BIGINT)) // COUNT(*)
       |      AS pos_rate_milli
       |  FROM b GROUP BY 1
       |)
       |SELECT bin, n, mean_score_milli, pos_rate_milli,
       |  abs(mean_score_milli - pos_rate_milli) * n AS ece_contrib
       |FROM g""".stripMargin
  }

  // --- q184: keyword extraction (RAKE) -------------------------------------
  // Dictionary-free keyphrase mining: candidate phrases are maximal runs
  // of non-stopword tokens (stopwords split phrases), each phrase scored
  // by Σ over its words of degree(w)/freq(w) — RAKE's co-occurrence
  // degree favors words that live in long phrases. Fully relational
  // phrase construction: posexplode the token array, flag stopwords, and
  // a running sum of stop-flags is the phrase-island id (gaps-and-
  // islands, q113's trick) — no regex split semantics in the parity
  // surface at all, just token positions both engines agree on. Scores
  // in integer milli (1000·degree div freq summed per phrase; degree =
  // Σ phrase length over the word's phrases, freq = occurrence count —
  // both corpus-wide integers). Top-3 phrases per doc by (score DESC,
  // phrase ASC) via WindowGroupLimit. Shuffles: token-vocabulary stats,
  // phrase reassembly by (doc, island), and the per-doc top-k — all
  // keyed, no cross join.
  private val RakeStops = "array('the', 'a', 'and', 'of', 'to', 'in')"

  private def q184(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(expr("regexp_extract_all(text, '[a-z]+', 0)"))
          .as(Seq("pos", "tok")))
      .withColumn("is_stop",
        expr(s"CAST(array_contains($RakeStops, tok) AS INT)"))
    val w = Window.partitionBy("doc_id").orderBy(col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val phraseToks = toks
      .withColumn("island", sum(col("is_stop")).over(w))
      .filter(col("is_stop") === 0)
      .ckptLocal(eager = false) // feeds word stats AND reassembly
    val plens = phraseToks.groupBy("doc_id", "island")
      .agg(count(lit(1)).as("plen"))
    val wordStats = phraseToks
      .join(plens, Seq("doc_id", "island"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
    val phrases = phraseToks
      .join(wordStats, Seq("tok"))
      .groupBy("doc_id", "island")
      .agg(
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, tok))), " +
            "t -> t.tok)")).as("phrase"),
        sum(expr("(1000 * degree) div freq")).as("score_milli"))
    val topW = Window.partitionBy("doc_id")
      .orderBy(col("score_milli").desc, col("phrase").asc)
    phrases
      .withColumn("rn", row_number().over(topW))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn").cast("long").as("rn"),
        col("phrase"), col("score_milli"))
  }

  private val q184Sql =
    """WITH arrs AS (
      |  SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS arr
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos,
      |    arr[CAST(t.i AS INT)] AS tok,
      |    CASE WHEN arr[CAST(t.i AS INT)] IN
      |      ('the', 'a', 'and', 'of', 'to', 'in')
      |         THEN 1 ELSE 0 END AS is_stop
      |  FROM arrs, unnest(generate_series(1, len(arr))) AS t(i)
      |), isl AS (
      |  SELECT doc_id, pos, tok, island FROM (
      |    SELECT *,
      |      CAST(SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |        AS BIGINT) AS island
      |    FROM toks)
      |  WHERE is_stop = 0
      |), plens AS (
      |  SELECT doc_id, island, COUNT(*) AS plen
      |  FROM isl GROUP BY 1, 2
      |), ws AS (
      |  SELECT tok, COUNT(*) AS freq,
      |    CAST(SUM(plen) AS BIGINT) AS degree
      |  FROM isl JOIN plens USING (doc_id, island)
      |  GROUP BY tok
      |), phr AS (
      |  SELECT doc_id, island,
      |    string_agg(tok, ' ' ORDER BY pos ASC) AS phrase,
      |    CAST(SUM((1000 * degree) // freq) AS BIGINT) AS score_milli
      |  FROM isl JOIN ws USING (tok)
      |  GROUP BY 1, 2
      |)
      |SELECT doc_id, CAST(rn AS BIGINT) AS rn, phrase, score_milli
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY score_milli DESC, phrase ASC) AS rn
      |      FROM phr)
      |WHERE rn <= 3""".stripMargin

  // --- q233: temperature mixture apportionment (α-sampling targets) --------
  // The OTHER half of corpus mixing next to q197's water-filling cap:
  // the multilingual-pretraining temperature recipe — sampling weights
  // w_s ∝ mass_s^α with α = 1/2 flatten the source distribution so
  // low-resource sources are up-sampled relative to their share
  // (the exponent family used by multilingual encoder pretraining;
  // α = 1 is proportional, α = 0 uniform). The budget B of samples is
  // then split into INTEGER per-source targets by largest-remainder
  // (Hamilton) apportionment: base_s = (B·w_s) div W, and the
  // leftover L = B − Σ base (< n_sources by the mod identity) goes +1
  // each to the L largest remainders (ties → source asc). Σ target = B
  // EXACTLY by construction (q229's telescoping discipline), and every
  // target satisfies the quota property floor(B·w_s/W) ≤ target ≤
  // ceil(B·w_s/W) — both spec-pinned.
  //
  // Cross-engine exactness: α = 1/2 is computed as floor(sqrt(mass)) —
  // sqrt is IEEE-correctly-rounded in BOTH engines (the q228 recipe;
  // unlike exp/ln/pow there is no libm drift surface), and everything
  // after it is BIGINT div/mod (non-negative, so Spark trunc-div ≡
  // DuckDB floor-div). B·w_s ≤ 1e9 · 3.04e9 < 2⁶³ under the guarded
  // bounds. Scale shape: ONE map-side-combinable corpus aggregate to
  // the n_sources frame; the remainder rank is a window over that
  // report-sized frame (the q197 precedent — never over the corpus).

  /** PUBLIC operator: largest-remainder apportionment of `budget`
    * samples across sources under √-temperature weights. Returns one
    * row per source: (source, mass, w, base, extra, target) — all
    * BIGINT, Σ target = budget exactly. */
  def temperatureApportion(docs: DataFrame, budget: Long,
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    require(budget >= 1 && budget <= 1000000000L,
      s"temperatureApportion: budget=$budget outside 1..1e9 " +
        "(B·w must stay within BIGINT)")
    val mass = docs.select(col(srcCol).as("source"),
        expr(s"CAST(size(regexp_extract_all(`$textCol`, '[a-z]+', 0)) " +
          "AS BIGINT)").as("t"))
      .groupBy("source").agg(sum("t").as("mass"))
      .withColumn("w",
        expr("CAST(floor(sqrt(CAST(mass AS DOUBLE))) AS BIGINT)"))
      .ckptLocal(eager = false) // totals + apportionment
    val tot = mass.groupBy().agg(sum("w").as("wt"))
      .where(coalesce(
        assert_true(col("wt") > 0,
          lit("temperatureApportion: zero total weight — corpus has " +
            "no tokens")),
        lit(true)))
    val based = mass.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"(${budget}L * w) div wt"))
      .withColumn("rem", expr(s"(${budget}L * w) % wt"))
      .ckptLocal(eager = false) // base sum + rank
    val leftover = based.groupBy().agg(sum("base").as("bs"))
    based.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source").asc)).cast("long"))
      .withColumn("extra",
        when(col("rk") <= lit(budget) - col("bs"), 1L).otherwise(0L))
      .select(col("source"), col("mass"), col("w"), col("base"),
        col("extra"), (col("base") + col("extra")).as("target"))
  }

  private val TempB = 1000L

  private def q233(s: SparkSession, dir: String): DataFrame =
    temperatureApportion(Tables.load(s, dir, "documents"), TempB)

  private val q233Sql =
    s"""WITH m AS (
       |  SELECT source,
       |    CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT)
       |      AS mass
       |  FROM documents GROUP BY source
       |), w AS (
       |  SELECT source, mass,
       |    CAST(FLOOR(sqrt(CAST(mass AS DOUBLE))) AS BIGINT) AS w
       |  FROM m
       |), t AS (SELECT CAST(SUM(w) AS BIGINT) AS wt FROM w),
       |b AS (
       |  SELECT source, mass, w,
       |    ($TempB * w) // wt AS base,
       |    ($TempB * w) % wt AS rem
       |  FROM w CROSS JOIN t
       |), s AS (SELECT CAST(SUM(base) AS BIGINT) AS bs FROM b),
       |r AS (
       |  SELECT b.source, b.mass, b.w, b.base, b.rem, s.bs,
       |    ROW_NUMBER() OVER (ORDER BY b.rem DESC, b.source ASC) AS rk
       |  FROM b CROSS JOIN s
       |)
       |SELECT source, mass, w, base,
       |  CAST(CASE WHEN rk <= $TempB - bs THEN 1 ELSE 0 END AS BIGINT)
       |    AS extra,
       |  CAST(base + CASE WHEN rk <= $TempB - bs THEN 1 ELSE 0 END
       |    AS BIGINT) AS target
       |FROM r""".stripMargin

  // --- q197: mixture water-filling (per-source token budget) ---------------
  // The mixture-capping step of corpus composition: given per-source
  // token masses and a global budget B = half the corpus, allocate
  // quota_i = min(mass_i, cap) where cap is the WATER LEVEL — the
  // largest integer with Σ min(mass_i, cap) ≤ B — so small sources keep
  // everything and the budget shortfall comes proportionally out of the
  // heavy tails (the fair-cap mixture rule; the residual B − Σ quota <
  // n_sources stays unallocated by contract, keeping every quantity an
  // exact integer on both engines).
  //
  // The level solves RELATIONALLY, not by driver iteration: sort
  // sources by mass, prefix-sum; for the rank interval containing the
  // level, cap = (B − prefix_{r−1}) div (n − r + 1), and the row is
  // self-identified by cap < mass_r AND cap ≥ mass_{r−1} — exactly one
  // row passes (f(c) = Σ min(mass_i, c) is monotone; B < total keeps
  // the level strictly under the max). Scale shape: the heavy lifting
  // is ONE map-side-combinable aggregate over the corpus (source →
  // mass); the window/solve runs on the n_sources-row AGGREGATE (a
  // report-sized single-partition frame, q189's documented pattern),
  // and the cap rejoins by broadcast.
  private def q197(s: SparkSession, dir: String): DataFrame = {
    // the n_sources-row aggregate feeds THREE consumers (totals, the
    // level solve, the final quota join) — the lazy checkpoint barrier
    // makes the corpus scan+aggregate run ONCE; without it each
    // consumer re-derives the aggregate from a fresh corpus scan
    // (observed: 4 scans in the physical plan)
    val masses = Tables.load(s, dir, "documents")
      .groupBy("source")
      .agg(sum(size(expr("regexp_extract_all(text, '[a-z]+', 0)"))
        .cast("long")).as("mass"))
      .ckptLocal(eager = false)
    val totals = broadcast(masses.agg(
      count(lit(1)).as("n"),
      expr("sum(mass) div 2").as("budget"),
      sum(col("mass")).as("total")))
    val w = Window.orderBy(col("mass").asc, col("source").asc)
    val cap = broadcast(masses
      // in-plan guard (the bandKeys pattern): the "exactly one row
      // passes" self-identification needs B < max mass, which holds iff
      // the corpus has ANY tokens — a zero-mass corpus would otherwise
      // return an EMPTY frame silently instead of per-source rows
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_prefix",
        sum(col("mass")).over(w.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)) - col("mass"))
      .withColumn("prev_mass", lag(col("mass"), 1).over(w))
      .crossJoin(totals)
      .where(coalesce(
        assert_true(col("total") > 0,
          lit("q197: zero-token corpus — the water level is undefined " +
            "(budget = total = 0); feed a corpus with tokens")),
        lit(true)))
      .withColumn("cap", expr("(budget - prev_prefix) div (n - rn + 1)"))
      .filter(expr("cap < mass AND (rn = 1 OR cap >= prev_mass)"))
      .select(col("cap")))
    masses.crossJoin(cap).crossJoin(totals)
      .select(col("source"), col("mass"),
        least(col("mass"), col("cap")).as("quota"),
        col("cap"), col("budget"),
        (col("mass") > col("cap")).as("saturated"))
  }

  private val q197Sql =
    """WITH m AS (
      |  SELECT source,
      |    CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT)
      |      AS mass
      |  FROM documents GROUP BY 1
      |), t AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(CAST(SUM(mass) AS BIGINT) // 2 AS BIGINT) AS budget
      |  FROM m
      |), r AS (
      |  SELECT source, mass,
      |    ROW_NUMBER() OVER (ORDER BY mass ASC, source ASC) AS rn,
      |    CAST(SUM(mass) OVER (ORDER BY mass ASC, source ASC
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - mass AS prev_prefix,
      |    LAG(mass) OVER (ORDER BY mass ASC, source ASC) AS prev_mass
      |  FROM m
      |), c AS (
      |  SELECT CAST((budget - prev_prefix) // (n - rn + 1) AS BIGINT)
      |    AS cap
      |  FROM r CROSS JOIN t
      |  WHERE (budget - prev_prefix) // (n - rn + 1) < mass
      |    AND (rn = 1 OR (budget - prev_prefix) // (n - rn + 1) >= prev_mass)
      |)
      |SELECT m.source, m.mass, LEAST(m.mass, c.cap) AS quota, c.cap,
      |  t.budget, m.mass > c.cap AS saturated
      |FROM m CROSS JOIN c CROSS JOIN t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q197_mixture_cap" -> q197 _,
    "q184_keyword_rake" -> q184 _,
    "q182_classifier_metrics" -> q182 _,
    "q183_calibration" -> q183 _,
    "q163_readability" -> q163 _,
    "q150_normalize_nfc" -> q150 _,
    "q132_quality_logreg" -> q132 _,
    "q133_inverted_index" -> q133 _,
    "q147_padding_audit" -> q147 _,
    "q129_curation_v2" -> q129 _,
    "q123_bigram_lm" -> q123 _,
    "q215_kneser_ney" -> q215 _,
    "q121_bpe_encode" -> q121 _,
    "q204_bpe_train" -> q204 _,
    "q119_pmi_collocations" -> q119 _,
    "q111_char_entropy" -> q111 _,
    "q108_pps_sample" -> q108 _,
    "q106_bm25" -> q106 _,
    "q104_lm_score_join" -> q104 _,
    "q103_domain_cap_etld" -> q103 _,
    "q102_domain_cap" -> q102 _,
    "q99_lm_score" -> q99 _,
    "q98_pii_redact" -> q98 _,
    "q95_packing_scan" -> q95 _,
    "q94_stratified_sample" -> q94 _,
    "q229_pps_sample" -> q229 _,
    "q90_curation_pipeline" -> q90 _,
    "q88_vocabulary" -> q88 _,
    "q87_repetition" -> q87 _,
    "q86_dataset_split" -> q86 _,
    "q85_mixture_sample" -> q85 _,
    "q80_token_packing" -> q80 _,
    "q21_token_stats" -> q21 _,
    "q22_quality_score" -> q22 _,
    "q23_langid" -> q23 _,
    "q232_langid_nb" -> q232 _,
    "q233_temp_apportion" -> q233 _,
    "q237_dsir_select" -> q237 _,
    "q238_textrank" -> q238 _,
    "q24_fingerprint" -> q24 _,
    "q40_chunking" -> q40 _,
    "q57_tfidf" -> q57 _,
    "q70_decontaminate" -> q70 _)

  val oracleSql: Map[String, String] = Map(
    "q197_mixture_cap" -> q197Sql,
    "q184_keyword_rake" -> q184Sql,
    "q182_classifier_metrics" -> q182Sql,
    "q183_calibration" -> q183Sql,
    "q163_readability" -> q163Sql,
    "q150_normalize_nfc" -> q150Sql,
    "q132_quality_logreg" -> q132Sql,
    "q133_inverted_index" -> q133Sql,
    "q147_padding_audit" -> q147Sql,
    "q129_curation_v2" -> q129Sql,
    "q123_bigram_lm" -> q123Sql,
    "q215_kneser_ney" -> q215Sql,
    "q121_bpe_encode" -> q121Sql,
    "q204_bpe_train" -> q204Sql,
    "q119_pmi_collocations" -> q119Sql,
    "q111_char_entropy" -> q111Sql,
    "q108_pps_sample" -> q108Sql,
    "q106_bm25" -> q106Sql,
    "q104_lm_score_join" -> q99Sql, // bit-equal paths share the oracle
    "q103_domain_cap_etld" -> q103Sql,
    "q102_domain_cap" -> q102Sql,
    "q99_lm_score" -> q99Sql,
    "q98_pii_redact" -> q98Sql,
    "q95_packing_scan" -> q95Sql,
    "q94_stratified_sample" -> q94Sql,
    "q229_pps_sample" -> q229Sql,
    "q90_curation_pipeline" -> q90Sql,
    "q88_vocabulary" -> q88Sql,
    "q87_repetition" -> q87Sql,
    "q86_dataset_split" -> q86Sql,
    "q85_mixture_sample" -> q85Sql,
    "q80_token_packing" -> q80Sql,
    "q21_token_stats" -> q21Sql,
    "q22_quality_score" -> q22Sql,
    "q23_langid" -> q23Sql,
    "q232_langid_nb" -> q232Sql,
    "q233_temp_apportion" -> q233Sql,
    "q237_dsir_select" -> q237Sql,
    "q238_textrank" -> q238Sql,
    "q24_fingerprint" -> q24Sql,
    "q40_chunking" -> q40Sql,
    "q57_tfidf" -> q57Sql,
    "q70_decontaminate" -> q70Sql)
}
