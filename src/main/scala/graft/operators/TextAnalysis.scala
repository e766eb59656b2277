package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftMaterialize.materialize
import org.apache.spark.sql.functions._

import graft.functions.Fingerprint64
import graft.tables.Tables

/** Text-analysis operators for corpus curation: token statistics,
  * n-gram-free language ID (stopword scoring), quality scoring, and
  * content fingerprinting. All row-local — they compile to a single
  * codegen'd projection over the scan, no shuffle at any scale.
  */
object TextAnalysis {

  // ——— token statistics ———

  /** Whitespace token stats plus a BPE-style regex tokenization:
    * letter-runs / digit-runs / punctuation-runs counted separately
    * (the run classes a byte-pair pre-tokenizer splits on). The
    * character classes are kept to ASCII runs so the Java-regex
    * (Spark) and RE2 (DuckDB) engines agree exactly.
    */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(col(textCol), " ")
    df.select(
      col(idCol),
      size(words).as("token_cnt"),
      size(array_distinct(words)).as("uniq_tokens"),
      (length(regexp_replace(col(textCol), " ", "")).cast("double") / size(words))
        .as("avg_token_len"),
      regexp_count(col(textCol), lit("[A-Za-z]+")).cast("long").as("alpha_runs"),
      regexp_count(col(textCol), lit("[0-9]+")).cast("long").as("digit_runs"),
      regexp_count(col(textCol), lit("[^A-Za-z0-9 ]+")).cast("long").as("punct_runs"))
  }

  def tokenStatsQuery(spark: SparkSession, dir: String): DataFrame =
    tokenStats(Tables.documents(spark, dir), "doc_id", "text")

  val tokenStatsSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS token_cnt,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS uniq_tokens,
      |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS alpha_runs,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS digit_runs,
      |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]+')) AS BIGINT) AS punct_runs
      |FROM documents""".stripMargin

  // ——— language identification (stopword-hit heuristic) ———

  /** Tiny per-language function-word lists. Real pipelines plug in a
    * larger lexicon or an n-gram model; the operator shape (score per
    * language from one pass over tokens, argmax with a fixed
    * precedence) is what scales.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des", "en", "du", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "den", "im", "ein", "zu"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"))

  private def hitCount(textCol: String, words: Seq[String]): Column = {
    val arr = words.map(w => s"'$w'").mkString(", ")
    expr(s"size(filter(split($textCol, ' '), x -> array_contains(array($arr), x)))")
  }

  /** Guess = language with the max stopword-hit count; ties resolve in
    * [[stopwords]] declaration order (en first).
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = df.select(
      (Seq(col(idCol)) ++ stopwords.map { case (lang, ws) => hitCount(textCol, ws).as(s"s_$lang") }): _*)
    val langs = stopwords.map(_._1)
    val best = langs.init.foldRight(lit(langs.last): Column) { (lang, els) =>
      val isMax = langs.filter(_ != lang)
        .map(o => col(s"s_$lang") >= col(s"s_$o"))
        .reduce(_ && _)
      when(isMax, lit(lang)).otherwise(els)
    }
    scored.select(
      (Seq(col(idCol), best.as("lang_guess")) ++ langs.map(l => col(s"s_$l"))): _*)
  }

  def langIdQuery(spark: SparkSession, dir: String): DataFrame =
    langId(Tables.documents(spark, dir), "doc_id", "text")

  val langIdSql: String = {
    def hits(lang: String): String = {
      val arr = stopwords.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), x -> list_contains([$arr], x)))"
    }
    val langs = stopwords.map(_._1)
    val scoreCols = langs.map(l => s"CAST(${hits(l)} AS INTEGER) AS s_$l").mkString(", ")
    // same fold-right precedence as the Scala side: first language
    // whose score is >= all others wins
    val caseExpr = langs.init.foldRight(s"'${langs.last}'") { (lang, els) =>
      val cond = langs.filter(_ != lang).map(o => s"s_$lang >= s_$o").mkString(" AND ")
      s"CASE WHEN $cond THEN '$lang' ELSE $els END"
    }
    s"""WITH scored AS (SELECT doc_id, $scoreCols FROM documents)
       |SELECT doc_id, $caseExpr AS lang_guess, ${langs.map(l => s"s_$l").mkString(", ")}
       |FROM scored""".stripMargin
  }

  // ——— quality scoring ———

  /** Quality = 0.4·stopword-ratio + 0.3·type-token-ratio +
    * 0.3·length-norm (capped at 500 tokens). Exact int ratios combined
    * with fixed weights in a fixed order → engine-reproducible after
    * round(·, 6).
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(col(textCol), " ")
    val tokenCnt = size(words)
    val stopHits = hitCount(textCol, stopwords.toMap.apply("en"))
    val score =
      lit(0.4) * (stopHits.cast("double") / tokenCnt) +
        lit(0.3) * (size(array_distinct(words)).cast("double") / tokenCnt) +
        lit(0.3) * (least(tokenCnt, lit(500)).cast("double") / lit(500.0))
    df.select(col(idCol), round(score, 6).as("quality"))
  }

  def qualityQuery(spark: SparkSession, dir: String): DataFrame =
    qualityScore(Tables.documents(spark, dir), "doc_id", "text")

  /** The DuckDB quality-score scalar expression over a `text` column —
    * single definition shared by q23's oracle and the composed
    * curation oracles (q40, q66), so a weight/lexicon change cannot
    * silently diverge between them.
    */
  val qualityExprSql: String = {
    val arr = stopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    s"""round(0.4 * (CAST(len(list_filter(string_split(text, ' '), x -> list_contains([$arr], x))) AS DOUBLE)
       |             / len(string_split(text, ' ')))
       |    + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |             / len(string_split(text, ' ')))
       |    + 0.3 * (CAST(least(len(string_split(text, ' ')), 500) AS DOUBLE) / 500.0), 6)""".stripMargin
  }

  val qualitySql: String =
    s"SELECT doc_id,\n  $qualityExprSql AS quality\nFROM documents"

  // ——— Gopher-style rule gate (Rae et al. 2021, exact-arithmetic subset) ———

  /** The Gopher quality RULES as a per-document boolean breakdown —
    * the hand-written filters (token-count window, mean-token-length
    * window, symbol-to-token ratio cap, minimum distinct-stopword
    * evidence) that precede any model-based scoring in a curation
    * stack. Each rule is an exact integer/ratio comparison, so the
    * breakdown (not just the verdict) replays bit-identically in SQL —
    * when a doc is dropped, the pipeline can say WHICH rule dropped
    * it. Thresholds follow the paper where the synthetic corpus makes
    * them meaningful (50 ≤ tokens ≤ 100 000, 3 ≤ mean len ≤ 10,
    * symbols < 10%, ≥ 2 distinct English stopwords).
    *
    * Row-local → one codegen'd projection, no shuffle at any scale;
    * the verdict column composes with [[Pipelines]] gates downstream.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(col(textCol), " ")
    val nTok = size(words)
    val meanLen = length(regexp_replace(col(textCol), " ", "")).cast("double") / nTok
    // unescaped braces are literal inside a class for BOTH Java regex
    // and RE2 — the pattern string is byte-identical on the two engines
    val symbolHits = regexp_count(col(textCol), lit("[#@{}<>|^~]"))
    val enWords = stopwords.toMap.apply("en")
    val arr = enWords.map(w => s"'$w'").mkString(", ")
    val distinctStops = expr(
      s"size(array_intersect(array_distinct(split($textCol, ' ')), array($arr)))")
    df.select(
      col(idCol),
      (nTok >= 50 && nTok <= 100000).as("ok_token_count"),
      (meanLen >= 3.0 && meanLen <= 10.0).as("ok_mean_len"),
      (symbolHits.cast("double") / nTok < 0.1).as("ok_symbols"),
      (distinctStops >= 2).as("ok_stopwords"))
      .withColumn("pass",
        col("ok_token_count") && col("ok_mean_len") && col("ok_symbols") && col("ok_stopwords"))
  }

  def gopherRulesQuery(spark: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.documents(spark, dir), "doc_id", "text")

  val gopherRulesSql: String = {
    val arr = stopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_tok,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS mean_len,
       |    len(regexp_extract_all(text, '[#@{}<>|^~]')) AS symbol_runs,
       |    len(list_intersect(list_distinct(string_split(text, ' ')), [$arr])) AS distinct_stops
       |  FROM documents)
       |SELECT doc_id,
       |  n_tok >= 50 AND n_tok <= 100000 AS ok_token_count,
       |  mean_len >= 3.0 AND mean_len <= 10.0 AS ok_mean_len,
       |  CAST(symbol_runs AS DOUBLE) / n_tok < 0.1 AS ok_symbols,
       |  distinct_stops >= 2 AS ok_stopwords,
       |  (n_tok >= 50 AND n_tok <= 100000) AND (mean_len >= 3.0 AND mean_len <= 10.0)
       |    AND (CAST(symbol_runs AS DOUBLE) / n_tok < 0.1) AND (distinct_stops >= 2) AS pass
       |FROM t""".stripMargin
  }

  // ——— denylist scrubbing (PII-style redaction) ———

  /** Denylist redaction — the PII-scrub shape of a training-data
    * pipeline (emails/phones/ids in production; here a term denylist,
    * since the gated corpus is synthetic words): every denylisted
    * token is replaced by a redaction marker, with a hit count and an
    * md5 of the scrubbed text for verification. Row-local regex →
    * single codegen'd projection, no shuffle at any scale. The
    * character classes and `\b` anchors are chosen to behave
    * identically under Java regex (Spark) and RE2 (DuckDB).
    */
  val denyPattern: String = "\\b(customer|user|key|secret)\\b"

  def scrub(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      regexp_count(col(textCol), lit(denyPattern)).cast("long").as("n_hits"),
      md5(regexp_replace(col(textCol), denyPattern, "[REDACTED]")).as("scrub_md5"))

  def scrubQuery(spark: SparkSession, dir: String): DataFrame =
    scrub(Tables.documents(spark, dir), "doc_id", "text")

  val scrubSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\b(customer|user|key|secret)\b')) AS BIGINT) AS n_hits,
      |  md5(regexp_replace(text, '\b(customer|user|key|secret)\b', '[REDACTED]', 'g')) AS scrub_md5
      |FROM documents""".stripMargin

  // ——— Zipf-slope corpus health audit ———

  /** q240 — corpus HEALTH via the Zipf slope: OLS fit of ln(freq)
    * against ln(rank) over the top-200 vocabulary. Natural language
    * sits near slope −1 (Zipf's law); a corpus whose slope drifts is
    * the classic signal of template/generated text (too flat: tokens
    * near-uniform) or boilerplate collapse (too steep: a few tokens
    * dominating) — the one-number monitor a corpus-refresh pipeline
    * tracks next to q22's language mix and q23's quality score.
    *
    * Scale shape: the frequency table is one sparse-key aggregate;
    * top-200 is `ORDER BY … LIMIT` (Spark's parallel TopK — NO
    * global sort, no full-vocabulary window); the regression then
    * runs on 200 rows. Exactness: ln fixed-points to milli-nats
    * (the q158/q213 discipline — both engines' libm agree at this
    * grain), the OLS moments are exact BIGINT sums, and the slope is
    * emitted BOTH as the exact integer rational (slope_num/slope_den)
    * and as `neg_slope_micro = 10⁶·(−num) div den` — numerator
    * negated first so the integer division only ever sees positive
    * operands (the trunc-vs-floor engine divergence, q236's lesson).
    */
  def zipfAuditQuery(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val top = freq.orderBy(col("f").desc, col("tok").asc).limit(200)
    val ranked = top.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("f").desc, col("tok").asc)))
      .select(
        expr("CAST(round(ln(CAST(r AS DOUBLE)) * 1000) AS BIGINT)").as("x"),
        expr("CAST(round(ln(CAST(f AS DOUBLE)) * 1000) AS BIGINT)").as("y"))
    ranked.agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n_terms"),
        (col("n_terms") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_terms") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .withColumn("neg_slope_micro", expr("1000000L * (-slope_num) div slope_den"))
  }

  /** Oracle: identical milli-nat fixed-pointing and BIGINT moments
    * (every aggregate cast — the HUGEINT ban).
    */
  val zipfAuditSql: String =
    """WITH f AS (
      |  SELECT tok, count(*) AS f FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
      |  WHERE length(tok) > 0 GROUP BY tok),
      |top AS (SELECT tok, f FROM f ORDER BY f DESC, tok LIMIT 200),
      |xy AS (
      |  SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY f DESC, tok) AS DOUBLE)) * 1000)
      |           AS BIGINT) AS x,
      |         CAST(round(ln(CAST(f AS DOUBLE)) * 1000) AS BIGINT) AS y
      |  FROM top),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM xy)
      |SELECT n_terms,
      |  CAST(n_terms * sxy - sx * sy AS BIGINT) AS slope_num,
      |  CAST(n_terms * sxx - sx * sx AS BIGINT) AS slope_den,
      |  CAST(1000000 * (-(n_terms * sxy - sx * sy)) // (n_terms * sxx - sx * sx) AS BIGINT)
      |    AS neg_slope_micro
      |FROM m""".stripMargin

  // ——— labeling-function agreement (weak-supervision QA) ———

  /** q236 — inter-labeler AGREEMENT audit (Cohen's κ), the QA step a
    * weak-supervision / programmatic-labeling pipeline (Snorkel-style
    * labeling functions, or two human annotator pools) runs before
    * trusting any label source: per source, the 2×2 confusion matrix
    * of two labeling functions plus observed agreement (pₒ), chance
    * agreement (pₑ), and κ = (pₒ−pₑ)/(1−pₑ). High raw agreement with
    * κ ≈ 0 means the labelers agree only by prevalence — the classic
    * trap this statistic exists to catch.
    *
    * The two LFs here are deterministic document heuristics (char
    * length ≥ 200; token count ≥ 40 — correlated but not identical,
    * like real LFs). Distributed shape: labeling is a row-local
    * codegen'd projection; the confusion matrix is ONE mergeable
    * 4-counter aggregate per source — at 100 TB agreement costs
    * exactly one scan, the same as any count.
    *
    * Exactness: κ is emitted as fixed-point micro AND as the exact
    * integer rational (kappa_num / kappa_den: κ·den = n·(n11+n00) −
    * (a1·b1 + a0·b0), den = n² − (a1·b1+a0·b0)) so consumers needing
    * the unrounded value divide themselves; all arithmetic is BIGINT
    * on both engines.
    */
  def labelAgreementQuery(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("source"),
      (length(col("text")) >= 200).cast("int").as("a"),
      (size(split(col("text"), " ")) >= 40).cast("int").as("b"))
    d.groupBy(col("source")).agg(
        count(lit(1)).as("n"),
        sum((col("a") === 1 && col("b") === 1).cast("long")).as("n11"),
        sum((col("a") === 1 && col("b") === 0).cast("long")).as("n10"),
        sum((col("a") === 0 && col("b") === 1).cast("long")).as("n01"),
        sum((col("a") === 0 && col("b") === 0).cast("long")).as("n00"))
      .select(col("source"), col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        expr("1000000L * (n11 + n00) div n").as("po_micro"),
        expr("1000000L * ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) div (n * n)")
          .as("pe_micro"),
        expr("n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))")
          .as("kappa_num"),
        expr("n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))")
          .as("kappa_den"))
      .withColumn("kappa_micro", expr("1000000L * kappa_num div kappa_den"))
  }

  /** Oracle: identical BIGINT confusion/κ arithmetic per source. */
  val labelAgreementSql: String =
    """WITH lf AS (
      |  SELECT source,
      |    CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN len(string_split(text, ' ')) >= 40 THEN 1 ELSE 0 END AS b
      |  FROM documents),
      |cm AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
      |  FROM lf GROUP BY source)
      |SELECT source, n, n11, n10, n01, n00,
      |  CAST(1000000 * (n11 + n00) // n AS BIGINT) AS po_micro,
      |  CAST(1000000 * ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) // (n * n)
      |    AS BIGINT) AS pe_micro,
      |  CAST(n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
      |    AS BIGINT) AS kappa_num,
      |  CAST(n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
      |    AS BIGINT) AS kappa_den,
      |  CAST(1000000 * (n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))
      |       // (n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))
      |    AS BIGINT) AS kappa_micro
      |FROM cm""".stripMargin

  // ——— repetition detection ———

  /** Intra-document repetition ratio: 1 − |distinct 3-grams| / |3-grams|
    * — the duplicate-n-gram quality signal used to drop degenerate /
    * boilerplate text (high ratio = the document keeps repeating
    * itself). Row-local array arithmetic; shingles hash to 64-bit
    * before the distinct so no per-shingle string is built.
    */
  def repetition(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("__w"))
      .filter(size(col("__w")) >= n)
      .select(col(idCol), expr(
        s"transform(sequence(0, size(__w) - $n), i -> xxhash64(slice(__w, i + 1, $n)))").as("__sh"))
      .select(
        col(idCol),
        size(col("__sh")).as("n_grams"),
        round(lit(1.0) - size(array_distinct(col("__sh"))).cast("double") / size(col("__sh")), 6)
          .as("rep_ratio"))

  def repetitionQuery(spark: SparkSession, dir: String): DataFrame =
    repetition(Tables.documents(spark, dir), "doc_id", "text", n = 3)

  val repetitionSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id, list_transform(range(len(ws) - 2),
      |    i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3]) AS grams
      |  FROM w WHERE len(ws) >= 3)
      |SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_grams,
      |  round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) AS rep_ratio
      |FROM sh""".stripMargin

  // ——— vocabulary heavy hitters ———

  /** Top-k vocabulary per language — the corpus-diagnostic a
    * pretraining pipeline runs to spot vocabulary skew and boilerplate
    * flooding. One grouped count (map-side combined: the shuffle
    * carries (lang, word) partials, not tokens) + a per-language top-k
    * window over the |vocabulary|-sized aggregate, with a total order
    * (count desc, word asc) so the result is deterministic.
    */
  def vocabTopK(df: DataFrame, langCol: String, textCol: String, k: Int): DataFrame = {
    val counts = df
      .select(col(langCol).as("lang"), explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("cnt").desc, col("word").asc)
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("lang"), col("word"), col("cnt"), col("rk"))
  }

  def vocabTopKQuery(spark: SparkSession, dir: String): DataFrame =
    vocabTopK(Tables.documents(spark, dir), "lang", "text", k = 10)

  val vocabTopKSql: String =
    """SELECT lang, word, cnt, CAST(rk AS INTEGER) AS rk FROM (
      |  SELECT lang, word, count(*) AS cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, word) AS rk
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) t
      |  WHERE word <> ''
      |  GROUP BY lang, word) r
      |WHERE rk <= 10""".stripMargin

  // ——— corpus-vocabulary coverage (Gopher/C4-style LM quality gate) ———

  /** Vocabulary-coverage scoring — the corpus-derived analog of
    * Gopher's "fraction of words in a reference vocabulary" quality
    * rule: the reference vocabulary is the corpus's own `vocabSize`
    * most frequent tokens (ties broken by token text, so the cut is
    * total-ordered and reproducible), and each document scores the
    * exact fraction of its tokens that land inside it. Low coverage
    * flags boilerplate, code-ish noise, or wrong-language text without
    * any model in the loop.
    *
    * Hash-stability: coverage is a ratio of two exact integers —
    * IEEE division gives the bit-identical double on any engine, so
    * the oracle compares exactly (no transcendental log-probs).
    *
    * Scale: one token-level aggregate for the vocabulary (map-side
    * combine collapses each partition to its distinct tokens; the
    * top-V cut moves V rows per partition at most), the V-row
    * vocabulary BROADCASTS back, and the per-doc roll-up re-groups
    * token rows by doc id — docs are contiguous within partitions, so
    * partial aggregation collapses that shuffle to ~one row per doc.
    * The corpus IS tokenized twice (the vocabulary branch and the
    * probe branch cannot share an un-exchanged subtree): two
    * scan-local passes, no extra shuffle — at 100 TB, persist the
    * token projection between the passes if the second scan dominates.
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabCoverage needs vocabSize > 0")
    val toks = df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tok").asc)
      .limit(vocabSize)
      .select(col("tok"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__in"), lit(0))).cast("long").as("n_in_vocab"))
      .withColumn("coverage", col("n_in_vocab").cast("double") / col("n_tokens"))
  }

  def vocabCoverageQuery(spark: SparkSession, dir: String): DataFrame =
    vocabCoverage(Tables.documents(spark, dir), "doc_id", "text", vocabSize = 20)

  val vocabCoverageSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), toks2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
      |vocab AS (
      |  SELECT tok, 1 AS invoc FROM (
      |    SELECT tok, count(*) AS c FROM toks2 GROUP BY tok
      |    ORDER BY c DESC, tok LIMIT 20) v
      |)
      |SELECT t.doc_id, count(*) AS n_tokens,
      |       CAST(sum(COALESCE(vv.invoc, 0)) AS BIGINT) AS n_in_vocab,
      |       CAST(sum(COALESCE(vv.invoc, 0)) AS DOUBLE) / count(*) AS coverage
      |FROM toks2 t LEFT JOIN vocab vv ON t.tok = vv.tok
      |GROUP BY t.doc_id""".stripMargin

  // ——— document chunking (overlapping token windows) ———

  /** Split each document into overlapping token-window chunks — the
    * pre-processing step of every embedding/RAG pipeline: chunk i
    * covers tokens [i·stride, i·stride + chunkTokens). Entirely
    * row-local (one explode, no shuffle), so it scales as a pure map
    * over the corpus; chunk counts are ⌈max(n−chunk, 0)/stride⌉ + 1
    * per doc (always ≥ 1 — short docs yield one whole-doc chunk).
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(stride > 0 && chunkTokens >= stride,
      "need stride > 0 and chunkTokens >= stride (otherwise tokens are skipped)")
    df.select(col(idCol), split(col(textCol), " ").as("__t"))
      .withColumn("__n", size(col("__t")))
      .select(col(idCol), col("__t"), col("__n"),
        explode(expr(
          s"sequence(0, (greatest(__n - $chunkTokens, 0) + $stride - 1) div $stride)"))
          .as("__i"))
      .select(col(idCol),
        col("__i").cast("int").as("chunk_idx"),
        (col("__i") * stride).cast("int").as("start_tok"),
        least(lit(chunkTokens), col("__n") - col("__i") * stride).cast("int").as("n_tok"),
        concat_ws(" ", slice(col("__t"), (col("__i") * stride + 1).cast("int"),
          lit(chunkTokens))).as("chunk_text"))
  }

  def chunkQuery(spark: SparkSession, dir: String): DataFrame =
    chunkDocuments(Tables.documents(spark, dir), "doc_id", "text",
      chunkTokens = 64, stride = 16)

  val chunkSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws, len(string_split(text, ' ')) AS n
      |           FROM documents),
      |c AS (SELECT doc_id, ws, n,
      |        unnest(range(((greatest(n - 64, 0) + 15) // 16) + 1)) AS i
      |      FROM t)
      |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
      |  CAST(i * 16 AS INTEGER) AS start_tok,
      |  CAST(least(64, n - i * 16) AS INTEGER) AS n_tok,
      |  array_to_string(ws[CAST(i*16 + 1 AS INT) : CAST(i*16 + 64 AS INT)], ' ') AS chunk_text
      |FROM c""".stripMargin

  // ——— fingerprinting ———

  /** Fully oracle-gated: the 64-bit wrapping polynomial hash is
    * replicated in DuckDB via HUGEINT arithmetic mod 2⁶⁴ (see the q24
    * entry in SparkEntry.oracleSql); golden values are also unit-tested.
    */
  def fingerprintQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Fingerprint64(col("text")).as("fp"))

  /** The DuckDB replica of [[graft.functions.Fingerprint64]] over a
    * column named `text`, as an UNSIGNED HUGEINT expression — ONE
    * definition composed by the q24 oracle and the q207 manifest
    * oracle (wrap with [[fingerprintSignedSql]] for the int64 view).
    */
  val fingerprintHugeintSql: String =
    """list_reduce(list_prepend(0::HUGEINT,
      |    list_transform(range(octet_length(encode(text))),
      |      i -> CAST(CAST(('0x' || substr(hex(encode(text)), 2*i::INT + 1, 2)) AS INT) AS HUGEINT))),
      |    (a, b) -> (a * 257 + b) % 18446744073709551616::HUGEINT)""".stripMargin

  /** Reinterpret an unsigned HUGEINT fingerprint as Spark's signed
    * int64 (two's complement).
    */
  def fingerprintSignedSql(hugeCol: String): String =
    s"""CAST(CASE WHEN $hugeCol > 9223372036854775807::HUGEINT
       |          THEN $hugeCol - 18446744073709551616::HUGEINT ELSE $hugeCol END AS BIGINT)""".stripMargin

  // ——— normalization (the step BEFORE fingerprinting/dedup) ———

  /** Normalize-then-fingerprint — the presentation-invariant dedup
    * key: NFC + lowercase + whitespace collapse first
    * ([[graft.functions.NormalizeText]], codegen'd), then the q24
    * Karp-Rabin fingerprint over the normalized bytes. Two docs that
    * differ only in case, composition form, or whitespace runs now
    * share a key. Per-row, zero-shuffle; the oracle replays the whole
    * chain (NFC → lower → regex collapse → trim → HUGEINT fold).
    */
  def normalizeQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.NormalizeText(col("text")).as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        Fingerprint64(col("norm_text")).as("fp"))

  val normalizeSql: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(nfc_normalize(text)), '[ \t\n\r\f]+', ' ', 'g'))
      |      AS norm_text
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, norm_text, list_reduce(list_prepend(0::HUGEINT,
      |    list_transform(range(octet_length(encode(norm_text))),
      |      i -> CAST(CAST(('0x' || substr(hex(encode(norm_text)), 2*i::INT + 1, 2)) AS INT) AS HUGEINT))),
      |    (a, b) -> (a * 257 + b) % 18446744073709551616::HUGEINT) AS fp
      |  FROM n)
      |SELECT doc_id, norm_text,
      |  CAST(CASE WHEN fp > 9223372036854775807::HUGEINT
      |            THEN fp - 18446744073709551616::HUGEINT ELSE fp END AS BIGINT) AS fp
      |FROM f""".stripMargin

  // ——— source-level boilerplate stripping ———

  /** q164 — boilerplate-vocabulary removal: tokens present in ≥90% of
    * a SOURCE's documents are that source's template furniture (site
    * chrome, navigation, legal footers — the tokens that carry no
    * document-specific signal and poison both dedup shingles and LM
    * statistics), and get stripped from every document of that source
    * with original token order preserved. The per-source document
    * frequency is the same df machinery q16's shingle cap uses, one
    * level up.
    *
    * Shapes: df pass = two mergeable groupBys; strip = one
    * broadcast-able anti join on (source, token); reassembly = one
    * groupBy with `sort_array(collect_list(struct(pos, tok)))` — the
    * deterministic order-preserving rebuild (DuckDB replays it as
    * `string_agg(... ORDER BY pos)`). The 90% threshold compares in
    * integers (10·docs_with ≥ 9·docs) so no float boundary can
    * disagree across engines. Documents whose every token is
    * boilerplate drop out (identically on both sides).
    */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
    val docsPerSrc = docs.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val docFreq = toks.select(col("source"), col("tok"), col("doc_id")).distinct()
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("docs_with"))
    val boiler = docFreq.join(docsPerSrc, Seq("source"))
      .filter(col("docs_with") * 10 >= col("n_docs") * 9)
      .select(col("source"), col("tok"))
    val kept = toks.join(boiler, Seq("source", "tok"), "left_anti")
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr("transform(sort_array(collect_list(struct(pos, tok))), s -> s.tok)"),
          " ").as("cleaned"))
  }

  def stripBoilerplateQuery(spark: SparkSession, dir: String): DataFrame =
    stripBoilerplate(Tables.documents(spark, dir), "doc_id", "text", "source")

  val stripBoilerplateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, CAST(pos AS INTEGER) AS pos, tok FROM (
      |    SELECT doc_id, source,
      |      generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
      |      unnest(string_split(text, ' ')) AS tok
      |    FROM documents) t
      |  WHERE tok <> ''),
      |dps AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      |df AS (
      |  SELECT source, tok, count(*) AS docs_with FROM (
      |    SELECT DISTINCT source, tok, doc_id FROM toks) t GROUP BY 1, 2),
      |boiler AS (
      |  SELECT d.source, d.tok FROM df d JOIN dps USING (source)
      |  WHERE d.docs_with * 10 >= dps.n_docs * 9),
      |kept AS (
      |  SELECT t.doc_id, t.pos, t.tok FROM toks t
      |  ANTI JOIN boiler b ON t.source = b.source AND t.tok = b.tok)
      |SELECT doc_id, count(*) AS n_kept,
      |  string_agg(tok, ' ' ORDER BY pos) AS cleaned
      |FROM kept GROUP BY 1""".stripMargin

  // ——— unigram-LM cross-entropy (the CCNet-style perplexity gate) ———

  /** q158 — score every document by its average token surprisal under
    * a unigram LM trained on the corpus itself, and gate on it — the
    * shape of CCNet's perplexity filter (there a KenLM 5-gram; the
    * language-model weights here are the corpus's own unigram
    * distribution, which is the self-contained deterministic analog:
    * no external model artifact, same plumbing). Low average surprisal
    * = text made of common, well-distributed tokens ("head" quality);
    * high = rare-token soup (boilerplate ids, noise, wrong-language).
    *
    * Scale shape: training IS one groupBy (token counts — partial-
    * aggregated, mergeable), scoring is an equi-join of the token
    * stream against the model table. At 100 TB both sides are the
    * patterns this repo already commits to: the model table is
    * vocabulary-sized (shuffle-free to broadcast if small, an
    * equi-join if not) and nothing touches the driver.
    *
    * Determinism: per-token surprisal ln(total/cnt) is fixed-pointed
    * to BIGINT micro-nats BEFORE the per-document weighted sum, so
    * document scores are exact integers (summation-order-free); the
    * average is an integer division. `keep` gates at 8.0 nats
    * (perplexity e^8 ≈ 2981 — loose for a unigram model; tune per
    * corpus in production).
    */
  def lmXentQuery(spark: SparkSession, dir: String): DataFrame =
    lmXent(Tables.documents(spark, dir), "doc_id", "text")

  def lmXent(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val model = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
    val total = broadcast(model.agg(sum(col("cnt")).as("total")))
    val surprisal = model.crossJoin(total)
      .select(col("tok"),
        round(log(col("total").cast("double") / col("cnt")) * 1e6, 0)
          .cast("long").as("s_micro"))
    tf.join(surprisal, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tok"),
        sum(col("tf") * col("s_micro")).as("xent_sum"))
      .select(col("doc_id"), col("n_tok"),
        expr("xent_sum div n_tok").as("avg_xent_micro"),
        (expr("xent_sum div n_tok") < 8000000L).as("keep"))
  }

  val lmXentSql: String =
    """WITH toks AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
      |  WHERE tok <> ''),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      |model AS (SELECT tok, sum(tf) AS cnt FROM tf GROUP BY 1),
      |total AS (SELECT sum(cnt) AS total FROM model),
      |surprisal AS (
      |  SELECT tok,
      |    CAST(round(ln(CAST(t.total AS DOUBLE) / m.cnt) * 1e6) AS BIGINT) AS s_micro
      |  FROM model m CROSS JOIN total t),
      |scored AS (
      |  SELECT f.doc_id, sum(f.tf) AS n_tok, sum(f.tf * s.s_micro) AS xent_sum
      |  FROM tf f JOIN surprisal s USING (tok) GROUP BY 1)
      |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
      |  CAST(xent_sum // n_tok AS BIGINT) AS avg_xent_micro,
      |  (xent_sum // n_tok) < 8000000 AS keep
      |FROM scored""".stripMargin

  /** q174 — per-source quantile normalization of a raw quality
    * signal. Raw scores aren't comparable across sources (a "long"
    * web page and a "long" book differ by 100×), so mixture policies
    * ("keep the top 30% of each source") want the WITHIN-SOURCE
    * percentile, not the raw value. One window per source partition:
    * `percent_rank` over (n_chars, doc_id) — the doc_id tiebreaker
    * makes ranks a pure function of the data — plus the integer rank
    * and per-source count it derives from. Scale: a window
    * partitioned by a low-cardinality key is one shuffle by that key;
    * skewed sources are exactly the salting/AQE case the engine
    * already handles, and no global ordering exists anywhere.
    */
  def quantileNormQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        rank().over(w).cast("long").as("rnk"),
        round(percent_rank().over(w), 6).as("pct"),
        count(lit(1)).over(Window.partitionBy(col("source"))).cast("long").as("n_in_source"))
      .withColumn("keep_top_30pct", col("pct") >= 0.7)
  }

  val quantileNormSql: String =
    """SELECT doc_id, source, n_chars,
      |  CAST(rank() OVER w AS BIGINT) AS rnk,
      |  round(percent_rank() OVER w, 6) AS pct,
      |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_in_source,
      |  round(percent_rank() OVER w, 6) >= 0.7 AS keep_top_30pct
      |FROM documents
      |WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)""".stripMargin

  /** q186 — the hashing trick (Weinberger et al. 2009): fixed-width
    * sparse text features with NO vocabulary — dim = hash(token) mod
    * V. The featurizer every petabyte-scale linear model / fast
    * classifier stage uses, because it needs zero driver state, zero
    * fitting pass, and zero vocabulary broadcast: one codegen'd scan
    * ([[graft.functions.Fingerprint64]] ∘ [[graft.functions.Mix64]] ∘
    * pmod), mergeable count aggregation, exact integer output. V=64
    * here; V=2²⁰ at scale changes nothing structurally.
    */
  def featureHashQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Fingerprint64, Mix64}
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"),
        pmod(Mix64(Fingerprint64(col("tok"))), lit(64L)).cast("int").as("dim"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Oracle: the q25/q157 HUGEINT hash replica feeding a mod-64
    * bucket count. pmod of the signed long ≡ unsigned mod for a
    * power-of-two V (low 6 bits).
    */
  val featureHashSql: String = {
    val fold = graft.operators.SimHash.byteFoldFpSql("w")
    val fmix = graft.operators.SimHash.fmixSql("h0")
    s"""WITH words AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE w <> ''),
       |fp AS (SELECT doc_id, $fold AS h0 FROM words),
       |mixed AS (SELECT doc_id, $fmix AS h FROM fp)
       |SELECT doc_id, CAST(h % 64 AS INTEGER) AS dim, count(*) AS cnt
       |FROM mixed GROUP BY 1, 2""".stripMargin
  }

  // ——— q220: BPE merge training ———

  /** q220 — byte-pair-encoding merge TRAINING, distributed: learn the
    * first 8 merges of a BPE vocabulary from the corpus (Sennrich et
    * al. 2016 — the algorithm behind every GPT/Llama tokenizer's vocab
    * build; q89 consumes a tokenizer, this one trains it). Each round:
    * count adjacent symbol pairs weighted by word frequency (one
    * mergeable aggregation over the DISTINCT-WORD table — corpus scale
    * enters only through the word-frequency build), adopt the most
    * frequent pair (count desc, then (left, right) — deterministic),
    * and re-segment every word by one greedy left-to-right fold.
    *
    * Representation: a word's segmentation is its symbols joined by
    * U+001F (absent from the corpus by construction); merging the
    * chosen (x, y) inside the fold is then just "append WITHOUT the
    * separator" when the accumulator ends with symbol x exactly —
    * `ends_with(acc, SEP || x)` can't false-match a longer symbol, and
    * the fold's greedy non-overlap IS BPE's ("aaa" + (a,a) → [aa, a]).
    * Pair counting uses naive adjacency (overlaps counted — the
    * standard implementation's behavior).
    *
    * Driver materialization: ONE argmax row + ONE token-count scalar
    * per round (8 rounds) — the Lloyd's-centroid class of sanctioned
    * bounded collects. Everything heavy is per-word and mergeable; at
    * 100 TB the word-frequency table is the only corpus-sized pass.
    */
  def bpeTrainQuery(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    bpeTrain(words, rounds = 8)
  }

  /** Train on a (w, freq) word-frequency table — the factored core the
    * gate and the hand-arithmetic spec share.
    */
  def bpeTrain(wordFreq: DataFrame, rounds: Int): DataFrame =
    bpeTrainCore(wordFreq, rounds)._1

  /** The final (freq, seg) table after `rounds` merges — the trained
    * tokenizer applied to every distinct word (q222 consumes this).
    */
  def bpeTrainState(wordFreq: DataFrame, rounds: Int): DataFrame =
    bpeTrainCore(wordFreq, rounds, trackTokens = false)._2

  private def bpeTrainCore(wordFreq: DataFrame, rounds: Int,
      trackTokens: Boolean = true): (DataFrame, DataFrame) = {
    val spark = wordFreq.sparkSession
    val Sep = "\u001f"
    val T = rounds
    val words = materialize(wordFreq
      .select(col("freq"),
        expr(s"array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), '$Sep')")
          .as("seg")), "bpe_words")
    var cur = words
    val learned = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long, Long)]
    var exhausted = false
    (1 to T).foreach { r => if (!exhausted) {
      val bestRows = cur
        // single-symbol words have no pairs — and Spark's sequence(1, 0)
        // DESCENDS rather than being empty, so they must not reach the
        // transform at all
        .filter(size(split(col("seg"), Sep)) > 1)
        .select(col("freq"), expr(
          s"""explode(transform(sequence(1, size(split(seg, '$Sep')) - 1),
             |  i -> struct(element_at(split(seg, '$Sep'), i) AS x,
             |              element_at(split(seg, '$Sep'), i + 1) AS y)))""".stripMargin)
          .as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y")).agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("x").asc, col("y").asc)
        .limit(1).collect()
      if (bestRows.isEmpty) {
        // every word is a single token — the vocabulary is exhausted
        // before the requested round count (tiny corpora); training
        // stops, the learned list is simply shorter
        exhausted = true
      } else {
      val best = bestRows(0)
      val (x, y, c) = (best.getString(0), best.getString(1), best.getLong(2))
      val xl = lit(x); val yl = lit(y)
      cur = materialize(cur.select(col("freq"),
        aggregate(split(col("seg"), Sep), lit(""), (acc, e) =>
          when(acc === lit(""), e)
            .when((acc === xl || acc.endsWith(concat(lit(Sep), xl))) && e === yl,
              concat(acc, e))
            .otherwise(concat(acc, lit(Sep), e))).as("seg")), "bpe_round")
      // the apply path (bpeTrainState) discards the merge list, so it
      // must not pay one extra full aggregation job per round for it
      val tokensAfter = if (trackTokens) cur
        .select(sum(col("freq") * size(split(col("seg"), Sep))).as("t"))
        .head().getLong(0) else -1L
      learned += ((r, x, y, c, tokensAfter))
      }
    }}
    import spark.implicits._
    (learned.toSeq.toDF("rank", "left", "right", "pair_count", "tokens_after"), cur)
  }

  /** Oracle: the full training replayed — 8 unrolled rounds, each a
    * pair count, a LIMIT-1 argmax, and the same separator-string
    * greedy fold via `list_reduce`.
    */
  /** One training round's CTEs (pair count, argmax, fold, token
    * count) — shared verbatim by the q220 and q222 oracles.
    */
  def bpeRoundCteSql(r: Int): String =
    s"""p$r AS (
       |  SELECT pr.x AS x, pr.y AS y, sum(freq) AS c FROM (
       |    SELECT freq, unnest(list_transform(range(len(string_split(seg, chr(31))) - 1),
       |      i -> {x: string_split(seg, chr(31))[i + 1],
       |            y: string_split(seg, chr(31))[i + 2]})) AS pr
       |    FROM w${r - 1}) t GROUP BY 1, 2),
       |b$r AS (SELECT x, y, c FROM p$r ORDER BY c DESC, x, y LIMIT 1),
       |w$r AS (
       |  -- LEFT JOIN ON TRUE: an empty argmax (vocabulary exhausted
       |  -- before round $r — the guard the Scala loop has) must leave
       |  -- the segmentation UNCHANGED, not annihilate the table
       |  SELECT freq, CASE WHEN b.x IS NULL THEN seg ELSE
       |    list_reduce(list_prepend('', string_split(seg, chr(31))),
       |      (acc, e) -> CASE
       |        WHEN acc = '' THEN e
       |        WHEN (acc = b.x OR ends_with(acc, chr(31) || b.x)) AND e = b.y
       |          THEN acc || e
       |        ELSE acc || chr(31) || e END) END AS seg
       |  FROM w${r - 1} LEFT JOIN b$r b ON TRUE),
       |t$r AS (SELECT sum(freq * len(string_split(seg, chr(31)))) AS tokens FROM w$r)""".stripMargin

  val bpeTrainSql: String = {
    val T = 8
    def round(r: Int): String = bpeRoundCteSql(r)
    val rows = (1 to T).map(r =>
      s"SELECT $r AS rank, b.x AS left, b.y AS right, CAST(b.c AS BIGINT) AS pair_count, " +
        s"CAST(t.tokens AS BIGINT) AS tokens_after FROM b$r b, t$r t")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainCtesSql,
       |${(1 to T).map(round).mkString(",\n")}
       |$rows""".stripMargin
  }

  /** The word-frequency + initial-segmentation CTEs shared by the
    * training (q220) and application (q222) oracles.
    */
  def bpeTrainCtesSql: String =
    """words AS (
      |  SELECT w, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |  WHERE w <> '' GROUP BY 1),
      |w0 AS (
      |  SELECT freq, array_to_string(list_transform(range(length(w)),
      |    i -> substr(w, i + 1, 1)), chr(31)) AS seg
      |  FROM words)""".stripMargin

  /** q222 — tokenizer APPLICATION: segment the corpus with the q220
    * vocabulary and report the compression it buys per source —
    * tokens-per-1000-words, the number a tokenizer change is judged
    * by ("this vocab makes legal text 12% cheaper"). Train and apply
    * share one run: after the 8 merge rounds the training table's
    * segmentation IS the applied tokenizer over every distinct word,
    * so application is a join of per-source word counts against
    * per-word segment lengths — never re-segmenting per occurrence
    * (the corpus pays once per DISTINCT word, the defining economy of
    * vocabulary-table tokenization at 100 TB).
    */
  def bpeApplyQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val occ = docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val wordFreq = occ.groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val segged = bpeSegmentations(wordFreq, rounds = 8)
    occ.groupBy(col("source"), col("w")).agg(count(lit(1)).as("n_occ"))
      .join(segged, "w")
      .groupBy(col("source"))
      .agg(sum(col("n_occ")).as("n_words"),
        sum(col("n_occ") * col("n_tokens")).as("n_tokens"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        expr("n_tokens * 1000 div n_words").as("tokens_per_1k_words"))
  }

  /** The per-word segmentations after `rounds` trained merges:
    * (w, n_tokens). Runs the same training loop as [[bpeTrain]] and
    * keeps the final table instead of the merge list.
    */
  def bpeSegmentations(wordFreq: DataFrame, rounds: Int): DataFrame = {
    val Sep = "\u001f"
    bpeTrainState(wordFreq, rounds)
      .select(regexp_replace(col("seg"), Sep, "").as("w"),
        size(split(col("seg"), Sep)).cast("long").as("n_tokens"))
  }

  val bpeApplySql: String = {
    // the training CTE chain's final table w8 carries each word's
    // final segmentation; the word string is recoverable as the
    // separator-stripped seg — no second tokenizer definition exists
    def round8(r: Int): String = bpeRoundCteSql(r)
    s"""WITH $bpeTrainCtesSql,
       |${(1 to 8).map(round8).mkString(",\n")},
       |segged AS (
       |  SELECT replace(seg, chr(31), '') AS w,
       |    CAST(len(string_split(seg, chr(31))) AS BIGINT) AS n_tokens
       |  FROM w8),
       |occ AS (
       |  SELECT source, w, count(*) AS n_occ FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE w <> '' GROUP BY 1, 2)
       |SELECT o.source, CAST(sum(o.n_occ) AS BIGINT) AS n_words,
       |  CAST(sum(o.n_occ * s.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(o.n_occ * s.n_tokens) * 1000 // sum(o.n_occ) AS BIGINT)
       |    AS tokens_per_1k_words
       |FROM occ o JOIN segged s USING (w)
       |GROUP BY 1""".stripMargin
  }

  // ——— q213: per-source TF-IDF keyword extraction ———

  /** q213 — what characterizes each SOURCE: top-5 terms by TF-IDF,
    * where IDF weighs document frequency over the whole corpus. The
    * domain-profiling primitive behind corpus cards and mixture
    * debugging ("why is this source dominating the blend?").
    *
    * All posting-list discipline: df = one distinct (doc, token)
    * aggregation, tf = one (source, token) aggregation, score join is
    * an equi-join on the token, top-5 is a window partitioned by the
    * low-cardinality source. Nothing touches the driver; every shuffle
    * key is sparse. Determinism: ln(N/df) fixed-points to micro-nats
    * (the q158 pattern — both engines' libm agree far below the 1e-6
    * rounding grain), tf·idf then stays in exact BIGINT arithmetic,
    * ties break on the token string.
    */
  def tfidfKeywordsQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs
      .select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val df = toks.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val idf = df.crossJoin(nDocs)
      .select(col("tok"), col("df"),
        round(log(col("n_docs").cast("double") / col("df")) * 1e6, 0)
          .cast("long").as("idf_micro"))
    val tf = toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("tf"))
    tf.join(idf, Seq("tok"))
      .select(col("source"), col("tok"), col("tf"), col("df"),
        (col("tf") * col("idf_micro")).as("score_micro"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("score_micro").desc, col("tok").asc)))
      .filter(col("rn") <= 5)
  }

  val tfidfKeywordsSql: String =
    """WITH toks AS (
      |  SELECT source, doc_id, tok FROM (
      |    SELECT source, doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents) t
      |  WHERE tok <> ''),
      |df AS (
      |  SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks) d
      |  GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |idf AS (
      |  SELECT tok, df,
      |    CAST(round(ln(CAST(n.n_docs AS DOUBLE) / df) * 1e6) AS BIGINT) AS idf_micro
      |  FROM df CROSS JOIN n),
      |tf AS (SELECT source, tok, count(*) AS tf FROM toks GROUP BY 1, 2)
      |SELECT source, tok, tf, df, score_micro, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT tf.source, tf.tok, tf.tf, idf.df,
      |    tf.tf * idf.idf_micro AS score_micro,
      |    row_number() OVER (PARTITION BY tf.source
      |      ORDER BY tf.tf * idf.idf_micro DESC, tf.tok) AS rn
      |  FROM tf JOIN idf USING (tok)) z
      |WHERE rn <= 5""".stripMargin
}
