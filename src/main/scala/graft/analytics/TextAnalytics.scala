package graft.analytics

import graft.Tables
import graft.functions.TextFeatures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the language-ID /
  * quality-scoring / token-counting / fingerprinting layer a large-scale
  * training-data pipeline runs before dedup (north-star extensions beyond
  * the reference surface, SURVEY.md §7.5).
  *
  * Scale notes (100 TB): every query here is a narrow per-row projection
  * followed by at most one hash aggregate — no self-joins, no windows over
  * the full corpus. Stats and fingerprints stream through whole-stage
  * codegen; `token_topk` and `lang_id` shuffle only (token|doc_id, lang)
  * pairs after map-side partial aggregation.
  */
object TextAnalytics {

  /** Stopword set used for the stop-ratio feature (the two function words
    * in the synthetic vocabulary).
    */
  private val Stopwords = Seq("the", "a")

  /** Marker-token vote lists for the n-gram-free language-ID heuristic:
    * lang → tokens that vote for it. (The corpus is a synthetic word-soup,
    * so markers are drawn from its actual vocabulary; the operator shape —
    * explode → marker join → vote count → argmax — is the real thing.)
    */
  private val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a",
    "de" -> "row", "de" -> "scan",
    "es" -> "data", "es" -> "table",
    "fr" -> "join", "fr" -> "merge",
    "zh" -> "vector", "zh" -> "hash")

  // ---- text_stats: token counting + quality scoring --------------------
  // Doubles are produced with the same operation order as the oracle SQL
  // (int/int division is double in both engines; round(x,4) last).
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = Stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        length(col("text")).as("n_chars"),
        size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).as("n_subtokens"),
        size(expr(s"filter(toks, t -> array_contains($stopArr, t))")).as("n_stop"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"), col("n_chars"),
        col("n_subtokens"),
        round(col("n_stop") / col("n_tokens"), 4).as("stop_ratio"),
        round(
          least(col("n_tokens") / lit(100.0), lit(1.0)) * 0.4
            + (col("n_distinct") / col("n_tokens")) * 0.4
            + (lit(1.0) - col("n_stop") / col("n_tokens")) * 0.2,
          4).as("quality_score"))
  }

  val textStatsSql: String = {
    val stopList = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       |f AS (
       |  SELECT doc_id,
       |         len(toks) AS n_tokens,
       |         len(list_distinct(toks)) AS n_distinct,
       |         length(text) AS n_chars,
       |         len(regexp_extract_all(text, '[a-z]{1,4}')) AS n_subtokens,
       |         len(list_filter(toks, t -> list_contains($stopList, t))) AS n_stop
       |  FROM t)
       |SELECT doc_id, n_tokens, n_distinct, n_chars, n_subtokens,
       |       round(n_stop / n_tokens, 4) AS stop_ratio,
       |       round(least(n_tokens / 100.0, 1.0) * 0.4
       |             + (n_distinct / n_tokens) * 0.4
       |             + (1.0 - n_stop / n_tokens) * 0.2, 4) AS quality_score
       |FROM f""".stripMargin
  }

  // ---- pii_scrub: PII detection + redaction (email / phone / IPv4) -----
  // Regex subset chosen to behave identically under Java regex (Spark)
  // and RE2 (DuckDB): character classes, bounded repetition, \b, \d.
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b\\d{3}-\\d{2,4}-\\d{4}\\b"
  private val IpRe    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scan + redaction — the C4/CCNet-style scrub pass every
    * training-data pipeline runs before release: count email / phone /
    * IPv4 matches per document, then excise them (`<EMAIL>`/`<PHONE>`/
    * `<IP>`, applied in that fixed order) and report the cleaned length.
    *
    * The synthetic corpus is a digit-free word soup, so PII spans are
    * PLANTED deterministically from `doc_id` — identically in both
    * engines, the same synthetic-gap technique as [[LangMarkers]]: four
    * of five residue classes get an email / phone / IPv4 / email+IP
    * combo appended, the fifth stays untouched (the all-zero negative
    * class). The operator under test — regex extraction, global
    * redaction, the count/length contract — is the real thing.
    *
    * Scale (100 TB): pure per-row projection, zero shuffles; the three
    * scans + three replacements stream through codegen like any other
    * narrow string op. Redaction is char-bounded per row, so the pass
    * is embarrassingly parallel at any corpus size.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubOn(Tables.documents(spark, dir))

  private[graft] def piiScrubOn(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val s = (c: org.apache.spark.sql.Column) => c.cast("string")
    val planted = when(d % 5 === 0, concat(
        lit(" contact user"), s(d), lit("@mail"), s(d % 7), lit(".example.com now")))
      .when(d % 5 === 1, concat(
        lit(" call 555-"), lpad(s(d % 100), 2, "0"), lit("-"),
        lpad(s(d % 10000), 4, "0"), lit(" today")))
      .when(d % 5 === 2, concat(
        lit(" host 10."), s(d % 256), lit("."), s(d % 251), lit("."),
        s(d % 254 + 1), lit(" logged")))
      .when(d % 5 === 3, concat(
        lit(" mail admin"), s(d), lit("@corp.example.org from 192.168."),
        s(d % 256), lit("."), s(d % 100 + 1)))
      .otherwise(lit(""))
    docs
      .select(col("doc_id"), concat(col("text"), planted).as("aug"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("aug"), lit(PhoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("aug"), lit(IpRe), lit(0))).as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("aug"), lit(EmailRe), lit("<EMAIL>")),
            lit(PhoneRe), lit("<PHONE>")),
          lit(IpRe), lit("<IP>")).as("clean_text"))
      .withColumn("clean_len", length(col("clean_text")))
  }

  val piiScrubSql: String =
    s"""WITH aug AS (
       |  SELECT doc_id, text ||
       |    CASE doc_id % 5
       |      WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
       |                  || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com now'
       |      WHEN 1 THEN ' call 555-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
       |                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
       |      WHEN 2 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
       |                  || '.' || CAST(doc_id % 251 AS VARCHAR)
       |                  || '.' || CAST(doc_id % 254 + 1 AS VARCHAR) || ' logged'
       |      WHEN 3 THEN ' mail admin' || CAST(doc_id AS VARCHAR)
       |                  || '@corp.example.org from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
       |                  || '.' || CAST(doc_id % 100 + 1 AS VARCHAR)
       |      ELSE '' END AS aug
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(aug, '$EmailRe')) AS INT) AS n_emails,
       |       CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS INT) AS n_phones,
       |       CAST(len(regexp_extract_all(aug, '$IpRe')) AS INT) AS n_ips,
       |       regexp_replace(
       |         regexp_replace(
       |           regexp_replace(aug, '$EmailRe', '<EMAIL>', 'g'),
       |           '$PhoneRe', '<PHONE>', 'g'),
       |         '$IpRe', '<IP>', 'g') AS clean_text,
       |       CAST(length(regexp_replace(
       |         regexp_replace(
       |           regexp_replace(aug, '$EmailRe', '<EMAIL>', 'g'),
       |           '$PhoneRe', '<PHONE>', 'g'),
       |         '$IpRe', '<IP>', 'g')) AS INT) AS clean_len
       |FROM aug""".stripMargin

  // ---- lang_id: marker-vote language ID → confusion matrix -------------
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs    = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val markers = LangMarkers.toDF("cand_lang", "marker")
    val votes = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(broadcast(markers), col("token") === col("marker"))
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("votes").desc, col("cand_lang").asc)
    val pred = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand_lang").as("pred"))
    docs.join(pred, Seq("doc_id"), "left")
      .select(col("lang"), coalesce(col("pred"), lit("unknown")).as("pred_lang"))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred_lang")
  }

  val langIdSql: String = {
    val vals = LangMarkers.map { case (l, m) => s"('$l', '$m')" }.mkString(", ")
    s"""WITH m(cand_lang, marker) AS (VALUES $vals),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |votes AS (
       |  SELECT doc_id, cand_lang, count(*) AS v
       |  FROM tok JOIN m ON token = marker GROUP BY doc_id, cand_lang),
       |pred AS (
       |  SELECT doc_id, cand_lang AS pred FROM (
       |    SELECT doc_id, cand_lang,
       |           row_number() OVER (PARTITION BY doc_id ORDER BY v DESC, cand_lang ASC) AS rn
       |    FROM votes) WHERE rn = 1)
       |SELECT d.lang, coalesce(p.pred, 'unknown') AS pred_lang, count(*) AS n_docs
       |FROM documents d LEFT JOIN pred p USING (doc_id)
       |GROUP BY d.lang, pred_lang
       |ORDER BY d.lang, pred_lang""".stripMargin
  }

  // ---- token_topk: corpus-wide word count, top 20 ----------------------
  def tokenTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)

  val tokenTopkSql: String =
    """SELECT token, count(*) AS n FROM (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin

  // ---- heavy_hitters: exact φ-heavy hitters, sketch + recount ----------
  /** All tokens whose count strictly exceeds N/[[HhK]], with EXACT counts
    * — the two-pass heavy-hitters algorithm: pass 1 runs the mergeable
    * Misra-Gries summary ([[graft.functions.MisraGries]]) whose state is
    * ≤ [[HhK]] counters per partial REGARDLESS of key-domain size, and
    * whose guarantee is candidate completeness (every true heavy hitter
    * is in the sketch); pass 2 re-counts only the ≤ [[HhK]] candidates
    * and applies the exact threshold. Output is provably the exact
    * answer even though sketch counts undercount.
    *
    * vs [[tokenTopk]]: top-k by count is a full group-by — fine when the
    * domain is a vocabulary, the wrong plan when the domain is grams or
    * URLs at 100 TB, where the group-by's shuffle IS the cost. Here the
    * shuffle carries k-counter sketches (map-side partials) and then one
    * k-item recount. The driver-side `.head` on the sketch row is a
    * k-bounded control-plane read (same class as the IncrementalBars
    * watermark reads), not a data-plane collect.
    *
    * Determinism: integers only; the threshold compare is `cnt·k > N`
    * (integer, no division).
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersOn(Tables.documents(spark, dir))

  private val HhK = 200

  def heavyHittersOn(docs: DataFrame): DataFrame = {
    import graft.functions.MisraGries
    // Materialized once (lazily): the token stream feeds the sketch pass
    // and the recount pass (house pattern, see Dedup.hashedSets).
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
      .localCheckpoint(eager = false)
    val cands = toks.agg(MisraGries.mg(HhK)(col("token")).as("c"))
      .head.getSeq[String](0)
    val total = toks.agg(count(lit(1)).as("n"))
    toks.filter(col("token").isin(cands: _*))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * HhK > col("n"))
      .select(col("token"), col("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
  }

  val heavyHittersSql: String =
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |tot AS (SELECT count(*) AS n FROM tok)
       |SELECT token, count(*) AS cnt
       |FROM tok CROSS JOIN tot
       |GROUP BY token, tot.n HAVING count(*) * $HhK > tot.n
       |ORDER BY cnt DESC, token ASC""".stripMargin

  // ---- cms_sketch: Count-Min point-query sketch with exact error audit --
  /** Count-Min sketch (Cormode/Muthukrishnan '05) over the token stream
    * — the POINT-QUERY complement of the Misra-Gries top-k family
    * (`heavy_hitters` / `trending_merge`): d=[[CmsD]] hash rows ×
    * w=[[CmsW]] counters answer "how often did THIS token occur" with
    * estimate ≥ truth and overestimate ≤ ε·N (ε = e/w) with probability
    * 1 − e^−d, from CONSTANT d·w state no matter the vocabulary or
    * corpus size. The entry audits the sketch against truth: for the
    * true top-[[CmsQ]] tokens it reports exact count, CMS estimate and
    * the realized overestimate — the error surface a production user
    * sizes (d, w) against.
    *
    * Hashes are the cross-engine [[graft.functions.TextFeatures.hash60]]
    * seeded per row (`j:token`), so the oracle rebuilds the identical
    * counter matrix; everything is integer arithmetic.
    *
    * Scale (100 TB): the counter matrix is d·w bounded cells — the
    * grouped count is partial-aggregable, so ≤ d·w partial rows cross
    * the shuffle per map task regardless of stream length, and the
    * matrix broadcasts for estimates. The d-way explode is the honest
    * d× scan-width price of the textbook spelling; the sketch is
    * trivially MERGEABLE (counters add), which is what makes it the
    * standard distributed/streaming point-count structure
    * (`CmsSketchSpec` pins the merge law).
    */
  private[graft] val CmsD = 4
  private[graft] val CmsW = 512
  private val CmsQ = 20

  def cmsSketch(spark: SparkSession, dir: String): DataFrame =
    cmsSketchOn(Tables.documents(spark, dir))

  private def cmsHash: org.apache.spark.sql.Column =
    pmod(hash60(concat(col("j").cast("string"), lit(":"), col("token"))), lit(CmsW))

  private[graft] def cmsSketchOn(docs: DataFrame): DataFrame = {
    // Materialized once (lazily): the token stream feeds the counter
    // build and the exact recount (house pattern, see heavyHitters).
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
      .localCheckpoint(eager = false)
    val cells = cmsCells(toks)
    val topTok = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token").asc).limit(CmsQ)
    topTok
      .withColumn("j", explode(expr(s"sequence(0, ${CmsD - 1})")))
      .withColumn("h", cmsHash)
      .join(broadcast(cells), Seq("j", "h"))
      .groupBy(col("token"), col("exact_cnt"))
      .agg(min(col("c")).as("cms_est"))
      .select(col("token"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overestimate"))
      .orderBy(col("exact_cnt").desc, col("token").asc)
  }

  /** The d×w counter matrix off a (token) stream — ≤ d·w rows. */
  private[graft] def cmsCells(toks: DataFrame): DataFrame =
    toks.withColumn("j", explode(expr(s"sequence(0, ${CmsD - 1})")))
      .withColumn("h", cmsHash)
      .groupBy("j", "h").agg(count(lit(1)).as("c"))

  val cmsSketchSql: String =
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |cells AS MATERIALIZED (
       |  SELECT j, ${hash60Sql("j::VARCHAR || ':' || token")} % $CmsW AS h,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM tok, generate_series(0, ${CmsD - 1}) AS g(j) GROUP BY 1, 2),
       |topt AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt FROM tok
       |  GROUP BY 1 ORDER BY exact_cnt DESC, token LIMIT $CmsQ)
       |SELECT t.token, t.exact_cnt, min(c.c) AS cms_est,
       |       min(c.c) - t.exact_cnt AS overestimate
       |FROM topt t, generate_series(0, ${CmsD - 1}) AS g(j)
       |JOIN cells c
       |  ON c.j = g.j
       | AND c.h = ${hash60Sql("g.j::VARCHAR || ':' || t.token")} % $CmsW
       |GROUP BY 1, 2
       |ORDER BY exact_cnt DESC, token""".stripMargin

  // ---- kmv_distinct: k-minimum-values cardinality sketch ---------------
  /** KMV distinct-count sketch (Bar-Yossef et al. RANDOM '02) over each
    * source's 3-gram shingle stream — the CARDINALITY member of the
    * sketch family ([[cmsSketchOn]] answers "how often", Misra-Gries
    * answers "which are the heaviest", KMV answers "how many distinct"):
    * per source, the [[KmvK]] smallest distinct [[hash60]] values; the
    * k-th smallest m estimates the distinct shingle count as
    * (k−1)·2⁶⁰/m with relative error ≈ 1/√(k−2) (~6% at k=256). The
    * entry audits the estimate against the exact distinct count — the
    * error surface a user sizes k against. Distinct shingles per source
    * is the content-diversity signal a curation pipeline tracks per
    * domain (a crawler feeding boilerplate shows a flat curve; fresh
    * content grows it).
    *
    * Scale (100 TB): the native `kmin_distinct` aggregate
    * ([[graft.functions.KMinDistinct]]) carries ≤ k longs of state per
    * group per map task and partial-aggregates (merge = set-union
    * re-trimmed to k — the KMV mergeability law, `KmvSketchSpec`), so
    * the sketch shuffles k longs per task per group where the exact
    * audit's count(DISTINCT) must repartition the full (source, shingle)
    * universe — the audit is the oracle-checkable truth column here;
    * production reads the sketch alone. Estimator caveat: the sketch
    * counts distinct HASHES — a 60-bit collision (≈n²/2⁶¹) undercounts
    * by one; at the ~2⁶⁰-point scale this is far below the 1/√k noise
    * floor.
    */
  private[graft] val KmvK = 256

  /** 2⁶⁰ as an exact IEEE double (integers up to 2⁶⁰ with ≤53 significant
    * bits are representable; 2⁶⁰ has one).
    */
  private[graft] val KmvSpace = 1.152921504606846976e18

  def kmvDistinct(spark: SparkSession, dir: String): DataFrame =
    kmvDistinctOn(Tables.documents(spark, dir))

  /** (source, shingle) stream — the element universe both the batch
    * entry and the streaming tier ([[graft.streaming.StreamingKmv]])
    * sketch over; one definition so streamed ≡ batch is definitional.
    */
  private[graft] def kmvShingles(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("source"), tokens(col("text")).as("toks"))
      // sub-3-token guard (the docGrams pattern, see Dedup.docGrams)
      .select(col("source"), explode(expr(
        """IF(size(toks) < 3, array(),
          |  array_distinct(transform(sequence(1, size(toks) - 2),
          |    i -> concat(element_at(toks, i), ' ',
          |                element_at(toks, i + 1), ' ',
          |                element_at(toks, i + 2)))))""".stripMargin)).as("g"))

  private[graft] def kmvDistinctOn(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    val sh = kmvShingles(docs)
      .localCheckpoint(eager = false) // consumers: sketch + exact audit
    val sk = sh.select(col("source"), hash60(col("g")).as("h"))
      .groupBy("source").agg(expr(s"kmin_distinct(h, $KmvK)").as("mins"))
    val exact = sh.groupBy("source")
      .agg(countDistinct(col("g")).as("n_exact"))
    val kth = element_at(col("mins"), size(col("mins")))
    val est = when(size(col("mins")) < KmvK, size(col("mins")).cast("double"))
      .otherwise(lit((KmvK - 1).toDouble) * lit(KmvSpace) / kth.cast("double"))
    sk.join(exact, "source")
      .select(col("source"), col("n_exact"), kth.as("kth_min"),
        round(est, 4).as("kmv_est"),
        round(abs(est - col("n_exact").cast("double"))
          / col("n_exact").cast("double"), 6).as("rel_err"))
      .orderBy("source")
  }

  val kmvDistinctSql: String = {
    val estCase =
      s"""CASE WHEN s.n_kept < $KmvK THEN s.n_kept::DOUBLE
         |     ELSE ${KmvK - 1}.0::DOUBLE * 1152921504606846976.0::DOUBLE
         |          / s.kth_min::DOUBLE END""".stripMargin
    s"""WITH d AS (
       |  SELECT source, string_split(text, ' ') AS toks FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT source, unnest(${shinglesSql("toks")}) AS g
       |  FROM d WHERE len(toks) >= 3),
       |hd AS (
       |  SELECT DISTINCT source, ${hash60Sql("g")} AS h FROM sh),
       |r AS (
       |  SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM hd),
       |sk AS (
       |  SELECT source, max(h) AS kth_min, CAST(count(*) AS BIGINT) AS n_kept
       |  FROM r WHERE rn <= $KmvK GROUP BY 1),
       |ex AS (
       |  SELECT source, CAST(count(DISTINCT g) AS BIGINT) AS n_exact FROM sh
       |  GROUP BY 1)
       |SELECT s.source, e.n_exact, s.kth_min,
       |       round($estCase, 4) AS kmv_est,
       |       round(abs(($estCase) - e.n_exact::DOUBLE) / e.n_exact::DOUBLE,
       |             6) AS rel_err
       |FROM sk s JOIN ex e USING (source)
       |ORDER BY source""".stripMargin
  }

  // ---- kmv_overlap: KMV sketch set algebra across sources --------------
  /** Distinct-set OVERLAP between source pairs from their KMV sketches
    * alone — the set-algebra half of the KMV family (Beyer et al. SIGMOD
    * '07, "On synopses for distinct value estimation under multiset
    * operations"). The k smallest hashes of A ∪ B are a subset of
    * K(A) ∪ K(B), so the union sketch merges WITHOUT touching data:
    * sort-distinct the two min-arrays and keep the first k. Within that
    * union sketch, the fraction ρ of members present in BOTH component
    * sketches is an unbiased Jaccard estimate, and ρ·Û estimates
    * |A ∩ B|. When a pair is fully sketched (|union sketch| < k) every
    * estimate collapses to the exact value by construction. Cross-source
    * distinct overlap is the corpus-dedup planning signal: two crawl
    * sources with high shingle Jaccard are candidates for source-level
    * dedup before the doc-level passes run.
    *
    * The entry audits every estimate against the exact distinct
    * intersection/union — the oracle-checkable truth columns. Scale
    * (100 TB): production reads the SKETCH columns only — per-source
    * state is ≤ k longs regardless of corpus size, and the pair algebra
    * is O(S²·k) on the S-row sketch frame, corpus-independent; the exact
    * audit's (source, shingle) self-join is the one corpus-linear term
    * and exists only to expose the error surface the sketch is sized
    * against (rel error ≈ 1/√(k−2) on the union, amplified by 1/ρ on
    * the intersection — the documented reason intersection estimates of
    * nearly-disjoint sources need a larger k).
    */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame =
    kmvOverlapOn(Tables.documents(spark, dir))

  /** Pair algebra over the S-row sketch frame: union sketch, ρ, Û. */
  private[graft] def kmvPairEst(sk: DataFrame): DataFrame =
    sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("s1"), col("b.source").as("s2"),
        col("a.mins").as("amins"), col("b.mins").as("bmins"))
      .withColumn("u", expr(s"slice(array_sort(array_union(amins, bmins)), 1, $KmvK)"))
      .withColumn("ku", size(col("u")))
      .withColumn("n_both", size(expr(
        "filter(u, h -> array_contains(amins, h) AND array_contains(bmins, h))")))
      .withColumn("est_u",
        when(col("ku") < KmvK, col("ku").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(KmvSpace)
            / element_at(col("u"), col("ku")).cast("double")))
      .withColumn("rho", col("n_both").cast("double") / col("ku").cast("double"))

  /** Sketch-only serving shape (no exact audit): what production reads —
    * one pass to the per-source sketches, then corpus-independent pair
    * algebra. The ScaleProbe rows price the audit against this.
    */
  private[graft] def kmvOverlapSketchOn(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    val sk = kmvShingles(docs).select(col("source"), hash60(col("g")).as("h"))
      .groupBy("source").agg(expr(s"kmin_distinct(h, $KmvK)").as("mins"))
    kmvPairEst(sk)
      .select(col("s1"), col("s2"),
        round(col("rho") * col("est_u"), 4).as("est_inter"),
        round(col("est_u"), 4).as("est_union"),
        round(col("rho"), 6).as("jacc_est"))
      .orderBy("s1", "s2")
  }

  private[graft] def kmvOverlapOn(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    val sh = kmvShingles(docs)
      .localCheckpoint(eager = false) // consumers: sketch + exact audit
    val sk = sh.select(col("source"), hash60(col("g")).as("h"))
      .groupBy("source").agg(expr(s"kmin_distinct(h, $KmvK)").as("mins"))
    val eg = sh.distinct()
      .localCheckpoint(eager = false) // consumers: per-source counts + pair intersection
    val exN = eg.groupBy("source").agg(count(lit(1)).as("n_ex"))
    val inter = eg.as("x")
      .join(eg.as("y"), col("x.g") === col("y.g") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("s1"), col("y.source").as("s2"))
      .agg(count(lit(1)).as("n_inter_exact"))
    kmvPairEst(sk)
      .join(exN.withColumnRenamed("source", "s1").withColumnRenamed("n_ex", "n_ex1"), "s1")
      .join(exN.withColumnRenamed("source", "s2").withColumnRenamed("n_ex", "n_ex2"), "s2")
      .join(inter, Seq("s1", "s2"), "left")
      .withColumn("n_inter_exact", coalesce(col("n_inter_exact"), lit(0L)))
      .withColumn("n_union_exact", col("n_ex1") + col("n_ex2") - col("n_inter_exact"))
      .select(col("s1"), col("s2"), col("n_inter_exact"), col("n_union_exact"),
        round(col("rho") * col("est_u"), 4).as("est_inter"),
        round(col("est_u"), 4).as("est_union"),
        round(col("rho"), 6).as("jacc_est"),
        round(col("n_inter_exact").cast("double")
          / col("n_union_exact").cast("double"), 6).as("jacc_exact"),
        round(abs(col("est_u") - col("n_union_exact").cast("double"))
          / col("n_union_exact").cast("double"), 6).as("rel_err_union"))
      .orderBy("s1", "s2")
  }

  val kmvOverlapSql: String = {
    val estU =
      s"""CASE WHEN ku < $KmvK THEN ku::DOUBLE
         |     ELSE ${KmvK - 1}.0::DOUBLE * 1152921504606846976.0::DOUBLE
         |          / kth::DOUBLE END""".stripMargin
    s"""WITH d AS (
       |  SELECT source, string_split(text, ' ') AS toks FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT source, unnest(${shinglesSql("toks")}) AS g
       |  FROM d WHERE len(toks) >= 3),
       |hd AS (
       |  SELECT DISTINCT source, ${hash60Sql("g")} AS h FROM sh),
       |r AS (
       |  SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM hd),
       |sk AS (
       |  SELECT source, list(h ORDER BY h) AS mins
       |  FROM r WHERE rn <= $KmvK GROUP BY 1),
       |eg AS MATERIALIZED (
       |  SELECT DISTINCT source, g FROM sh),
       |exn AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_ex FROM eg GROUP BY 1),
       |iv AS (
       |  SELECT x.source AS s1, y.source AS s2,
       |         CAST(count(*) AS BIGINT) AS n_inter_exact
       |  FROM eg x JOIN eg y ON x.g = y.g AND x.source < y.source
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT a.source AS s1, b.source AS s2,
       |         a.mins AS amins, b.mins AS bmins,
       |         (list_sort(list_distinct(a.mins || b.mins)))[1:$KmvK] AS u
       |  FROM sk a JOIN sk b ON a.source < b.source),
       |m AS (
       |  SELECT s1, s2, len(u) AS ku, u[len(u)] AS kth,
       |         len(list_filter(u,
       |           h -> list_contains(amins, h) AND list_contains(bmins, h)))
       |           AS n_both
       |  FROM p),
       |e AS (
       |  SELECT s1, s2, $estU AS est_u, n_both::DOUBLE / ku::DOUBLE AS rho
       |  FROM m)
       |SELECT e.s1, e.s2,
       |       COALESCE(i.n_inter_exact, 0) AS n_inter_exact,
       |       x1.n_ex + x2.n_ex - COALESCE(i.n_inter_exact, 0) AS n_union_exact,
       |       round(e.rho * e.est_u, 4) AS est_inter,
       |       round(e.est_u, 4) AS est_union,
       |       round(e.rho, 6) AS jacc_est,
       |       round(COALESCE(i.n_inter_exact, 0)::DOUBLE
       |             / (x1.n_ex + x2.n_ex - COALESCE(i.n_inter_exact, 0))::DOUBLE,
       |             6) AS jacc_exact,
       |       round(abs(e.est_u
       |                 - (x1.n_ex + x2.n_ex
       |                    - COALESCE(i.n_inter_exact, 0))::DOUBLE)
       |             / (x1.n_ex + x2.n_ex - COALESCE(i.n_inter_exact, 0))::DOUBLE,
       |             6) AS rel_err_union
       |FROM e
       |JOIN exn x1 ON x1.source = e.s1
       |JOIN exn x2 ON x2.source = e.s2
       |LEFT JOIN iv i ON i.s1 = e.s1 AND i.s2 = e.s2
       |ORDER BY e.s1, e.s2""".stripMargin
  }

  // ---- doc_fingerprint: content + bag-of-words fingerprints ------------
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        md5(col("text")).as("fp"),
        md5(concat_ws(" ", array_sort(array_distinct(col("toks"))))).as("bag_fp"),
        hash60(col("text")).as("content_h60"))

  val docFingerprintSql: String =
    s"""SELECT doc_id,
       |       md5(text) AS fp,
       |       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp,
       |       ${hash60Sql("text")} AS content_h60
       |FROM documents""".stripMargin

  /** The near-dup removal set (distinct higher doc_id of every verified
    * pair) read from the persisted verified-edge store
    * ([[graft.dedup.Dedup.storedPairs]]) — the r18 demotion for the three
    * governance consumers (`corpus_curation`, `curation_audit`,
    * `source_profile`) that each re-ran the full in-plan
    * shingle → band → candidate-join → verify chain per read just to
    * derive this set. The store IS `dedupMinhashOn`'s output written
    * once, so the set is bit-identical and the oracles are unchanged
    * (`DedupStoreConsumersSpec` pins each entry against its
    * in-plan-pairs spelling frame-for-frame); `dedup_minhash` itself
    * stays the spec-pinned in-plan reference derivation.
    */
  private def removedSet(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup
      .storedPairs(spark, graft.sources.StoreCatalog.key(spark, dir),
        Tables.documents(spark, dir))
      .select(col("doc_id_2").as("doc_id")).distinct()

  /** The benchmark-contaminated doc-id set read from a persisted store —
    * the r19 demotion completing [[sourceProfile]]'s pair: its removal
    * half already reads [[removedSet]]'s edge store, but its `contam`
    * half still re-ran the in-plan [[decontam]] gram explode +
    * benchmark join per read just to derive this id set. The store IS
    * `decontam`'s flagged ids written once per corpus key, so
    * the set is bit-identical and the oracle is unchanged
    * (`DedupStoreConsumersSpec` pins the store-fed entry against the
    * in-plan-contam spelling frame-for-frame); `decontam` itself stays
    * the spec-pinned in-plan reference derivation.
    */
  private[graft] def storedContamIds(spark: SparkSession,
      dir: String): DataFrame =
    graft.sources.StoreCatalog.parquet(spark, "graft_contam_ids",
      graft.sources.StoreCatalog.key(spark, dir))(
      decontam(spark, dir).select(col("doc_id")))

  // ---- corpus_curation: the integrated training-data pipeline ----------
  /** Quality filter → near-dup removal → deterministic sample, reported as
    * per-stage corpus stats — the composed curation flow a training-data
    * pipeline runs, end-to-end in one plan:
    *  1. quality: keep docs with ≥ 20 tokens and stop-ratio ≤ 0.2;
    *  2. dedup: among near-dup pairs from MinHash-LSH + exact verification
    *     (output provably equals the exact Jaccard pairs the oracle
    *     computes), greedily drop the higher doc_id;
    *  3. sample: md5-hash-based 30% subsample (deterministic, reproducible
    *     on any engine — no RNG state).
    */
  def corpusCuration(spark: SparkSession, dir: String): DataFrame =
    corpusCurationOn(spark, dir, removedSet(spark, dir))

  /** [[corpusCuration]] over an explicit removal set — the demotion-law
    * seam (`DedupStoreConsumersSpec` feeds the in-plan pair set here and
    * pins frame equality against the store-fed registry entry).
    */
  private[graft] def corpusCurationOn(spark: SparkSession, dir: String,
      removed: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("text"),
        size(col("toks")).as("n_tokens"),
        expr("size(filter(toks, t -> array_contains(array('the', 'a'), t)))").as("n_stop"))
    val quality = docs.filter(col("n_tokens") >= 20
      && col("n_stop") / col("n_tokens") <= 0.2)
    val deduped = quality.join(removed, Seq("doc_id"), "left_anti")
    val sampled = deduped.filter(pmod(hash60(col("text")), lit(10)) < 3)

    def stage(name: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("total_tokens"))
    stage("1_raw", docs)
      .unionByName(stage("2_quality", quality))
      .unionByName(stage("3_dedup", deduped))
      .unionByName(stage("4_sample", sampled))
      .orderBy("stage")
  }

  val corpusCurationSql: String = {
    import graft.dedup.Dedup
    s"""WITH d AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       |f AS (
       |  SELECT doc_id, text, len(toks) AS n_tokens,
       |         len(list_filter(toks, t -> list_contains(['the', 'a'], t))) AS n_stop
       |  FROM d),
       |quality AS (
       |  SELECT * FROM f WHERE n_tokens >= 20 AND n_stop / n_tokens <= 0.2),
       |pairs AS (${Dedup.jaccardOracleSql.replace("\n", "\n  ")}),
       |removed AS (SELECT DISTINCT doc_id_2 AS doc_id FROM pairs),
       |deduped AS (
       |  SELECT q.* FROM quality q LEFT JOIN removed r USING (doc_id)
       |  WHERE r.doc_id IS NULL),
       |sampled AS (
       |  SELECT * FROM deduped WHERE ${hash60Sql("text")} % 10 < 3)
       |SELECT '1_raw' AS stage, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM f
       |UNION ALL
       |SELECT '2_quality', count(*), CAST(sum(n_tokens) AS BIGINT) FROM quality
       |UNION ALL
       |SELECT '3_dedup', count(*), CAST(sum(n_tokens) AS BIGINT) FROM deduped
       |UNION ALL
       |SELECT '4_sample', count(*), CAST(sum(n_tokens) AS BIGINT) FROM sampled
       |ORDER BY stage""".stripMargin
  }

  // ---- curation_audit: row-level provenance of the curation pipeline ---

  /** Per-document audit trail of [[corpusCuration]]: which stage (if
    * any) eliminated each doc — `quality` (fails the token/stop-ratio
    * gate), `dup` (slated for removal by near-dup pairing), `sampled_out`
    * (outside the deterministic 30% sample), or `kept`. Stage order and
    * predicates are IDENTICAL to corpus_curation's, so grouping this
    * output by stage reconciles exactly with that query's per-stage
    * counts (spec-checked law) — the "why was my document dropped"
    * debugging view a pipeline needs once curation decisions have
    * consequences. Same plan skeleton as the funnel: per-row predicates
    * in codegen, the removal set broadcast, no extra shuffles.
    */
  def curationAudit(spark: SparkSession, dir: String): DataFrame =
    curationAuditOn(spark, dir, removedSet(spark, dir))

  /** [[curationAudit]] over an explicit removal set (the demotion-law
    * seam, as [[corpusCurationOn]]).
    */
  private[graft] def curationAuditOn(spark: SparkSession, dir: String,
      removedIds: DataFrame): DataFrame = {
    val stopArr = Stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"),
        size(col("toks")).as("n_tokens"),
        expr(s"size(filter(toks, t -> array_contains($stopArr, t)))").as("n_stop"))
    val removed = removedIds.withColumn("is_dup", lit(1))
    docs.join(broadcast(removed), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!(col("n_tokens") >= 20 && col("n_stop") / col("n_tokens") <= 0.2), "quality")
          .when(col("is_dup") === 1, "dup")
          .when(pmod(hash60(col("text")), lit(10)) >= 3, "sampled_out")
          .otherwise("kept")
          .as("stage"))
  }

  val curationAuditSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       |f AS (
       |  SELECT doc_id, text, len(toks) AS n_tokens,
       |         len(list_filter(toks, t -> list_contains(['the', 'a'], t))) AS n_stop
       |  FROM d),
       |pairs AS (
       |  ${graft.dedup.Dedup.jaccardOracleSql.replace("\n", "\n  ")}),
       |removed AS (SELECT DISTINCT doc_id_2 AS doc_id FROM pairs)
       |SELECT f.doc_id,
       |       CASE WHEN NOT (n_tokens >= 20 AND n_stop / n_tokens <= 0.2) THEN 'quality'
       |            WHEN r.doc_id IS NOT NULL THEN 'dup'
       |            WHEN ${hash60Sql("text")} % 10 >= 3 THEN 'sampled_out'
       |            ELSE 'kept' END AS stage
       |FROM f LEFT JOIN removed r USING (doc_id)""".stripMargin

  // ---- text_repetition: Gopher-style repetition quality filters --------

  /** The MassiveText/Gopher repetition signals (Rae et al. 2021, §A1.1):
    * duplicate 2-gram and 3-gram fractions (1 − distinct/total) and the
    * most-frequent-token concentration. Docs exceeding the paper-shaped
    * thresholds (dup-2gram > 0.2, dup-3gram > 0.18, top token > 0.2) are
    * flagged rather than dropped — the curation pipeline composes flags.
    *
    * Pure per-row HOF projection (no shuffle, no state); fractions are
    * int/int double division rounded last, the same cross-engine
    * determinism contract as `text_stats`. Short docs (< 3 tokens) get
    * 0.0 fractions through the SAME guarded CASE on both engines —
    * Spark's `sequence(1, 0)` counts DOWN, so the n-gram builders are
    * explicitly gated on size.
    */
  // Shared per-doc expression builders (Spark SQL dialect) for the
  // repetition signals — used by text_repetition and source_profile.
  private def gramsExpr(n: Int): String = {
    val parts = (0 until n)
      .map(j => if (j == 0) "element_at(toks, i)" else s"element_at(toks, i + $j)")
      .mkString(", ' ', ")
    s"""IF(size(toks) >= $n,
       |   transform(sequence(1, size(toks) - ${n - 1}), i -> concat($parts)),
       |   array())""".stripMargin
  }

  private def dupFracExpr(col0: String): String =
    s"""CASE WHEN size($col0) = 0 THEN cast(0.0 as double)
       |     ELSE round(1.0 - size(array_distinct($col0)) / size($col0), 4) END""".stripMargin

  private val topTokExpr: String =
    """CASE WHEN size(toks) = 0 THEN cast(0.0 as double)
      |     ELSE round(array_max(transform(array_distinct(toks),
      |            t -> size(filter(toks, x -> x = t)))) / size(toks), 4) END"""
      .stripMargin

  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("toks", tokens(col("text")))
      .withColumn("g2", expr(gramsExpr(2)))
      .withColumn("g3", expr(gramsExpr(3)))
      .select(
        col("doc_id"),
        expr(dupFracExpr("g2")).as("dup_2gram_frac"),
        expr(dupFracExpr("g3")).as("dup_3gram_frac"),
        expr(topTokExpr).as("top_tok_frac"))
      .withColumn("flagged",
        col("dup_2gram_frac") > 0.2 || col("dup_3gram_frac") > 0.18
          || col("top_tok_frac") > 0.2)

  // DuckDB twins of the shared repetition-signal builders.
  private def gramsSql(n: Int): String = {
    val parts = (0 until n)
      .map(j => if (j == 0) "toks[i]" else s"toks[i + $j]")
      .mkString(" || ' ' || ")
    s"CASE WHEN len(toks) >= $n THEN list_transform(generate_series(1, len(toks) - ${n - 1}), i -> $parts) ELSE [] END"
  }

  private def dupFracSql(g: String): String =
    s"CASE WHEN len($g) = 0 THEN 0.0 ELSE round(1.0 - len(list_distinct($g)) / len($g), 4) END"

  private val topTokSql: String =
    """CASE WHEN len(toks) = 0 THEN 0.0
      |              ELSE round(list_max(list_transform(list_distinct(toks),
      |                     t -> len(list_filter(toks, x -> x = t)))) / len(toks), 4) END"""
      .stripMargin

  val textRepetitionSql: String = {
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, toks, ${gramsSql(2)} AS g2, ${gramsSql(3)} AS g3 FROM t),
       |f AS (
       |  SELECT doc_id,
       |         ${dupFracSql("g2")} AS dup_2gram_frac,
       |         ${dupFracSql("g3")} AS dup_3gram_frac,
       |         $topTokSql
       |           AS top_tok_frac
       |  FROM g)
       |SELECT doc_id, dup_2gram_frac, dup_3gram_frac, top_tok_frac,
       |       (dup_2gram_frac > 0.2 OR dup_3gram_frac > 0.18 OR top_tok_frac > 0.2)
       |         AS flagged
       |FROM f""".stripMargin
  }

  // ---- doc_chunks: overlapping token-window chunking --------------------

  private val ChunkTokens  = 64 // window
  private val ChunkStride  = 56 // = window − 8 overlap tokens

  /** Fixed-token-window chunking with overlap — the prep step between
    * curation and tokenization/packing: every document explodes into
    * [[ChunkTokens]]-token windows at stride [[ChunkStride]] (8 tokens
    * of overlap preserve context across boundaries), keeping (doc_id,
    * chunk_id) lineage for provenance joins back to the corpus.
    *
    * Boundary rule, identical on both engines by construction: chunk
    * starts are `1, 1+S, 1+2S, …` but a start is admitted only if it is
    * the first OR it contributes at least one token the previous chunk
    * did not cover (`s − S + W ≤ len`) — no trailing chunk that is a
    * strict suffix of its predecessor, and the document's last token
    * always lands in some chunk (lossless reconstruction). Pure
    * Generate over a per-row projection — no shuffle, ~N·(1 + 1/7)
    * output rows.
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("toks", tokens(col("text")))
      .withColumn("starts", expr(
        s"""filter(IF(size(toks) = 0, array(), sequence(1, size(toks), $ChunkStride)),
           |       s -> s = 1 OR s - $ChunkStride + $ChunkTokens <= size(toks))""".stripMargin))
      .select(col("doc_id"), col("toks"), posexplode(col("starts")))
      .select(
        col("doc_id"),
        col("pos").cast("int").as("chunk_id"),
        expr(s"size(slice(toks, col, $ChunkTokens))").as("chunk_tokens"),
        expr(s"concat_ws(' ', slice(toks, col, $ChunkTokens))").as("chunk_text"))

  val docChunksSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s AS (
       |  SELECT doc_id, toks,
       |         unnest(list_transform(
       |           generate_series(1, len(starts)),
       |           i -> {'cid': i - 1, 'start': starts[i]})) AS u
       |  FROM (
       |    SELECT doc_id, toks,
       |           list_filter(generate_series(1, len(toks), $ChunkStride),
       |                       s -> s = 1 OR s - $ChunkStride + $ChunkTokens <= len(toks)) AS starts
       |    FROM t) WHERE len(starts) > 0)
       |SELECT doc_id,
       |       CAST(u.cid AS INT) AS chunk_id,
       |       CAST(len(list_slice(toks, u.start, u.start + ${ChunkTokens - 1})) AS INT)
       |         AS chunk_tokens,
       |       array_to_string(list_slice(toks, u.start, u.start + ${ChunkTokens - 1}), ' ')
       |         AS chunk_text
       |FROM s""".stripMargin

  // ---- corpus_pack: concatenate-and-cut sequence packing ----------------

  private val PackBudget = 64   // tokens per packed training sequence
  private val PackGroup  = 1000 // docs per prefix-sum group

  /** Pack the corpus into fixed-[[PackBudget]]-token training sequences,
    * GPT-style concatenate-and-cut: documents concatenate in doc_id
    * order and the token stream slices into back-to-back sequences that
    * may cross document boundaries. Output keeps full provenance
    * (n_docs, n_tokens per sequence, text reassembled in order).
    *
    * The scale problem is the GLOBAL token offset of each document — a
    * corpus-wide prefix sum, which a naive `sum() OVER (ORDER BY
    * doc_id)` computes in ONE task. Here it is the classic two-level
    * distributed prefix sum: (1) per-group token totals (group =
    * doc_id div [[PackGroup]], a hash aggregate), cumsum'd by a window
    * over the GROUPS — N/1000 rows, one small task; (2) the intra-group
    * cumsum runs partitioned by group (bounded windows). At 10¹⁰ docs
    * the group table is 10⁷ rows — recurse the same two levels once
    * more; the pattern is O(log_G N) small passes, never a full-corpus
    * single-partition sort. Each doc then explodes into only the
    * sequences it overlaps (≤ 1 + n/B rows) and sequences reassemble
    * with one hash aggregate (fragments ordered by global offset via
    * sort_array of (offset, fragment) structs).
    */
  def corpusPack(spark: SparkSession, dir: String): DataFrame =
    corpusPackOn(Tables.documents(spark, dir))

  def corpusPackOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = PackBudget
    val t = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("grp", expr(s"doc_id div $PackGroup"))
    val groupTotals = t.groupBy("grp").agg(sum("n").as("gn"))
      .withColumn("goff",
        coalesce(sum("gn").over(
          Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val withOff = t
      .withColumn("ioff",
        coalesce(sum("n").over(
          Window.partitionBy("grp").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(groupTotals.select("grp", "goff")), "grp")
      .withColumn("off", col("goff") + col("ioff"))
    withOff
      .select(col("doc_id"), col("toks"), col("n"), col("off"),
        explode(expr(s"sequence(off div $B, (off + n - 1) div $B)")).as("seq_id"))
      .withColumn("fstart", greatest(col("off"), col("seq_id") * B))
      .withColumn("fend", least(col("off") + col("n"), (col("seq_id") + 1) * B))
      .withColumn("frag", expr("slice(toks, cast(fstart - off + 1 as int), cast(fend - fstart as int))"))
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(size(col("frag"))).as("n_tokens"),
        concat_ws(" ",
          expr("transform(sort_array(collect_list(struct(fstart, frag))), p -> concat_ws(' ', p.frag))"))
          .as("seq_text"))
  }

  val corpusPackSql: String = {
    val B = PackBudget
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
       |  FROM documents WHERE len(string_split(text, ' ')) > 0),
       |o AS (
       |  SELECT doc_id, toks, n,
       |         CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM t),
       |f AS (
       |  SELECT o.*, s.seq_id,
       |         greatest(off, s.seq_id * $B) AS fstart,
       |         least(off + n, (s.seq_id + 1) * $B) AS fend
       |  FROM o, unnest(generate_series(off // $B, (off + n - 1) // $B)) AS s(seq_id))
       |SELECT seq_id,
       |       count(*) AS n_docs,
       |       CAST(sum(fend - fstart) AS BIGINT) AS n_tokens,
       |       string_agg(array_to_string(list_slice(toks, fstart - off + 1, fend - off), ' '),
       |                  ' ' ORDER BY fstart) AS seq_text
       |FROM f GROUP BY seq_id""".stripMargin
  }

  // ---- doc_winnow: winnowing fingerprints (rolling hash + window min) --

  private val WinK = 8 // gram bytes
  private val WinW = 4 // window grams; shared substrings ≥ 11 bytes ⇒ shared fp

  /** Distinct winnowing fingerprints per document via the native O(n)
    * rolling-hash [[graft.functions.WinnowFp]] expression — the
    * inverted-index feed of a substring-level near-copy detector
    * (complementing the set-level Jaccard/MinHash tier: winnowing
    * localizes SHARED PASSAGES, not whole-document similarity). The
    * oracle recomputes each gram hash independently (O(n·k) — SQL can't
    * roll) with identical mod-2³¹−1 integer math, so values match
    * exactly; DISTINCT happens relationally after the explode on both
    * sides.
    */
  def docWinnow(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(s"winnow_fp(text, $WinK, $WinW)")).as("fp"))
      .distinct()
  }

  val docWinnowSql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(1, length(text) - ${WinK - 1}),
       |           i -> list_reduce(
       |                  list_transform(generate_series(i, i + ${WinK - 1}),
       |                                 j -> ord(substr(text, j, 1))::BIGINT),
       |                  (a, c) -> (a * 257 + c) % 2147483647)) AS gh
       |  FROM documents),
       |sel AS (
       |  SELECT doc_id,
       |         unnest(list_transform(generate_series(1, len(gh) - ${WinW - 1}),
       |           p -> list_min(list_transform(generate_series(p, p + ${WinW - 1}),
       |                                        q -> gh[q])))) AS fp
       |  FROM g WHERE len(gh) >= $WinW)
       |SELECT DISTINCT doc_id, fp FROM sel""".stripMargin

  // ---- decontam: benchmark n-gram contamination scan --------------------

  private val DecontamGram = 8
  private val BenchMod     = 10 // benchmark stand-in: doc_id % 10 == 0

  /** Train/test contamination scan (the GPT-3 appendix-C / PaLM
    * decontamination shape): flag every training document that shares at
    * least one word [[DecontamGram]]-gram with a held-out benchmark set,
    * reporting how many distinct grams leak and how many benchmark docs
    * are implicated. The driver testdata has no separate benchmark
    * table, so `doc_id % 10 == 0` stands in as the eval suite — the
    * operator shape (gram explode → benchmark join → per-doc counts) is
    * the real thing.
    *
    * Scale: an eval suite is tiny next to a 100 TB corpus (≤ 10⁶ grams),
    * so the benchmark gram set broadcasts and the scan is one map-side
    * join over the training grams — no corpus-sized shuffle. Grams join
    * as strings here for oracle clarity; at deployment scale the join
    * key is xxhash64(gram) (8 bytes instead of ~50, same counts modulo
    * 2⁻⁶⁴ collisions). Docs shorter than the gram width contribute no
    * grams and cannot be flagged — by construction, not by filter.
    */
  def decontam(spark: SparkSession, dir: String): DataFrame = {
    val grams = docGrams(Tables.documents(spark, dir))
    decontamOn(
      grams.filter(col("doc_id") % BenchMod =!= 0),
      grams.filter(col("doc_id") % BenchMod === 0))
  }

  /** Distinct word [[DecontamGram]]-grams per doc (docs shorter than the
    * gram width contribute none).
    */
  private[graft] def docGrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""IF(size(toks) < $DecontamGram, array(),
           |   array_distinct(transform(
           |     sequence(1, size(toks) - ${DecontamGram - 1}),
           |     i -> concat_ws(' ', slice(toks, i, $DecontamGram)))))""".stripMargin)).as("gram"))

  /** Contamination join of training grams against a benchmark gram set
    * (both as (doc_id, gram) frames — see [[docGrams]]). The benchmark
    * side is broadcast: real eval suites are bounded, independent of
    * corpus size.
    */
  private[graft] def decontamOn(trainGrams: DataFrame, benchGrams: DataFrame): DataFrame =
    trainGrams
      .join(broadcast(benchGrams.select(col("doc_id").as("bench_id"), col("gram"))), "gram")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("gram")).as("n_shared_grams"),
        countDistinct(col("bench_id")).as("n_benchmark_docs"))

  val decontamSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(CASE WHEN len(toks) >= $DecontamGram
       |    THEN list_distinct(list_transform(
       |           generate_series(1, len(toks) - ${DecontamGram - 1}),
       |           i -> array_to_string(list_slice(toks, i, i + ${DecontamGram - 1}), ' ')))
       |    ELSE [] END) AS gram
       |  FROM t),
       |bench AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % $BenchMod = 0),
       |train AS (SELECT doc_id, gram FROM g WHERE doc_id % $BenchMod <> 0)
       |SELECT t.doc_id,
       |       CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared_grams,
       |       CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_benchmark_docs
       |FROM train t JOIN bench b USING (gram)
       |GROUP BY t.doc_id""".stripMargin

  // ---- decontam_bloom: constant-size probabilistic decontamination ------

  /** Bloom-filter decontamination — the shape the exact [[decontamOn]]
    * takes when even the benchmark GRAM SET is too large to broadcast
    * verbatim (a full eval-suite union at 100 TB): the benchmark grams
    * compress into one constant-size Bloom filter (Spark's own
    * runtime-filter `BloomFilterAggregate`, surfaced as `bloom_agg` via
    * `GraftExtensions`), and every training gram probes it with
    * `bloom_contains`. Bloom guarantees NO FALSE NEGATIVES — every truly
    * contaminated doc is flagged, the compliance direction — while false
    * positives are bounded by the (items, bits) sizing; flagged docs
    * then re-check exactly against only the matched grams in a second
    * pass if exactness is needed (the classic two-tier screen).
    * Probabilistic output ⇒ spec-law-checked (`DecontamBloomSpec`:
    * superset-of-exact + FP budget + determinism), not oracle-hashed.
    *
    * Scale: the filter is ONE aggregate reduced to a single buffer and
    * broadcast (constant bytes, vs the exact path's full gram set); the
    * probe is a per-row codegen predicate — no join, no shuffle on the
    * corpus side before the per-doc count.
    */
  def decontamBloom(spark: SparkSession, dir: String): DataFrame = {
    val grams = docGrams(Tables.documents(spark, dir))
    decontamBloomOn(
      grams.filter(col("doc_id") % BenchMod =!= 0),
      grams.filter(col("doc_id") % BenchMod === 0))
  }

  private[graft] def decontamBloomOn(trainGrams: DataFrame, benchGrams: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.graftops.PlanUtils
    import org.apache.spark.sql.types.BinaryType
    graft.GraftExtensions.register(trainGrams.sparkSession)
    // 16 bits/item ⇒ ~0.05% FP rate at the estimated cardinality. The
    // one-row filter buffer is collected to the driver and re-injected
    // as a binary LITERAL — `might_contain` requires a constant/scalar
    // filter side, and this is exactly how Spark's own runtime-filter
    // rewrite injects it; a ~40 KB control-plane read, independent of
    // both corpus and benchmark size.
    val bfBytes = benchGrams
      .agg(expr("bloom_agg(xxhash64(gram), 20000L, 320000L)").as("bf"))
      .collect()(0).getAs[Array[Byte]]("bf")
    trainGrams
      .filter(PlanUtils.columnOf(BloomFilterMightContain(
        Literal.create(bfBytes, BinaryType),
        new XxHash64(Seq(PlanUtils.expressionOf(col("gram")))))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_flagged_grams")) // docGrams is per-doc distinct
  }

  /** Two-tier decontamination: the Bloom screen in front of the exact
    * join. Every training gram probes the constant-size filter first (a
    * per-row predicate, no join), and only the flagged survivors — true
    * hits plus the ~0.05% false positives — enter [[decontamOn]]'s exact
    * broadcast join. Because Bloom admits no false negatives, the result
    * EQUALS the exact single-tier join row-for-row (law in
    * `DecontamBloomSpec`); the screen just cuts the join's probe side to
    * near the true-hit volume. This is the shape the streaming corpus
    * gate runs per micro-batch ([[graft.streaming.CorpusIngest]]).
    */
  private[graft] def decontamTwoTierOn(trainGrams: DataFrame, benchGrams: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.graftops.PlanUtils
    import org.apache.spark.sql.types.BinaryType
    graft.GraftExtensions.register(trainGrams.sparkSession)
    val bfBytes = benchGrams
      .agg(expr("bloom_agg(xxhash64(gram), 20000L, 320000L)").as("bf"))
      .collect()(0).getAs[Array[Byte]]("bf")
    val screened = trainGrams.filter(PlanUtils.columnOf(BloomFilterMightContain(
      Literal.create(bfBytes, BinaryType),
      new XxHash64(Seq(PlanUtils.expressionOf(col("gram")))))))
    decontamOn(screened, benchGrams)
  }

  // ---- corpus_mix: deterministic mixture-weight subsampling -------------

  /** Per-language target sampling rates in percent — the mixture-weight
    * knob of a training-data pipeline (oversample scarce high-value
    * languages, downsample the dominant one).
    */
  private val MixRates: Seq[(String, Int)] =
    Seq("de" -> 50, "en" -> 100, "es" -> 50, "fr" -> 50, "zh" -> 25)

  /** Mixture sampling with per-language token accounting: keep each doc
    * iff `hash60(text) % 100 < rate(lang)` — deterministic and
    * engine-independent (no RNG state, reproducible across reruns and
    * engines, the same contract as corpus_curation's sample stage) —
    * and report per-language in/kept doc and token counts plus the
    * realized rate. One scan, one hash aggregate: the rate table joins
    * by broadcast and sampling is a per-row predicate, so the operator
    * adds NOTHING to the corpus-sized data volume (at 100 TB the output
    * is 5 rows). Languages outside the rate table default to rate 0
    * (drop) — an explicit mixture is a whitelist.
    */
  // ---- source_rebalance: α-temperature mixture weights -----------------
  /** Temperature-sampled mixture design (the multilingual/multi-source
    * rebalancing rule: sample source s with probability ∝ n_s^α,
    * α = 1/2): per source, its token count, the integer weight
    * `floor(√n_tokens)`, and the exact permille share `weight·1000 div
    * Σweight` the α-tempered mixture assigns it. Flattens the head and
    * lifts the tail relative to natural proportions — the knob between
    * α=1 (natural, head-dominated) and α=0 (uniform, tail-noise-
    * dominated); `corpus_mix` consumes rates like these as its
    * whitelist, `token_budget_sample` enforces the resulting budgets.
    * √n via IEEE double sqrt (correctly rounded, identical in Spark and
    * DuckDB) then floor — deterministic cross-engine; share math all
    * integer.
    *
    * Scale (100 TB): one corpus scan into a partial-aggregable
    * per-source token sum (≤ sources rows cross the shuffle), a 1-row
    * total broadcast back over the source rows — output is
    * sources-sized regardless of corpus size.
    */
  def sourceRebalance(spark: SparkSession, dir: String): DataFrame =
    sourceRebalanceOn(Tables.documents(spark, dir))

  private[graft] def sourceRebalanceOn(docs: DataFrame): DataFrame = {
    val per = docs
      .select(col("source"), size(tokens(col("text"))).as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      .withColumn("weight", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = per.agg(sum(col("weight")).as("tw"))
    // nullif guard: with every source empty (tw = 0) Spark's div would
    // return NULL but DuckDB's // raises division-by-zero — nullif on
    // both engines makes the degenerate corpus yield NULL shares there too
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("weight"),
        expr("(weight * 1000) div nullif(tw, 0)").as("share_pm"))
      .orderBy("source")
  }

  val sourceRebalanceSql: String =
    """WITH per AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |w AS (
      |  SELECT source, n_tokens,
      |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
      |  FROM per),
      |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM w)
      |SELECT source, n_tokens, weight, (weight * 1000) // nullif(tw, 0) AS share_pm
      |FROM w CROSS JOIN tot
      |ORDER BY source""".stripMargin

  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rates = MixRates.toDF("lang", "rate_pct")
    Tables.documents(spark, dir)
      .select(col("lang"), col("text"), size(tokens(col("text"))).as("n_toks"))
      .join(broadcast(rates), Seq("lang"), "left")
      .withColumn("keep",
        pmod(hash60(col("text")), lit(100)) < coalesce(col("rate_pct"), lit(0)))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("docs_in"),
        sum(col("n_toks")).cast("long").as("toks_in"),
        count(when(col("keep"), 1)).as("docs_kept"),
        coalesce(sum(when(col("keep"), col("n_toks"))), lit(0)).cast("long").as("toks_kept"))
      .withColumn("realized_pct", round(col("docs_kept") * 100.0 / col("docs_in"), 4))
      .orderBy("lang")
  }

  val corpusMixSql: String = {
    val vals = MixRates.map { case (l, r) => s"('$l', $r)" }.mkString(", ")
    s"""WITH r(lang, rate_pct) AS (VALUES $vals),
       |d AS (
       |  SELECT d.lang, len(string_split(text, ' ')) AS n_toks,
       |         (${hash60Sql("text")} % 100) < coalesce(r.rate_pct, 0) AS keep
       |  FROM documents d LEFT JOIN r USING (lang))
       |SELECT lang,
       |       count(*) AS docs_in,
       |       CAST(sum(n_toks) AS BIGINT) AS toks_in,
       |       CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS docs_kept,
       |       CAST(coalesce(sum(CASE WHEN keep THEN n_toks END), 0) AS BIGINT) AS toks_kept,
       |       round(count(CASE WHEN keep THEN 1 END) * 100.0 / count(*), 4) AS realized_pct
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---- tfidf_topk: per-doc top-k characteristic terms -------------------

  private val TfidfK = 3

  /** Top-[[TfidfK]] characteristic terms per document under linear
    * inverse-document-frequency weighting `tf/len · N/df`. The log of
    * classic tf-idf is deliberately omitted: IEEE 754 specifies exact
    * results for *, /, but NOT for ln, so a log-based score can differ
    * by 1 ulp across engines and flip ranks at the boundary — the
    * linear form computes bit-identical doubles in both engines
    * (identical operation order), making a hash-exact oracle possible.
    * Ties break on term asc.
    *
    * Plan: one explode + (doc,term) count, doc-length and
    * document-frequency aggregates re-derived from it (partial aggs
    * before each shuffle), df and the N scalar joined by broadcast
    * (vocabulary ≪ corpus; N via the 1-row-agg crossJoin idiom — no
    * collect), then a per-doc window for the top-k. The window
    * partitions by doc_id — bounded partitions, no global sort.
    */
  def tfidfTopk(spark: SparkSession, dir: String): DataFrame =
    tfidfTopkOn(Tables.documents(spark, dir))

  private[graft] def tfidfTopkOn(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tc")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tf.join(dl, "doc_id")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tc").cast("double") * col("n_docs") / col("dl") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfK)
      .select(col("doc_id"), col("rank"), col("term"),
        round(col("score"), 6).as("tfidf"))
  }

  val tfidfTopkSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tc AS (SELECT doc_id, term, count(*) AS tc FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tc) AS BIGINT) AS dl FROM tc GROUP BY 1),
       |df AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |ranked AS (
       |  SELECT tc.doc_id, tc.term,
       |         tc.tc::DOUBLE * n.n_docs / dl.dl / df.df AS score,
       |         row_number() OVER (
       |           PARTITION BY tc.doc_id
       |           ORDER BY tc.tc::DOUBLE * n.n_docs / dl.dl / df.df DESC, tc.term ASC) AS rn
       |  FROM tc JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id, CAST(rn AS INT) AS rank, term, round(score, 6) AS tfidf
       |FROM ranked WHERE rn <= $TfidfK""".stripMargin

  // ---- tfidf_topk_log: classic log-idf twin -----------------------------
  /** The classic-weighting twin of [[tfidfTopk]]: `tf/len · ln(N/df)` —
    * what most retrieval stacks actually ship. The linear variant stays
    * the normative hash-exact one (IEEE specifies exact *, / but only
    * 1-ulp-correct ln); here the doubles flow through `ln` in identical
    * operation order in both engines, so a cross-engine rank flip needs
    * two distinct terms' scores within one ulp of each other — absent
    * from every shipped SF (the cross-scale gate runs all three), and
    * exact ties (same tf, dl, df — e.g. the ln(1)=0 all-docs terms)
    * break on term asc identically. Same plan shape as the linear twin.
    */
  def tfidfTopkLog(spark: SparkSession, dir: String): DataFrame =
    tfidfTopkLogOn(Tables.documents(spark, dir))

  private[graft] def tfidfTopkLogOn(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tc")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tf.join(dl, "doc_id")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tc").cast("double") / col("dl")
          * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfK)
      .select(col("doc_id"), col("rank"), col("term"),
        round(col("score"), 6).as("tfidf"))
  }

  val tfidfTopkLogSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tc AS (SELECT doc_id, term, count(*) AS tc FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tc) AS BIGINT) AS dl FROM tc GROUP BY 1),
       |df AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |ranked AS (
       |  SELECT tc.doc_id, tc.term,
       |         tc.tc::DOUBLE / dl.dl * ln(n.n_docs::DOUBLE / df.df) AS score,
       |         row_number() OVER (
       |           PARTITION BY tc.doc_id
       |           ORDER BY tc.tc::DOUBLE / dl.dl * ln(n.n_docs::DOUBLE / df.df) DESC, tc.term ASC) AS rn
       |  FROM tc JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id, CAST(rn AS INT) AS rank, term, round(score, 6) AS tfidf
       |FROM ranked WHERE rn <= $TfidfK""".stripMargin

  // ---- source_profile: per-source corpus governance report --------------

  /** The corpus-governance view a training-data pipeline reviews per
    * ingestion source: volume (docs, tokens), mean quality score,
    * repetition-flagged count, docs slated for removal by near-dup
    * canonicalization, and benchmark-contaminated docs — all of the
    * engine's curation signals composed in ONE report keyed by `source`.
    *
    * Determinism of the mean: per-doc quality is the bit-exact
    * text_stats double; it is rounded to an int ten-thousandth
    * (`round(q·10⁴)` — identical doubles round identically) so the
    * cross-doc aggregation is an INTEGER sum (order-independent,
    * engine-independent), divided back out once at the end. Averaging
    * raw doubles would be fold-order-dependent and unhashable across
    * engines. Scale: the per-doc signals are codegen projections; the
    * removal and contamination sets are near-dup-sized (≪ corpus) and
    * broadcast into left joins; one hash aggregate on ~20 source keys.
    */
  def sourceProfile(spark: SparkSession, dir: String): DataFrame =
    sourceProfileOn(spark, dir, removedSet(spark, dir),
      storedContamIds(spark, dir))

  /** [[sourceProfile]] over explicit removal and contamination sets (the
    * demotion-law seams, as [[corpusCurationOn]]): the registry entry
    * feeds both from their persisted stores, the law feeds the in-plan
    * derivations and pins frame equality.
    */
  private[graft] def sourceProfileOn(spark: SparkSession, dir: String,
      removedIds: DataFrame, contamIds: DataFrame): DataFrame = {
    val stopArr = Stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .withColumn("g2", expr(gramsExpr(2)))
      .withColumn("g3", expr(gramsExpr(3)))
      .select(
        col("doc_id"), col("source"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        expr(s"size(filter(toks, t -> array_contains($stopArr, t)))").as("n_stop"),
        expr(dupFracExpr("g2")).as("d2"),
        expr(dupFracExpr("g3")).as("d3"),
        expr(topTokExpr).as("tt"))
      .withColumn("qi",
        round((least(col("n_tokens") / lit(100.0), lit(1.0)) * 0.4
          + (col("n_distinct") / col("n_tokens")) * 0.4
          + (lit(1.0) - col("n_stop") / col("n_tokens")) * 0.2) * 10000, 0)
          .cast("long"))
      .withColumn("flagged",
        col("d2") > 0.2 || col("d3") > 0.18 || col("tt") > 0.2)
    val removed = removedIds.withColumn("is_dup", lit(1))
    val contam = contamIds
      .select(col("doc_id")).withColumn("is_cont", lit(1))
    perDoc
      .join(broadcast(removed), Seq("doc_id"), "left")
      .join(broadcast(contam), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        round(sum(col("qi")) / (count(lit(1)) * lit(10000.0)), 4).as("avg_quality"),
        count(when(col("flagged"), 1)).as("n_flagged"),
        count(when(col("is_dup") === 1, 1)).as("n_dup"),
        count(when(col("is_cont") === 1, 1)).as("n_contaminated"))
      .orderBy("source")
  }

  val sourceProfileSql: String = {
    val stopList = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, source, toks, ${gramsSql(2)} AS g2, ${gramsSql(3)} AS g3 FROM t),
       |f AS (
       |  SELECT doc_id, source, len(toks) AS n_tokens,
       |         CAST(round((least(len(toks) / 100.0, 1.0) * 0.4
       |           + (len(list_distinct(toks)) / len(toks)) * 0.4
       |           + (1.0 - len(list_filter(toks, t -> list_contains($stopList, t))) / len(toks)) * 0.2) * 10000, 0) AS BIGINT) AS qi,
       |         (${dupFracSql("g2")} > 0.2 OR ${dupFracSql("g3")} > 0.18 OR $topTokSql > 0.2) AS flagged
       |  FROM g),
       |pairs AS (
       |  ${graft.dedup.Dedup.jaccardOracleSql.replace("\n", "\n  ")}),
       |removed AS (SELECT DISTINCT doc_id_2 AS doc_id FROM pairs),
       |gr AS (
       |  SELECT doc_id, unnest(CASE WHEN len(toks) >= $DecontamGram
       |    THEN list_distinct(list_transform(
       |           generate_series(1, len(toks) - ${DecontamGram - 1}),
       |           i -> array_to_string(list_slice(toks, i, i + ${DecontamGram - 1}), ' ')))
       |    ELSE [] END) AS gram
       |  FROM t),
       |contam AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM gr a JOIN gr b ON a.gram = b.gram
       |    AND a.doc_id % $BenchMod <> 0 AND b.doc_id % $BenchMod = 0)
       |SELECT f.source,
       |       count(*) AS n_docs,
       |       CAST(sum(f.n_tokens) AS BIGINT) AS total_tokens,
       |       round(CAST(sum(f.qi) AS BIGINT) / (count(*) * 10000.0), 4) AS avg_quality,
       |       CAST(count(CASE WHEN f.flagged THEN 1 END) AS BIGINT) AS n_flagged,
       |       CAST(count(CASE WHEN r.doc_id IS NOT NULL THEN 1 END) AS BIGINT) AS n_dup,
       |       CAST(count(CASE WHEN c.doc_id IS NOT NULL THEN 1 END) AS BIGINT) AS n_contaminated
       |FROM f
       |LEFT JOIN removed r USING (doc_id)
       |LEFT JOIN contam c USING (doc_id)
       |GROUP BY f.source
       |ORDER BY f.source""".stripMargin
  }

  // ---- lm_quality: corpus unigram log-probability score ----------------
  /** CCNet-style perplexity-lite quality score: each document's mean
    * token log-probability under the corpus' own unigram distribution
    * (ln c(w) − ln Σc). Low scores mark rare-token-heavy (junk-ish)
    * documents; the real CCNet uses a KenLM 5-gram, but the pipeline
    * shape — train a cheap LM over the corpus, score every doc with it,
    * filter the tail — is exactly this.
    *
    * Determinism: the per-doc mean sums IEEE doubles, and group
    * aggregation order is engine-dependent — so the log-probs are
    * collected per doc and folded in SORTED order (`sort_array` +
    * `aggregate` here, `list_sort` + `list_reduce` in the oracle), making
    * the sum bit-identical across engines. Docs are bounded (≤ a few
    * thousand tokens), so the collected list is constant-sized state, not
    * a scale hazard.
    *
    * Scale: vocab counts are one token-keyed aggregate; the score join
    * broadcasts the vocabulary (unigram vocab is ~10⁶-10⁷ entries even at
    * 100 TB — well under broadcast limits once hashed; a shuffle join on
    * token is the fallback). One doc-keyed aggregate finishes.
    */
  def lmQuality(spark: SparkSession, dir: String): DataFrame =
    lmQualityOn(Tables.documents(spark, dir))

  def lmQualityOn(docs: DataFrame): DataFrame = {
    // Materialized once (lazily): the token stream feeds BOTH the vocab
    // count and the score join probe side — without the checkpoint each
    // consumer re-runs tokenize+explode over the corpus (house pattern,
    // see Dedup.hashedSets; blocks are released by the Verify/Bench
    // harness via Maintenance.releaseCachedBlocks).
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .localCheckpoint(eager = false)
    val counts = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val total  = counts.agg(sum(col("c")).as("total"))
    toks.join(broadcast(counts), "token")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (log(col("c").cast("double")) - log(col("total").cast("double"))).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        aggregate(sort_array(collect_list(col("lp"))), lit(0.0), _ + _).as("_s"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("_s") / col("n_tokens"), 4).as("avg_logprob"))
      .orderBy("doc_id")
  }

  val lmQualitySql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
      |tot AS (SELECT sum(c) AS total FROM cnt),
      |lp AS (
      |  SELECT t.doc_id, ln(CAST(c AS DOUBLE)) - ln(CAST(total AS DOUBLE)) AS lp
      |  FROM tok t JOIN cnt USING (token), tot)
      |SELECT doc_id, count(*) AS n_tokens,
      |       round(list_reduce(list_sort(list(lp)), (a, b) -> a + b)
      |             / count(*), 4) AS avg_logprob
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- span_dedup_rate: duplicated-span diagnostic ----------------------
  /** Per-document fraction of its distinct token 8-grams that also occur
    * in at least one OTHER document — the span-level duplication
    * diagnostic behind exact-substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better": duplicated spans, not
    * just whole-doc dups, degrade LMs). Near-1 rates mark documents that
    * are stitched from copied spans even when no whole-doc pair fires.
    *
    * The Spark side hashes each gram to a long at extraction (xxhash64 —
    * 8 bytes through the shuffle instead of a ~60-byte string; house rule
    * from the char-gram dedup family), while the oracle keeps raw gram
    * strings: only counts ever reach the output, so the two agree unless
    * xxhash64 collides inside this corpus (~10⁻⁷ at sf1; deterministic
    * per dataset either way).
    *
    * Scale: gram extraction is linear (one row per token position), the
    * doc-count is one gram-keyed aggregate with map-side partials, and
    * the dup test is a LEFT SEMI join of the (doc, gram) frame against
    * the duplicated-gram key set only (`docs > 1` — the small side by
    * construction: most grams in a real corpus are singletons), so the
    * join emits one slim row per duplicated hit instead of carrying
    * every (doc, gram) row through a full-width join. Per-doc `n_grams`
    * is pre-aggregated on the frame alone, and the two per-doc frames
    * stitch on `doc_id` — no pairwise anything; this is the cheap
    * pre-pass that decides whether the expensive exact-substring
    * removal pass ([[spanRemoval]]) is worth scheduling.
    */
  def spanDedupRate(spark: SparkSession, dir: String): DataFrame =
    spanDedupRateOn(Tables.documents(spark, dir))

  def spanDedupRateOn(docs: DataFrame): DataFrame = {
    val G = 8
    val dg = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= G)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(t) - $G), i -> xxhash64(concat_ws(' ', slice(t, i + 1, $G))))"))
        .as("g"))
      .distinct()
      // Materialized once (lazily): the distinct (doc, gram) frame is both
      // the aggregate input and the join probe side — without this the
      // tokenize+gram+distinct pipeline runs twice (house pattern, see
      // Dedup.hashedSets).
      .localCheckpoint(eager = false)
    val perDoc = dg.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val dupGramKeys = dg.groupBy("g").agg(count(lit(1)).as("docs"))
      .filter(col("docs") > 1).select("g")
    val dupPerDoc = dg.join(dupGramKeys, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_grams"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("dup_grams"),
        round(col("dup_grams").cast("double") / col("n_grams"), 4).as("dup_rate"))
      .orderBy("doc_id")
  }

  val spanDedupRateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         unnest([array_to_string(t[i:i+7], ' ')
      |                 for i in generate_series(1, len(t) - 7)]) AS g
      |  FROM toks WHERE len(t) >= 8),
      |dg AS (SELECT DISTINCT doc_id, g FROM grams),
      |cnt AS (SELECT g, count(*) AS docs FROM dg GROUP BY g)
      |SELECT doc_id, count(*) AS n_grams,
      |       CAST(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
      |       round(CAST(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 4) AS dup_rate
      |FROM dg JOIN cnt USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- span_removal: duplicated-span excision intervals ----------------
  /** Per-document excision intervals for duplicated token spans — the
    * exact-substring dedup pass of Lee et al. ("Deduplicating Training
    * Data Makes Language Models Better") re-expressed distributed:
    * instead of one giant suffix array, every token 8-gram shared by more
    * than one document marks its 8-token window as duplicated, and
    * overlapping/contiguous duplicated windows per doc merge into maximal
    * `[span_start, span_end]` token intervals (1-based, inclusive). The
    * companion [[spanRemovalClean]] excises the intervals and re-stitches
    * the text; `SpanRemovalSpec` asserts the stitch law (cleaning drives
    * the [[spanDedupRateOn]] diagnostic to ~0).
    *
    * Same gram hashing as the diagnostic (xxhash64 of the joined gram —
    * 8 bytes through the shuffle; oracle keeps raw strings, only
    * positions reach the output).
    *
    * Scale: gram extraction is linear, the duplicated-gram key set is one
    * gram-keyed aggregate filtered to `docs > 1` (small by construction),
    * the position probe is a LEFT SEMI join on the gram key, and interval
    * merging is a per-document gaps-and-islands window — partitioned by
    * doc_id, so the window frame is bounded by document length, never by
    * corpus size. No pairwise comparison anywhere.
    */
  def spanRemoval(spark: SparkSession, dir: String): DataFrame =
    spanRemovalOn(Tables.documents(spark, dir))

  private val SpanG = 8

  /** (doc_id, pos, g): one row per token position (1-based) with the
    * xxhash64 of the 8-gram starting there. Shared by the interval
    * builder and the cleaner.
    */
  private def positionedGrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= SpanG)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(t) - $SpanG), i -> xxhash64(concat_ws(' ', slice(t, i + 1, $SpanG))))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("g"))

  /** Excision intervals: merge duplicated 8-gram windows per doc. Two
    * duplicated positions p < q merge when q - p <= 8 (their 8-token
    * windows overlap or touch), i.e. a new island starts when the gap
    * from the previous duplicated position exceeds the gram width.
    */
  def spanRemovalOn(docs: DataFrame): DataFrame = {
    val pg = positionedGrams(docs).localCheckpoint(eager = false)
    val dupGramKeys = pg.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("docs"))
      .filter(col("docs") > 1).select("g")
    val dupPos = pg.join(dupGramKeys, Seq("g"), "left_semi")
      .select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("brk",
        when(coalesce(col("pos") - lag("pos", 1).over(w), lit(SpanG + 1)) > SpanG, 1)
          .otherwise(0))
      .withColumn("island", sum("brk").over(
        Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(SpanG - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  val spanRemovalSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         unnest([{'pos': i, 'g': array_to_string(t[i:i+7], ' ')}
      |                 for i in generate_series(1, len(t) - 7)],
      |                recursive := true)
      |  FROM toks WHERE len(t) >= 8),
      |dupg AS (
      |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS docs
      |                 FROM grams GROUP BY g) WHERE docs > 1),
      |dp AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dupg)),
      |isl AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN coalesce(pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 9) > 8
      |              THEN 1 ELSE 0 END AS brk
      |  FROM dp),
      |isl2 AS (
      |  SELECT doc_id, pos,
      |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM isl)
      |SELECT doc_id,
      |       CAST(min(pos) AS INTEGER) AS span_start,
      |       CAST(max(pos) + 7 AS INTEGER) AS span_end,
      |       CAST(max(pos) + 7 - min(pos) + 1 AS INTEGER) AS span_tokens
      |FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin

  /** Cleaned corpus: every token inside an excision interval removed, the
    * survivors re-stitched with single spaces. Docs with no duplicated
    * span pass through untouched; docs whose entire text is duplicated
    * come back empty (the caller's filter decides whether to drop them).
    *
    * The token filter is a higher-order `filter` over the token array
    * against the doc's (collected) interval list — O(tokens × spans) per
    * document, both bounded by doc length; the interval list rides a
    * doc_id-keyed LEFT join, so the plan stays linear in corpus size.
    */
  def spanRemovalClean(spark: SparkSession, dir: String): DataFrame =
    spanRemovalCleanOn(Tables.documents(spark, dir))
      .orderBy("doc_id")

  val spanRemovalCleanSql: String =
    """WITH docs AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         unnest([{'pos': i, 'g': array_to_string(t[i:i+7], ' ')}
      |                 for i in generate_series(1, len(t) - 7)],
      |                recursive := true)
      |  FROM docs WHERE len(t) >= 8),
      |dupg AS (
      |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS docs
      |                 FROM grams GROUP BY g) WHERE docs > 1),
      |dp AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dupg)),
      |isl AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN coalesce(pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 9) > 8
      |              THEN 1 ELSE 0 END AS brk
      |  FROM dp),
      |isl2 AS (
      |  SELECT doc_id, pos,
      |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM isl),
      |spans AS (
      |  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
      |  FROM isl2 GROUP BY doc_id, island),
      |sp AS (SELECT doc_id, list({'s': s, 'e': e}) AS spans FROM spans GROUP BY doc_id)
      |SELECT d.doc_id,
      |       CASE WHEN sp.spans IS NULL THEN d.text
      |            ELSE coalesce(array_to_string(
      |              [d.t[i] for i in generate_series(1, len(d.t))
      |               if len(list_filter(sp.spans, x -> i >= x.s AND i <= x.e)) = 0], ' '), '')
      |       END AS clean_text
      |FROM docs d LEFT JOIN sp USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  def spanRemovalCleanOn(docs: DataFrame): DataFrame = {
    val spans = spanRemovalOn(docs)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs.join(spans, Seq("doc_id"), "left")
      .withColumn("clean_text",
        when(col("spans").isNull, col("text")).otherwise(expr(
          """concat_ws(' ', filter(split(text, ' '),
            |  (tok, i) -> !exists(spans,
            |    s -> i + 1 >= s.span_start AND i + 1 <= s.span_end)))""".stripMargin)))
      .select(col("doc_id"), col("clean_text"))
  }

  // ---- corpus_shards: deterministic training-shard manifest ------------
  /** The write-the-training-set step: every document assigned to one of
    * N shards by a content hash that any engine (and any retry, any
    * partitioning) reproduces — `hash60(text) mod N`, the same
    * deterministic-sampling primitive corpus_mix uses. The manifest rows
    * (per-shard doc count, byte budget, id range) are what a trainer's
    * data loader consumes; hash-sharding means shard sizes concentrate
    * tightly around corpus/N with no coordination.
    *
    * Scale: one pass, one hash aggregate on the shard key — at 100 TB
    * the same shard column becomes the `partitionBy` of the actual shard
    * write, so manifest and data layout derive from one expression.
    */
  def corpusShards(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(pmod(hash60(col("text")), lit(8L)).as("shard"),
        col("doc_id"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("shard")

  val corpusShardsSql: String =
    s"""SELECT ${hash60Sql("text")} % 8 AS shard,
       |       count(*) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |       min(doc_id) AS min_doc_id,
       |       max(doc_id) AS max_doc_id
       |FROM documents GROUP BY shard ORDER BY shard""".stripMargin

  // ---- passage_dedup: keep-first duplicate-passage removal -------------
  /** C4-style duplicate-passage removal with keep-first semantics: the
    * corpus is segmented into non-overlapping 10-token passages, every
    * passage that occurs more than once anywhere in the corpus keeps ONLY
    * its first occurrence (ordered by doc_id, then position), and each
    * document's surviving passages are re-stitched in order. This is the
    * keep-one complement of [[spanRemovalOn]], which excises ALL copies
    * of a duplicated run including the first — Lee et al. recommend
    * keeping one canonical copy, which is exactly this operator.
    *
    * Spark keys passages by xxhash64 (8 bytes through the shuffle); the
    * oracle keys by the raw passage string — same precedent as the span
    * family (keep/drop decisions agree absent a 64-bit collision).
    *
    * Scale (100 TB): segmentation is linear; first-occurrence election is
    * one row_number window PARTITIONED by passage hash, so each window
    * group is one passage's occurrence list (bounded by its duplication
    * count, never corpus size); re-stitching is a doc_id-keyed aggregate +
    * join. No pairwise comparison anywhere.
    */
  private val PassageLen = 10

  def passageDedup(spark: SparkSession, dir: String): DataFrame =
    passageDedupOn(Tables.documents(spark, dir))

  def passageDedupOn(docs: DataFrame): DataFrame = {
    val P = PassageLen
    val segs = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(t) + ${P - 1}) div $P - 1), i -> xxhash64(concat_ws(' ', slice(t, i * $P + 1, $P))))")))
      .select(col("doc_id"), col("pos").as("seg_idx"), col("col").as("g"))
    val kept = segs
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy("doc_id", "seg_idx")))
      .filter(col("rn") === 1)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("seg_idx"))).as("ks"))
    docs.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(expr(
          s"concat_ws(' ', flatten(transform(ks, i -> slice(split(text, ' '), i * $P + 1, $P))))"),
          lit("")).as("clean_text"),
        coalesce(size(col("ks")), lit(0)).cast("int").as("kept_segs"),
        expr(s"cast((size(split(text, ' ')) + ${P - 1}) div $P as int)").as("total_segs"))
      .orderBy("doc_id")
  }

  val passageDedupSql: String =
    s"""WITH docs AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
       |segs AS (
       |  SELECT doc_id,
       |         unnest([{'i': i, 'g': array_to_string(t[(i-1)*$PassageLen+1:(i-1)*$PassageLen+$PassageLen], ' ')}
       |                 for i in generate_series(1, (len(t) + ${PassageLen - 1}) // $PassageLen)],
       |                recursive := true)
       |  FROM docs),
       |win AS (
       |  SELECT doc_id, i,
       |         row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
       |  FROM segs),
       |ks AS (SELECT doc_id, list_sort(list(i)) AS ks
       |       FROM win WHERE rn = 1 GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(array_to_string(
       |         flatten([d.t[(i-1)*$PassageLen+1:(i-1)*$PassageLen+$PassageLen] for i in ks.ks]), ' '),
       |         '') AS clean_text,
       |       CAST(coalesce(len(ks.ks), 0) AS INTEGER) AS kept_segs,
       |       CAST((len(d.t) + ${PassageLen - 1}) // $PassageLen AS INTEGER) AS total_segs
       |FROM docs d LEFT JOIN ks USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- line_dedup: CCNet-style boilerplate-line removal -----------------
  /** Doc-frequency boilerplate removal (the CCNet/RefinedWeb line-dedup
    * pass): the corpus is segmented into non-overlapping 5-token "lines"
    * (the synthetic corpus has no newlines, so fixed-width segments stand
    * in for physical lines — the machinery is identical), and any line
    * whose DISTINCT-document frequency reaches [[BoilerDf]] is treated as
    * boilerplate (headers, footers, cookie banners, nav chrome) and
    * removed from EVERY document that contains it. This is the
    * frequency-thresholded complement of the two span operators:
    * [[spanRemovalOn]] excises all copies of any duplicated run (df ≥ 2,
    * gram-overlap semantics), [[passageDedupOn]] keeps exactly the first
    * occurrence — line_dedup keeps ALL copies of rare lines and NO copies
    * of frequent ones, which is the right call for boilerplate (no
    * occurrence is canonical).
    *
    * Spark keys lines by xxhash64 (8 bytes through the shuffle); the
    * oracle keys by the raw line string — same collision precedent as the
    * span/passage family.
    *
    * Scale (100 TB): segmentation is linear; the df count is a two-level
    * hash aggregate ((line, doc) distinct → per-line count, both
    * partial-aggregable); and the boilerplate set it yields is TINY by
    * construction (lines repeated across ≥ df docs are a vanishing
    * fraction of distinct lines — 35 of 5.3k here, and CCNet reports the
    * same shape at web scale), so the removal join is a BROADCAST
    * left-anti probe: one corpus pass, no shuffle of the segment stream.
    * Contrast passage_dedup, whose keep-first election must shuffle every
    * segment into its hash group.
    */
  private val LineLen  = 5
  private val BoilerDf = 3

  def lineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedupOn(Tables.documents(spark, dir))

  private[graft] def lineDedupOn(docs: DataFrame): DataFrame = {
    val L = LineLen
    val segs = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(t) + ${L - 1}) div $L - 1), i -> xxhash64(concat_ws(' ', slice(t, i * $L + 1, $L))))")))
      .select(col("doc_id"), col("pos").as("seg_idx"), col("col").as("g"))
    val boiler = segs.select(col("g"), col("doc_id")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= BoilerDf)
      .select(col("g"))
    val kept = segs.join(broadcast(boiler), Seq("g"), "left_anti")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("seg_idx"))).as("ks"))
    docs.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(expr(
          s"concat_ws(' ', flatten(transform(ks, i -> slice(split(text, ' '), i * $L + 1, $L))))"),
          lit("")).as("clean_text"),
        coalesce(size(col("ks")), lit(0)).cast("int").as("kept_segs"),
        expr(s"cast((size(split(text, ' ')) + ${L - 1}) div $L as int)").as("total_segs"))
      .orderBy("doc_id")
  }

  val lineDedupSql: String =
    s"""WITH docs AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
       |segs AS (
       |  SELECT doc_id,
       |         unnest([{'i': i, 'g': array_to_string(t[(i-1)*$LineLen+1:(i-1)*$LineLen+$LineLen], ' ')}
       |                 for i in generate_series(1, (len(t) + ${LineLen - 1}) // $LineLen)],
       |                recursive := true)
       |  FROM docs),
       |boiler AS (
       |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM segs GROUP BY g)
       |  WHERE df >= $BoilerDf),
       |ks AS (SELECT doc_id, list_sort(list(i)) AS ks
       |       FROM segs ANTI JOIN boiler USING (g) GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(array_to_string(
       |         flatten([d.t[(i-1)*$LineLen+1:(i-1)*$LineLen+$LineLen] for i in ks.ks]), ' '),
       |         '') AS clean_text,
       |       CAST(coalesce(len(ks.ks), 0) AS INTEGER) AS kept_segs,
       |       CAST((len(d.t) + ${LineLen - 1}) // $LineLen AS INTEGER) AS total_segs
       |FROM docs d LEFT JOIN ks USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- repetition_trim: intra-doc keep-first segment dedup --------------
  /** The FIXER paired with `text_repetition`'s auditor (the split_assign
    * pattern): WITHIN each document, later copies of a repeated 5-token
    * segment are removed and the first occurrence kept — the Gopher-rule
    * remedy for looping/boilerplate-stuffed pages that repeat the same
    * paragraph dozens of times. Completes the segment-family quadrant:
    * span_removal excises ALL copies cross-corpus, passage_dedup keeps
    * the first copy CROSS-doc, line_dedup drops frequent lines
    * everywhere — this keeps the first copy WITHIN-doc and touches no
    * other document.
    *
    * Scale (100 TB): strictly per-document semantics, so the only wide
    * operation is one (doc_id, g) hash aggregate — partial-aggregable
    * min, co-partitionable with any doc-keyed upstream, no pair axis,
    * no corpus-sized broadcast. The embarrassingly-parallel end of the
    * dedup spectrum.
    */
  def repetitionTrim(spark: SparkSession, dir: String): DataFrame =
    repetitionTrimOn(Tables.documents(spark, dir))

  private[graft] def repetitionTrimOn(docs: DataFrame): DataFrame = {
    val L = LineLen
    val segs = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(t) + ${L - 1}) div $L - 1), i -> xxhash64(concat_ws(' ', slice(t, i * $L + 1, $L))))")))
      .select(col("doc_id"), col("pos").as("seg_idx"), col("col").as("g"))
    val kept = segs
      .groupBy(col("doc_id"), col("g")).agg(min(col("seg_idx")).as("seg_idx"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("seg_idx"))).as("ks"))
    docs.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(expr(
          s"concat_ws(' ', flatten(transform(ks, i -> slice(split(text, ' '), i * $L + 1, $L))))"),
          lit("")).as("clean_text"),
        coalesce(size(col("ks")), lit(0)).cast("int").as("kept_segs"),
        expr(s"cast((size(split(text, ' ')) + ${L - 1}) div $L as int)").as("total_segs"))
      .withColumn("dup_segs", (col("total_segs") - col("kept_segs")).cast("int"))
      .orderBy("doc_id")
  }

  val repetitionTrimSql: String =
    s"""WITH docs AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
       |segs AS (
       |  SELECT doc_id,
       |         unnest([{'i': i, 'g': array_to_string(t[(i-1)*$LineLen+1:(i-1)*$LineLen+$LineLen], ' ')}
       |                 for i in generate_series(1, (len(t) + ${LineLen - 1}) // $LineLen)],
       |                recursive := true)
       |  FROM docs),
       |keep AS (SELECT doc_id, min(i) AS i FROM segs GROUP BY doc_id, g),
       |ks AS (SELECT doc_id, list_sort(list(i)) AS ks FROM keep GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(array_to_string(
       |         flatten([d.t[(i-1)*$LineLen+1:(i-1)*$LineLen+$LineLen] for i in ks.ks]), ' '),
       |         '') AS clean_text,
       |       CAST(coalesce(len(ks.ks), 0) AS INTEGER) AS kept_segs,
       |       CAST((len(d.t) + ${LineLen - 1}) // $LineLen AS INTEGER) AS total_segs,
       |       CAST((len(d.t) + ${LineLen - 1}) // $LineLen - coalesce(len(ks.ks), 0) AS INTEGER) AS dup_segs
       |FROM docs d LEFT JOIN ks USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- gram_novelty: per-doc corpus-unique n-gram fraction --------------
  /** Uniqueness/diversity signal for curation: for each document, how
    * many of its distinct word 8-grams appear NOWHERE else in the corpus
    * (`n_unique`, df = 1) out of its total distinct grams (`n_grams`),
    * plus the exact integer permille `novelty_pm = n_unique·1000 div
    * n_grams` (NULL for sub-8-token docs). Low novelty = the doc is
    * assembled from recycled text (templates, quote farms, near-dup
    * survivors below the dedup threshold); high novelty = genuinely new
    * content — the per-doc complement of the pair-producing dedup family
    * and the ranking signal a curation pass can sort or threshold on.
    * Gram spelling is [[docGrams]]' (the decontam contract).
    *
    * Scale (100 TB): two partial-aggregable hash aggregates — the gram
    * stream is extracted ONCE (localCheckpoint; the plan's two consumers
    * would otherwise each re-run the corpus scan + gram explode —
    * measured, see gramNoveltyOn), shuffles once on the 8-byte gram
    * hash, the df table joins back on the same key, then one doc-keyed
    * rollup. No pair axis; the df table is gram-distinct-sized but never
    * collected or broadcast.
    *
    * Hash caveat (the line_dedup convention): df groups `xxhash64(gram)`
    * while the oracle groups the raw gram string, so a 64-bit collision
    * (~n²/2⁶⁵ expected pairs) would merge two distinct grams on the
    * Spark side only — exactness holds modulo that negligible event,
    * not unconditionally. Same asymmetry in repetitionTrim's segment
    * grouping.
    */
  def gramNovelty(spark: SparkSession, dir: String): DataFrame =
    gramNoveltyOn(Tables.documents(spark, dir))

  private[graft] def gramNoveltyOn(docs: DataFrame): DataFrame = {
    // localCheckpoint: the gram stream feeds BOTH the df aggregate and
    // the join probe side — without truncation each branch re-extracts
    // every gram from the scan (measured: zero ReusedExchange, the
    // repartition alone does not get shared once the df side broadcasts)
    val g = docGrams(docs)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .repartition(col("gh"))
      .localCheckpoint(eager = false)
    val df = g.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    val per = g.join(df, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty_pm",
        when(col("n_grams") === 0, lit(null).cast("long"))
          .otherwise(expr("(n_unique * 1000) div n_grams")))
      .orderBy("doc_id")
  }

  val gramNoveltySql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(CASE WHEN len(toks) >= $DecontamGram
       |    THEN list_distinct(list_transform(
       |           generate_series(1, len(toks) - ${DecontamGram - 1}),
       |           i -> array_to_string(list_slice(toks, i, i + ${DecontamGram - 1}), ' ')))
       |    ELSE [] END) AS gram
       |  FROM t),
       |df AS (SELECT gram, count(*) AS df FROM g GROUP BY 1),
       |per AS (
       |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |         CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
       |  FROM g JOIN df USING (gram) GROUP BY 1)
       |SELECT d.doc_id,
       |       coalesce(per.n_grams, 0) AS n_grams,
       |       coalesce(per.n_unique, 0) AS n_unique,
       |       CASE WHEN coalesce(per.n_grams, 0) = 0 THEN NULL
       |            ELSE CAST((per.n_unique * 1000) // per.n_grams AS BIGINT) END AS novelty_pm
       |FROM documents d LEFT JOIN per USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- vocab_coverage: per-doc OOV rate vs the corpus top-V vocabulary --
  private val VocabSize = 20

  /** Tokenizer-health signal: build the corpus top-[[VocabSize]] token
    * vocabulary (count desc, token asc — deterministic at the cut), then
    * score every document by how much of it the vocabulary covers:
    * `n_tokens` total occurrences, `n_oov` occurrences outside the
    * vocabulary, and the exact integer permille `oov_pm`. Rising OOV on
    * fresh data is the canonical "retrain the tokenizer / the
    * distribution moved" alarm, and per-doc OOV is a curation filter
    * (docs that are mostly out-of-vocabulary are boilerplate, code, or a
    * language the tokenizer never saw).
    *
    * Scale (100 TB): the vocabulary aggregate is partial-aggregable
    * (token partial counts cross the shuffle, not occurrences) and its
    * top-V cut is one TakeOrdered over ~|vocab| rows; the V-row
    * vocabulary then BROADCASTS into a map-side left join over the token
    * stream, and the per-doc rollup is the only other shuffle. No
    * corpus-sized join key, no pair axis.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame =
    vocabCoverageOn(Tables.documents(spark, dir))

  private[graft] def vocabCoverageOn(docs: DataFrame): DataFrame = {
    // Two deliberate scans (explain-audited): the vocabulary branch and
    // the coverage probe each read the corpus once. Checkpointing the
    // shared token stream was MEASURED WORSE (1.0 → 2.3 s at the 100×
    // probe) — the exploded stream is larger than the source text, and
    // the vocabulary branch prunes to one column anyway, so recomputing
    // the cheap projection beats materializing a bigger intermediate.
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(VocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_pm", expr("(n_oov * 1000) div n_tokens"))
      .orderBy("doc_id")
  }

  val vocabCoverageSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |v AS (
       |  SELECT token FROM (
       |    SELECT token, count(*) AS n FROM tok GROUP BY 1
       |    ORDER BY n DESC, token ASC LIMIT $VocabSize))
       |SELECT tok.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |       CAST((sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1000)
       |            // count(*) AS BIGINT) AS oov_pm
       |FROM tok LEFT JOIN v ON tok.token = v.token
       |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin

  // ---- quality_gate: per-source exact-histogram percentile cutoff -------
  /** Adaptive quality gating: per ingestion source, the EXACT 10th-
    * percentile cutoff of the integer quality score (the same
    * ten-thousandths `qi` as `source_profile`), and how many documents an
    * "drop each source's bottom decile" policy would remove. Per-source
    * adaptive cutoffs are the curation policy that survives heterogeneous
    * sources — a fixed global threshold would gut a low-register source
    * and pass everything from a high-register one.
    *
    * This is the third quantile tier on the board, the one that is exact
    * AND scales: `percentile` buffers every value per group (the
    * `price_quantiles` small-group path), `approx_percentile` sketches
    * (rank error), while here the bounded integer domain (qi ∈ [0,
    * 10000]) makes the EXACT quantile a histogram problem — one
    * partial-aggregable (source, qi) count whose cell space is ≤
    * sources × 10001 REGARDLESS of corpus size, a running-sum window
    * over those bounded cells (cutoff = min qi with 10·cum ≥ n, i.e.
    * cum ≥ ⌈n/10⌉ — percentile_disc semantics in pure integers), and a
    * broadcast join back over the histogram, never the corpus. One
    * corpus-sized pass total (the qi projection, in codegen).
    */
  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    qualityGateOn(Tables.documents(spark, dir))

  private[graft] def qualityGateOn(docs: DataFrame): DataFrame = {
    val stopArr = Stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    // qi spelling pinned to source_profile's (same doubles, same rounding)
    val perDoc = docs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        expr(s"size(filter(toks, t -> array_contains($stopArr, t)))").as("n_stop"))
      .withColumn("qi",
        round((least(col("n_tokens") / lit(100.0), lit(1.0)) * 0.4
          + (col("n_distinct") / col("n_tokens")) * 0.4
          + (lit(1.0) - col("n_stop") / col("n_tokens")) * 0.2) * 10000, 0)
          .cast("long"))
    // localCheckpoint: the bounded-cell histogram has THREE consumers
    // (totals, cutoff window, dropped count) — without truncation each
    // re-runs the corpus-sized qi projection (explain audit: scans=5)
    val hist = perDoc.groupBy(col("source"), col("qi")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val totals = hist.groupBy(col("source")).agg(sum(col("cnt")).as("n_docs"))
    val cut = hist.join(broadcast(totals), "source")
      .withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy("source").orderBy("qi")))
      .filter(col("cum") * 10 >= col("n_docs"))
      .groupBy(col("source"), col("n_docs"))
      .agg(min(col("qi")).as("p10_cut"))
    val dropped = hist
      .join(broadcast(cut.select(col("source"), col("p10_cut"))), "source")
      .filter(col("qi") < col("p10_cut"))
      .groupBy(col("source")).agg(sum(col("cnt")).as("n_dropped"))
    cut.join(dropped, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("p10_cut"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .orderBy("source")
  }

  val qualityGateSql: String = {
    val stopList = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |f AS (
       |  SELECT doc_id, source,
       |         CAST(round((least(len(toks) / 100.0, 1.0) * 0.4
       |           + (len(list_distinct(toks)) / len(toks)) * 0.4
       |           + (1.0 - len(list_filter(toks, t -> list_contains($stopList, t))) / len(toks)) * 0.2) * 10000, 0) AS BIGINT) AS qi
       |  FROM t),
       |h AS (SELECT source, qi, count(*) AS cnt FROM f GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs FROM h GROUP BY 1),
       |c AS (
       |  SELECT h.source, qi, cnt, n_docs,
       |         sum(cnt) OVER (PARTITION BY h.source ORDER BY qi) AS cum
       |  FROM h JOIN tot USING (source)),
       |cut AS (
       |  SELECT source, n_docs, min(qi) AS p10_cut
       |  FROM c WHERE cum * 10 >= n_docs GROUP BY 1, 2),
       |drp AS (
       |  SELECT h.source, CAST(sum(cnt) AS BIGINT) AS n_dropped
       |  FROM h JOIN cut USING (source) WHERE h.qi < cut.p10_cut GROUP BY 1)
       |SELECT source, n_docs, p10_cut, coalesce(n_dropped, 0) AS n_dropped
       |FROM cut LEFT JOIN drp USING (source)
       |ORDER BY source""".stripMargin
  }

  // ---- stratified_sample: exact-k per-stratum uniform sample ------------

  private val StratKeep = 30

  /** Exact-k uniform sample per language stratum — the "fixed quota per
    * source/language" selection step of a mixture pipeline when the
    * contract is a COUNT, not a rate (corpus_mix is the rate version).
    * Rank within a stratum is ascending (hash60(text), doc_id): uniform
    * because the hash is, deterministic and engine-independent because
    * nothing depends on RNG state or row order. Strata smaller than k
    * are kept whole.
    *
    * Scale: the naive exact-k plan is `row_number() OVER (PARTITION BY
    * stratum ORDER BY …) <= k` — which routes EVERY row of a stratum
    * through one reducer's sort, exactly the per-stratum serialization
    * that breaks on a 100 TB corpus with a dominant language. This plan
    * instead rides the bounded mergeable [[graft.functions.TopKByScore]]
    * aggregate (the kNN machinery): each map task carries at most ~2k
    * candidates per stratum and partials merge associatively, so the
    * shuffle is O(strata × k) rows per map task and no global sort
    * exists anywhere — same answer, window-free.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSampleOn(Tables.documents(spark, dir))

  private[graft] def stratifiedSampleOn(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    docs
      .select(col("lang"), col("doc_id"), hash60(col("text")).as("h"))
      // negate: topk_by_score keeps HIGHEST scores, rank wants lowest
      // hashes; 60-bit hashes collide in double space only at ~2^-53 and
      // ties fall back to id asc in both engines
      .groupBy("lang")
      .agg(expr(s"topk_by_score(-CAST(h AS DOUBLE), doc_id, $StratKeep)").as("top"))
      .select(col("lang"), explode(col("top")).as("t"))
      .select(col("lang"), col("t.id").as("doc_id"))
      .orderBy("lang", "doc_id")
  }

  val stratifiedSampleSql: String =
    s"""WITH h AS (
       |  SELECT lang, doc_id, ${hash60Sql("text")} AS h FROM documents),
       |r AS (
       |  SELECT lang, doc_id,
       |         row_number() OVER (
       |           PARTITION BY lang
       |           ORDER BY CAST(h AS DOUBLE) ASC, doc_id ASC) AS rn
       |  FROM h)
       |SELECT lang, doc_id FROM r WHERE rn <= $StratKeep
       |ORDER BY lang, doc_id""".stripMargin

  // ---- len_quantiles: the "how distributed" sketch + its exact audit ----
  private val QuantK = 64
  private val QuantPcts = Seq(25, 50, 90, 99)

  /** Per-language length quantiles, sketched AND exact — the fourth
    * member of the sketch quartet (CMS "how often", Misra-Gries "which
    * are heaviest", KMV "how many distinct", now "how DISTRIBUTED"), the
    * distribution read a corpus-quality dashboard runs per language
    * before setting length gates.
    *
    * Sketch: a bottom-[[QuantK]] uniform sample per language by the
    * content-derived md5 order (hash60(doc_id) — no RNG, replayable,
    * and MERGEABLE by the same union-retrim law as KMV: the bottom-k of
    * a union is the retrimmed union of bottom-ks, so the sample is one
    * bounded `topk_by_score` partial aggregate, ≤ k rows of state per
    * language per task). The p-quantile estimate is the sample's exact
    * rank statistic: value at 1-based rank (k−1)·p/100 + 1 under
    * (n_chars, doc_id) order — rank error O(1/√k), the measured
    * property (`LenQuantilesSpec`), while the VALUES are deterministic,
    * so the estimate itself is oracle-checked bit-for-bit (the sketch
    * quartet's strongest gate: even the approximation replays exactly).
    *
    * Exact audit: the same rank statistic over the full per-language
    * stream — a per-language sort, the calibration-cadence price
    * (`kmv_distinct`'s economics: production reads the sample, the
    * audit runs when re-calibrating k). At 100 TB the audit's
    * per-language window partitions are corpus-sized; the sample side
    * never holds more than k rows per language anywhere.
    */
  def lenQuantiles(spark: SparkSession, dir: String): DataFrame =
    lenQuantilesOn(Tables.documents(spark, dir))

  /** The p-quantile rank statistic per language: value at 1-based rank
    * (n−1)·p/100 + 1 under (n_chars, doc_id) order, one row per
    * (lang, pct) — shared by the exact audit, the sample estimate, and
    * the streamed reader, so streamed ≡ batch is definitional.
    */
  private[graft] def lenRankStat(rows: DataFrame, outCol: String): DataFrame = {
    val pcts = explode(array(QuantPcts.map(p => lit(p)): _*)).as("pct")
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    rows
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      .select(col("lang"), col("n_chars"), col("rn"), col("n"), pcts)
      .filter(col("rn") === expr("((n - 1) * pct) div 100 + 1"))
      .select(col("lang"), col("pct"), col("n_chars").as(outCol))
  }

  /** Per-language bottom-[[QuantK]] sample by the md5 DOUBLE order of
    * doc_id — the quantile sketch's bounded state (`v` = (lang, doc_id,
    * n_chars) rows). Mergeable by union-retrim; the double image is
    * what both engines (and the streamed re-trim) order.
    */
  private[graft] def lenSampleOn(v: DataFrame): DataFrame = {
    graft.GraftExtensions.register(v.sparkSession)
    v.withColumn("h", hash60(col("doc_id").cast("string")))
      .groupBy(col("lang"))
      .agg(expr(s"topk_by_score(cast(-h as double), doc_id, $QuantK)").as("top"))
      .select(col("lang"), explode(expr("transform(top, t -> t.id)")).as("doc_id"))
      .join(v.select(col("doc_id"), col("n_chars")), "doc_id")
  }

  private[graft] def lenQuantilesOn(docs: DataFrame): DataFrame = {
    val v = docs.select(col("lang"), col("doc_id"), col("n_chars"))
    lenRankStat(v, "exact_chars")
      .join(lenRankStat(lenSampleOn(v), "est_chars"), Seq("lang", "pct"))
      .orderBy("lang", "pct")
  }

  val lenQuantilesSql: String = {
    val pctList = QuantPcts.mkString(", ")
    s"""WITH v AS (SELECT lang, doc_id, n_chars FROM documents),
       |pcts AS (SELECT CAST(unnest([$pctList]) AS INT) AS pct),
       |rk AS (
       |  SELECT lang, n_chars,
       |         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY lang) AS n
       |  FROM v),
       |exact AS (
       |  SELECT lang, pct, n_chars AS exact_chars
       |  FROM rk JOIN pcts ON rn = ((n - 1) * pct) // 100 + 1),
       |h AS (
       |  SELECT lang, doc_id, n_chars,
       |         ${hash60Sql("doc_id::VARCHAR")} AS h
       |  FROM v),
       |samp AS (
       |  -- ORDER BY the DOUBLE image of h, matching the Spark side's
       |  -- topk_by_score double scores exactly (h > 2^53 rounds in
       |  -- double; ordering raw BIGINTs here could disagree at the
       |  -- k-th-minimum boundary)
       |  SELECT lang, doc_id, n_chars FROM (
       |    SELECT *, row_number() OVER (PARTITION BY lang
       |                                 ORDER BY CAST(h AS DOUBLE), doc_id) AS srn
       |    FROM h) WHERE srn <= $QuantK),
       |srk AS (
       |  SELECT lang, n_chars,
       |         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY lang) AS n
       |  FROM samp),
       |est AS (
       |  SELECT lang, pct, n_chars AS est_chars
       |  FROM srk JOIN pcts ON rn = ((n - 1) * pct) // 100 + 1)
       |SELECT e.lang, e.pct,
       |       CAST(e.exact_chars AS BIGINT) AS exact_chars,
       |       CAST(s.est_chars AS BIGINT) AS est_chars
       |FROM exact e JOIN est s ON e.lang = s.lang AND e.pct = s.pct
       |ORDER BY e.lang, e.pct""".stripMargin
  }

  // ---- weighted_sample: A-ES weighted reservoir sampling ---------------
  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis A-ES,
    * IPL '06) — the [[stratifiedSampleOn]] twin with inclusion
    * probability ∝ weight: per language, the top-[[WSampleKeep]] docs by
    * key u^(1/w), here in log space (ln(u)/w — same ordering, no pow),
    * with u the content-derived uniform (hash60(text)+1)/2⁶⁰ and w =
    * n_chars. Length-proportional sampling is the mixture primitive a
    * token-budgeted trainer wants: a doc's chance of selection tracks
    * the token mass it would contribute, not its document count — and
    * because u is CONTENT-derived (the corpus_mix law), the sample is
    * replayable on any engine, any partitioning, any retry; an RNG
    * sample is neither replayable nor oracle-checkable.
    *
    * Determinism caveat (the bm25_topk precedent): ln is evaluated in
    * both engines on identical exact inputs ((h+1)/2⁶⁰ is an exact
    * binary fraction) — a rank flip would need two keys within one ulp;
    * exact ties break on doc_id asc identically.
    *
    * Scale: one narrow projection + the bounded `topk_by_score` partial
    * aggregate — k rows per map task per language cross the shuffle,
    * never the corpus (the window-rank oracle is oracle-only).
    */
  private val WSampleKeep = 10

  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSampleOn(Tables.documents(spark, dir))

  private[graft] def weightedSampleOn(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    docs
      .select(col("lang"), col("doc_id"),
        (log((hash60(col("text")) + 1).cast("double") / lit(KmvSpace))
          / col("n_chars")).as("score"))
      .groupBy("lang")
      .agg(expr(s"topk_by_score(score, doc_id, $WSampleKeep)").as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), round(col("col.score"), 6).as("score"))
      .orderBy("lang", "rank")
  }

  val weightedSampleSql: String =
    s"""WITH s AS (
       |  SELECT lang, doc_id,
       |         ln((${hash60Sql("text")} + 1)::DOUBLE / 1152921504606846976.0)
       |           / n_chars AS score
       |  FROM documents),
       |r AS (
       |  SELECT lang, doc_id, score,
       |         row_number() OVER (
       |           PARTITION BY lang
       |           ORDER BY score DESC, doc_id ASC) AS rn
       |  FROM s)
       |SELECT lang, CAST(rn AS INT) AS rank, doc_id, round(score, 6) AS score
       |FROM r WHERE rn <= $WSampleKeep
       |ORDER BY lang, rank""".stripMargin

  // ---- assoc_rules: market-basket association mining over documents -----
  private val AssocVocab = 30

  /** A-priori association-rule mining with documents as baskets and the
    * corpus top-[[AssocVocab]] tokens (by document frequency, count desc
    * / token asc at the cut — the [[vocabCoverage]] determinism rule) as
    * the item domain: for every co-occurring item pair, exact support
    * (baskets containing both), directed confidences and lift — the
    * support/confidence/lift triple of Agrawal-Srikant VLDB '94, in pure
    * integers (ppm via integer division) so both engines agree
    * bit-for-bit.
    *
    * The a-priori structure IS the scale story: the candidate axis is
    * bounded by the broadcast V-item vocabulary BEFORE any pair forms —
    * per-basket item sets are <= V, the basket-keyed self-join emits
    * <= V(V-1)/2 pairs per basket (never corpus x corpus), and the rule
    * table is <= V(V-1)/2 cells at ANY corpus size. df/support counts are
    * partial-aggregable; the corpus total joins in as a 1-row broadcast.
    * Integer range: confidences stay in Long (support*10^6 safe to
    * ~9*10^12 baskets); lift runs in DECIMAL(38,0) / HUGEINT with an
    * exact floor-division spelling (see [[assocMeasures]]), safe to
    * ~3*10^15 baskets — no per-run shard caveat at any real scale.
    */
  def assocRules(spark: SparkSession, dir: String): DataFrame =
    assocRulesOn(Tables.documents(spark, dir))

  /** presence stream: one row per (doc, distinct token) */
  private[graft] def assocPresence(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("token"))

  /** the frozen item domain: top-[[AssocVocab]] tokens by document
    * frequency (count desc, token asc at the cut)
    */
  private[graft] def assocVocab(docs: DataFrame): DataFrame =
    assocPresence(docs).groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token").asc)
      .limit(AssocVocab)
      .select(col("token"))

  /** per-basket pair counts over a given vocabulary — the one additive
    * partial the streaming tier lands per batch
    */
  private[graft] def assocPairCounts(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val items = assocPresence(docs).join(broadcast(vocab.select("token")), Seq("token"))
    items.as("a")
      .join(items.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.token") < col("b.token"))
      .groupBy(col("a.token").as("token_a"), col("b.token").as("token_b"))
      .agg(count(lit(1)).as("support"))
  }

  /** in-vocabulary document frequencies — the second additive partial */
  private[graft] def assocDf(docs: DataFrame, vocab: DataFrame): DataFrame =
    assocPresence(docs).join(broadcast(vocab.select("token")), Seq("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))

  /** measures from the three additive frames — support/confidence/lift
    * in exact integer ppm; both the batch entry and the streaming
    * reader end here, so streamed ≡ batch is definitional
    */
  private[graft] def assocMeasures(pairCounts: DataFrame, df: DataFrame,
      nDocs: DataFrame): DataFrame =
    pairCounts
      .join(broadcast(df.select(col("token").as("token_a"), col("df").as("df_a"))),
        Seq("token_a"))
      .join(broadcast(df.select(col("token").as("token_b"), col("df").as("df_b"))),
        Seq("token_b"))
      .crossJoin(broadcast(nDocs))
      .select(col("token_a"), col("token_b"), col("support"),
        col("df_a"), col("df_b"),
        expr("(support * 1000000L) div df_a").as("conf_ab_ppm"),
        expr("(support * 1000000L) div df_b").as("conf_ba_ppm"),
        // lift's numerator support·n·10⁶ ≤ n²·10⁶ leaves Long at ~3M
        // baskets — so it runs in DECIMAL(38,0) (the oracle mirrors with
        // HUGEINT), with floor division spelled exactly for non-negative
        // operands as (S - S mod D) / D: the subtraction makes S exactly
        // divisible, so the decimal divide is exact whatever scale Spark
        // assigns the quotient. Two ceilings: the decimal INTERMEDIATE is
        // exact to ~3·10¹⁵ baskets (decimal38 domain), but the BIGINT
        // output column caps sooner — a degenerate singleton pair
        // (support=df_a=df_b=1) has lift_ppm = n_docs·10⁶, overflowing
        // Long past ~9.2·10¹² baskets (Spark would yield NULL, DuckDB's
        // HUGEINT→BIGINT cast errors). Exact-output guarantee: ~9·10¹²
        // worst-case baskets per run; shard beyond that or widen the
        // output to decimal.
        expr("""cast((cast(support as decimal(38,0)) * n_docs * 1000000
               |  - (cast(support as decimal(38,0)) * n_docs * 1000000)
               |      % (cast(df_a as decimal(38,0)) * df_b))
               | / (cast(df_a as decimal(38,0)) * df_b) as bigint)""".stripMargin)
          .as("lift_ppm"))
      .orderBy(col("support").desc, col("token_a"), col("token_b"))

  private[graft] def assocRulesOn(docs: DataFrame): DataFrame = {
    val vocab = assocVocab(docs)
    assocMeasures(assocPairCounts(docs, vocab), assocDf(docs, vocab),
      docs.agg(count(lit(1)).as("n_docs")))
  }

  val assocRulesSql: String =
    s"""WITH pres AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
       |  FROM documents),
       |v AS (
       |  SELECT token, df FROM (
       |    SELECT token, count(*) AS df FROM pres GROUP BY 1
       |    ORDER BY df DESC, token ASC LIMIT $AssocVocab)),
       |it AS (
       |  SELECT pres.doc_id, pres.token, v.df
       |  FROM pres JOIN v ON pres.token = v.token),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |p AS (
       |  SELECT a.token AS token_a, b.token AS token_b,
       |         a.df AS df_a, b.df AS df_b, count(*) AS support
       |  FROM it a JOIN it b
       |    ON a.doc_id = b.doc_id AND a.token < b.token
       |  GROUP BY 1, 2, 3, 4)
       |SELECT token_a, token_b,
       |       CAST(support AS BIGINT) AS support,
       |       CAST(df_a AS BIGINT) AS df_a, CAST(df_b AS BIGINT) AS df_b,
       |       CAST((support * 1000000) // df_a AS BIGINT) AS conf_ab_ppm,
       |       CAST((support * 1000000) // df_b AS BIGINT) AS conf_ba_ppm,
       |       CAST((support::HUGEINT * n_docs * 1000000)
       |            // (df_a::HUGEINT * df_b) AS BIGINT) AS lift_ppm
       |FROM p, n
       |ORDER BY support DESC, token_a, token_b""".stripMargin

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "text_stats"      -> (textStats _, textStatsSql),
    "pii_scrub"       -> (piiScrub _, piiScrubSql),
    "stratified_sample" -> (stratifiedSample _, stratifiedSampleSql),
    "weighted_sample" -> (weightedSample _, weightedSampleSql),
    "corpus_shards"   -> (corpusShards _, corpusShardsSql),
    "lm_quality"      -> (lmQuality _, lmQualitySql),
    "span_dedup_rate" -> (spanDedupRate _, spanDedupRateSql),
    "span_removal"    -> (spanRemoval _, spanRemovalSql),
    "span_removal_clean" -> (spanRemovalClean _, spanRemovalCleanSql),
    "passage_dedup"   -> (passageDedup _, passageDedupSql),
    "line_dedup"      -> (lineDedup _, lineDedupSql),
    "repetition_trim" -> (repetitionTrim _, repetitionTrimSql),
    "gram_novelty"    -> (gramNovelty _, gramNoveltySql),
    "vocab_coverage"  -> (vocabCoverage _, vocabCoverageSql),
    "quality_gate"    -> (qualityGate _, qualityGateSql),
    "text_repetition" -> (textRepetition _, textRepetitionSql),
    "doc_chunks"      -> (docChunks _, docChunksSql),
    "corpus_pack"     -> (corpusPack _, corpusPackSql),
    "doc_winnow"      -> (docWinnow _, docWinnowSql),
    "lang_id"         -> (langId _, langIdSql),
    "token_topk"      -> (tokenTopk _, tokenTopkSql),
    "heavy_hitters"   -> (heavyHitters _, heavyHittersSql),
    "cms_sketch"      -> (cmsSketch _, cmsSketchSql),
    "kmv_distinct"    -> (kmvDistinct _, kmvDistinctSql),
    "len_quantiles"   -> (lenQuantiles _, lenQuantilesSql),
    "kmv_overlap"     -> (kmvOverlap _, kmvOverlapSql),
    "doc_fingerprint" -> (docFingerprint _, docFingerprintSql),
    "corpus_curation" -> (corpusCuration _, corpusCurationSql),
    "decontam"        -> (decontam _, decontamSql),
    "corpus_mix"      -> (corpusMix _, corpusMixSql),
    "source_rebalance" -> (sourceRebalance _, sourceRebalanceSql),
    "tfidf_topk"      -> (tfidfTopk _, tfidfTopkSql),
    "tfidf_topk_log"  -> (tfidfTopkLog _, tfidfTopkLogSql),
    "source_profile"  -> (sourceProfile _, sourceProfileSql),
    "curation_audit"  -> (curationAudit _, curationAuditSql),
    "assoc_rules"     -> (assocRules _, assocRulesSql),
  )
}
