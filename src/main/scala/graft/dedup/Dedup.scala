package graft.dedup

import graft.Tables
import graft.sources.StoreCatalog
import graft.functions.TextFeatures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication — exact, MinHash-LSH, and SimHash — over the
  * `documents` table. The scale-first layer of a training-data pipeline
  * (north-star extensions, SURVEY.md §7.5).
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash aggregate on a 128-bit fingerprint — the
  *    shuffle carries (fp, min_id, count), never document text;
  *  - `dedup_jaccard` is the exact ground truth via an inverted shingle
  *    index with AllPairs prefix filtering (rarest-shingle prefixes bound
  *    the candidate join with exact recall — see dedupJaccardOn); the LSH
  *    variant below remains the sub-quadratic path we recommend at 100 TB;
  *  - `dedup_minhash` never compares all pairs: 128 minhashes → 32 bands of
  *    4 → candidates = pairs sharing a band bucket (equi-join on the band
  *    hash), then exact-Jaccard verification on candidates only. The
  *    banding miss probability for a true pair AT the 0.8 threshold is
  *    (1 − 0.8⁴)³² ≈ 4.8·10⁻⁸ (higher-similarity pairs miss far less), so
  *    the oracle equality to the exact query is probabilistic, not
  *    absolute — at ≈5·10⁻⁸ per true pair it holds on any realistic run;
  *  - `dedup_simhash` is fully deterministic-recall: 96-bit simhash (two
  *    48-bit words) split into 12 8-bit blocks; Hamming ≤ 10 ⇒ at least 2
  *    blocks equal (pigeonhole), so the block-PAIR equi-join provably
  *    yields every pair the brute-force oracle finds. Block-pair keys
  *    span 2¹⁶ values per combo, so random-signature crowding is 64×
  *    sparser than the previous 60-bit/5-bit scheme at equal N; the
  *    Hamming budget stays ABSOLUTE as corpora grow (stricter relative
  *    similarity), which is what keeps the candidate volume controlled —
  *    the crowding trade-off PLANS.md documents.
  */
object Dedup {

  // The threshold's exact rational form is the source of truth: the
  // AllPairs prefix/size filters run in integer math on ThreshNum/ThreshDen
  // (doubles can undershoot the boundary), and deriving the double FROM the
  // ratio means changing the threshold cannot silently desynchronize the
  // filters from the verify predicate and lose recall.
  private val ThreshNum = 4
  private val ThreshDen = 5
  private val JaccardThreshold: Double = ThreshNum.toDouble / ThreshDen
  private val NumHashes        = 128
  private val NumBands         = 32
  private val RowsPerBand      = 4
  private val HammingMax       = 10
  private val SimhashBlocks    = 12 // 8 bits each over the 96-bit simhash

  /** doc_id → distinct shingle set (the shared feature extraction).
    * The input is repartitioned to the session's parallelism first: the
    * documents table arrives as few parquet files at test scale, and the
    * per-row feature folds downstream (minhash, simhash) must run on all
    * cores, not one input split. At real scale the table already has
    * many splits and this is a cheap round-robin rebalance.
    */
  def shingleSets(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), shingles("toks").as("sh"))

  /** Same sets with each shingle collapsed to its xxhash64, SORTED
    * ascending — set cardinalities (and so Jaccard) are preserved modulo
    * 64-bit collisions (~n²/2⁶⁵, negligible), while joins and
    * intersections move 8-byte longs instead of ~25-byte strings. The
    * sort is O(n log n) once per DOCUMENT and buys the per-PAIR verify a
    * two-pointer merge ([[graft.functions.JaccardSorted]]) instead of a
    * per-pair hash-set intersection. All candidate generation and
    * verification run on this compact form.
    */
  private[graft] def hashedSets(sets: DataFrame): DataFrame =
    // array_distinct: the sorted-set contract ([[graft.functions.OverlapSorted]]
    // / [[graft.functions.JaccardSorted]] assume element-distinct input) must
    // hold for CALLER-supplied raw sets too, not just the upstream shingles()
    // path that already distincts — and it absorbs the (theoretical) xxhash64
    // collision that would otherwise duplicate a hashed element. No-op cost
    // on already-distinct sets.
    sets.select(col("doc_id"),
        array_sort(array_distinct(transform(col("sh"), s => xxhash64(s)))).as("sh"))
      // Materialize once (lazily, on first action): three plan branches
      // consume these sets (inverted index / both verify sides) and AQE's
      // broadcast conversion would otherwise re-run the shingle+hash
      // pipeline once per branch. Same pattern an iterative job uses for a
      // reused intermediate at cluster scale.
      .localCheckpoint(eager = false)

  private def shingleSets(spark: SparkSession, dir: String): DataFrame =
    shingleSets(Tables.documents(spark, dir))

  /** doc_id → distinct character 13-gram set — the char-level n-gram
    * flavor (robust to tokenization/whitespace differences; 13 is the
    * Gopher/MassiveText-style gram length). The length matters for SCALE,
    * not just recall: short char grams (5) are shared by most documents,
    * so no prefix can be rare and the AllPairs filter degenerates toward
    * all-pairs (measured 64 s at sf0.1); 13-grams are selective enough
    * that candidates stay near-linear. Same downstream machinery as the
    * word shingles: every candidate/verify path takes (doc_id, sh) sets.
    */
  private val CharGram = 13

  def charShingleSets(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        // hash each gram as it is cut: the distinct and every downstream
        // fold run on 8-byte longs instead of 300 13-char strings per doc
        // (set cardinality — and so Jaccard — preserved modulo 64-bit
        // collisions, the same argument as hashedSets)
        expr(s"""array_distinct(transform(
                |  sequence(1, length(text) - ${CharGram - 1}),
                |  i -> xxhash64(substring(text, i, $CharGram))))""".stripMargin).as("sh"))

  private def charShingleSets(spark: SparkSession, dir: String): DataFrame =
    charShingleSets(Tables.documents(spark, dir))

  /** Exact Jaccard verification of candidate (doc_id_1 < doc_id_2) pairs:
    * join the full shingle sets back and keep pairs ≥ threshold. Candidates
    * are a small set, so both joins broadcast at test scale and shuffle on
    * doc_id at cluster scale. The per-pair similarity is the native
    * codegen'd [[graft.functions.JaccardSorted]] merge (inputs sorted once
    * per doc in [[hashedSets]]) — bit-identical to the HOF
    * `size(array_intersect(...))` form it replaced (JaccardSortedSpec),
    * without the per-pair hash set + intersection array.
    */
  private[graft] def verifyJaccard(candidates: DataFrame, sets: DataFrame): DataFrame = {
    graft.GraftExtensions.register(candidates.sparkSession)
    val s1 = sets.select(col("doc_id").as("doc_id_1"), col("sh").as("sh1"))
    val s2 = sets.select(col("doc_id").as("doc_id_2"), col("sh").as("sh2"))
    candidates
      .join(s1, "doc_id_1")
      .join(s2, "doc_id_2")
      // ComputeOnce: without the barrier the threshold filter collapses
      // into the join condition and the two-pointer merge runs 2x per
      // candidate pair (once in the condition, once in the output)
      .withColumn("jaccard",
        graft.functions.ComputeOnce.once(expr("jaccard_sorted(sh1, sh2)")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_id_1"), col("doc_id_2"), col("jaccard"))
  }

  /** Shared oracle for the two Jaccard-output queries: exact n-gram Jaccard
    * over all pairs sharing ≥1 shingle (inverted-index SQL).
    *
    * `docsWhere` (e.g. `" WHERE doc_id % 9 <> 4"`, empty for the full
    * corpus) restricts the docs CTE — the survivor-filter hook the
    * deletion twin composes through, instead of textual surgery on the
    * finished SQL (r14 ADVICE: a `.replace` that silently no-ops when
    * the base text drifts reverts the oracle to the no-deletion query).
    */
  private[graft] def jaccardOracleSqlOver(docsWhere: String): String =
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents$docsWhere),
       |sh AS (
       |  SELECT doc_id, unnest(${shinglesSql("toks")}) AS shingle FROM docs),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_id_1, doc_id_2, c::DOUBLE / (s1.n + s2.n - c) AS jaccard
       |FROM common
       |JOIN sizes s1 ON doc_id_1 = s1.doc_id
       |JOIN sizes s2 ON doc_id_2 = s2.doc_id
       |WHERE c::DOUBLE / (s1.n + s2.n - c) >= $JaccardThreshold""".stripMargin

  val jaccardOracleSql: String = jaccardOracleSqlOver("")

  /** Char-13-gram twin of [[jaccardOracleSql]]. */
  val jaccardCharOracleSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(list_transform(
       |           generate_series(1, length(text) - ${CharGram - 1}),
       |           i -> substr(text, i, $CharGram)))) AS shingle
       |  FROM documents),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_id_1, doc_id_2, c::DOUBLE / (s1.n + s2.n - c) AS jaccard
       |FROM common
       |JOIN sizes s1 ON doc_id_1 = s1.doc_id
       |JOIN sizes s2 ON doc_id_2 = s2.doc_id
       |WHERE c::DOUBLE / (s1.n + s2.n - c) >= $JaccardThreshold""".stripMargin

  // ---- dedup_exact: hash-groupBy on the content fingerprint ------------
  def dedupExactOn(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("dup_count"))

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    dedupExactOn(Tables.documents(spark, dir))

  val dedupExactSql: String =
    """SELECT md5(text) AS fp, min(doc_id) AS survivor_id, count(*) AS dup_count
      |FROM documents GROUP BY md5(text)""".stripMargin

  // ---- dedup_jaccard: exact n-gram Jaccard near-dup pairs --------------
  def dedupJaccard(spark: SparkSession, dir: String): DataFrame =
    dedupJaccardOn(shingleSets(spark, dir))

  /** Candidate generation uses AllPairs prefix filtering: order shingles by
    * ascending document frequency (rarest first — a frequent stop-shingle
    * shared by thousands of docs must never generate pairs), keep only the
    * first |d| − ⌈t·|d|⌉ + 1 shingles per document, and equi-join on
    * those. Any pair with Jaccard ≥ t provably shares a prefix shingle
    * under ANY consistent global order, so recall is exact. Prefix length
    * uses exact integer math for t = 4/5 (doubles can undershoot the
    * ceiling by one and silently lose recall).
    *
    * The hashed sets are repartitioned by doc_id first: every consumer
    * (inverted index, both verify sides) shares that one exchange, so
    * Spark's ReuseExchange computes the shingle+hash pipeline once instead
    * of once per branch.
    */
  def dedupJaccardOn(rawSets: DataFrame): DataFrame = {
    val sets = hashedSets(rawSets).repartition(col("doc_id"))
    verifyJaccard(prefixCandidates(sets), sets)
  }

  /** AllPairs prefix-filter candidate pairs over hashed sets (see
    * [[dedupJaccardOn]] for the recall argument). Package-visible so the
    * scale probe can measure candidate volume separately from verify
    * traffic.
    *
    * Besides the prefix filter, candidates pass the AllPairs SIZE filter
    * (Bayardo/Ma/Srikant, WWW'07): J(A,B) ≥ t ⇒ J ≤ min(|A|,|B|)/max(|A|,|B|),
    * so any qualifying pair has t·|B| ≤ |A| and t·|A| ≤ |B|. Checked in
    * exact integer math for t = 4/5 on the 8-byte join rows BEFORE the
    * distinct and the array-carrying verify join — recall stays exact
    * while the verify shuffle (the byte-dominant stage: each surviving
    * pair drags two full shingle arrays) shrinks by the corpus'
    * length-spread factor.
    */
  private[graft] def prefixCandidates(sets: DataFrame,
      num: Int = ThreshNum, den: Int = ThreshDen): DataFrame = {
    val inverted = sets.select(
      col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("shingle"))
    val freq = inverted.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("shingle").asc)
    // ceil(n·t) in integer math: floor((n·num + den − 1) / den)
    val prefixLen =
      col("n") - floor((col("n") * num + (den - 1)) / den) + 1
    val prefix = inverted.join(freq, "shingle")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= prefixLen)
      .select(col("doc_id"), col("shingle"), col("n"))
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id")
          && col("a.n") * num <= col("b.n") * den
          && col("b.n") * num <= col("a.n") * den)
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .distinct()
  }

  /** [[prefixCandidates]] straight off raw (un-hashed) shingle sets —
    * probe/diagnostic entry.
    */
  private[graft] def prefixCandidatesOn(rawSets: DataFrame): DataFrame =
    prefixCandidates(hashedSets(rawSets).repartition(col("doc_id")))

  // ---- dedup_jaccard_char: the char-n-gram flavor, same machinery ------
  def dedupJaccardChar(spark: SparkSession, dir: String): DataFrame =
    dedupJaccardOn(charShingleSets(spark, dir))

  // ---- dedup_cosine: exact weighted-cosine near-dup pairs ---------------
  /** Exact all-pairs WEIGHTED cosine over shingle-frequency count
    * vectors: every pair with cos(A,B) = Σ aᵢbᵢ / (‖A‖‖B‖) ≥
    * [[CosNum]]/[[CosDen]], where aᵢ counts occurrences of word 3-gram i
    * (the SAME shingle space as `dedup_jaccard`, WITHOUT the distinct).
    * The weighted member of the lexical family — Jaccard and containment
    * see only the shingle SET, so a page that repeats one passage 50×
    * and a page containing it once look identical to them; count-
    * weighted cosine distinguishes emphasis/repetition while staying
    * invariant to self-concatenation (which scales every count equally).
    * Unigram tf vectors would be the textbook formulation, but unigram
    * vocabulary SATURATES (every doc shares the stop terms, posting
    * lists go linear in N and candidates all-pairs — measured: 111 s at
    * the 1× probe before this was reworked); the shingle space is the
    * same fix Jaccard uses — df stays small, the index stays selective.
    *
    * Candidate generation is the L2 suffix-mass prefix filter (the bound
    * behind Bayardo-Ma-Srikant's all-pairs similarity search, WWW'07):
    * under any canonical global shingle order, if B first shares a
    * shingle with A at A's position j, then by Cauchy-Schwarz cos(A,B) ≤
    * √(Σ_{i≥j} aᵢ²)/‖A‖ — so positions whose tail squared mass falls
    * below t²·‖A‖² can never originate a qualifying pair and are not
    * indexed. At t = 9/10 the indexed prefix carries only the first 19%
    * of each document's squared mass. The filter runs entirely in
    * integer arithmetic (suffix_sq·den² ≥ na2·num² — doubles could
    * undershoot the boundary and silently lose recall, the
    * [[ThreshNum]] lesson); recall is EXACT, so the naive-quadratic
    * oracle needs no knowledge of the filter. Verification is the
    * standard SSJoin shape: candidate pairs re-join the posting lists
    * and the dot product partial-aggregates on the pair key.
    *
    * Scale (100 TB): one (doc, shingle) count aggregate; the df/order
    * table joins once; prefix windows are PER-DOC (bounded by document
    * length); candidates join prefix postings × full postings on the
    * 8-byte shingle hash — never all pairs; the verify stream is
    * candidate × shared-shingle sized with a partial-aggregable integer
    * sum. The residual hazard is boilerplate shingles (the candidate
    * join's skew axis) — the same trade the Jaccard AllPairs documents.
    */
  private val CosNum = 9
  private val CosDen = 10

  def dedupCosine(spark: SparkSession, dir: String): DataFrame =
    dedupCosineOn(Tables.documents(spark, dir))

  /** (doc_id, th, c) shingle-count postings off a documents frame.
    * localCheckpointed: the posting frame has up to six consumers across
    * candidate generation and verify (df table, prefix window, probe
    * side, pack) — without truncation each re-runs the corpus scan +
    * shingle explode + count (explain audit: scans=6, reused=0).
    */
  private def cosinePostings(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // sub-3-token guard (the docGrams pattern): Spark's sequence(1, -1)
      // DESCENDS through 0 and element_at(toks, 0) throws, while DuckDB's
      // generate_series(1, -1) is simply empty — the IF makes both
      // engines emit zero terms for docs too short to shingle
      .select(col("doc_id"), explode(expr(
        """IF(size(toks) < 3, array(),
          |  transform(sequence(1, size(toks) - 2),
          |    i -> concat(element_at(toks, i), ' ',
          |                element_at(toks, i + 1), ' ',
          |                element_at(toks, i + 2))))""".stripMargin)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), xxhash64(col("term")).as("th"), col("c"))
      .repartition(col("doc_id"))
      .localCheckpoint(eager = false)

  /** Prefix-filtered candidate pairs (probe/diagnostic entry — prices
    * the L2 suffix-mass filter's pruning against the all-pairs count).
    */
  private[graft] def cosineCandidatesOn(docs: DataFrame): DataFrame = {
    val tc = cosinePostings(docs)
    cosineCandidates(tc, tc.groupBy(col("doc_id")).agg(sum(col("c") * col("c")).as("na2")))
  }

  private def cosineCandidates(tc: DataFrame, n2: DataFrame): DataFrame = {
    val dfT = tc.groupBy(col("th")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("th").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prefix = tc.join(dfT, "th")
      .join(n2, "doc_id")
      .withColumn("suffix_sq", sum(col("c") * col("c")).over(w))
      .filter(col("suffix_sq") * lit(CosDen * CosDen) >= col("na2") * lit(CosNum * CosNum))
      .select(col("doc_id").as("id1"), col("th"))
    prefix
      .join(tc.select(col("doc_id").as("id2"), col("th")), "th")
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  private[graft] def dedupCosineOn(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    val tc = cosinePostings(docs)
    // per-doc packed postings: sorted parallel (keys, counts) arrays +
    // squared norm, built once per DOCUMENT so the per-PAIR verify is a
    // single native two-pointer loop (`dot_sorted`) instead of a posting
    // re-join + pair-keyed aggregate shuffle — the same amortization
    // verifyJaccard gets from jaccard_sorted
    val packed = tc.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("th"), col("c")))).as("p"))
      .select(col("doc_id"),
        expr("transform(p, x -> x.th)").as("ks"),
        expr("transform(p, x -> x.c)").as("cs"),
        expr("aggregate(p, cast(0 as bigint), (s, x) -> s + x.c * x.c)").as("na2"))
      .localCheckpoint(eager = false) // three consumers: n2 + both verify sides
    val cand = cosineCandidates(tc, packed.select(col("doc_id"), col("na2")))
    cand
      .join(packed.select(col("doc_id").as("id1"), col("ks").as("ks1"),
        col("cs").as("cs1"), col("na2")), "id1")
      .join(packed.select(col("doc_id").as("id2"), col("ks").as("ks2"),
        col("cs").as("cs2"), col("na2").as("nb2")), "id2")
      // ComputeOnce: dot appears squared in the integer predicate and
      // once in the output ratio — un-barriered, the native loop ran 3x
      // per candidate pair (r19 plan audit)
      .withColumn("dot",
        graft.functions.ComputeOnce.once(expr("dot_sorted(ks1, cs1, ks2, cs2)")))
      // Exactness bound: the integer predicate needs dot²·CosDen² and
      // na2·nb2·CosNum² < 2⁶³, i.e. per-doc squared norms na2 = Σc² up
      // to ~3.3e8 (a doc repeating one 3-gram ~18k times). Past that,
      // Spark wraps silently while DuckDB raises on BIGINT overflow —
      // production guards pathological repeaters upstream (repetition
      // trim) or swaps the predicate to decimal(38,0) at ~2× verify
      // cost; the corpus here is ~5 orders of magnitude below the bound.
      .filter(col("dot") * col("dot") * lit(CosDen * CosDen)
        >= col("na2") * col("nb2") * lit(CosNum * CosNum))
      .select(col("id1").as("doc_id_1"), col("id2").as("doc_id_2"),
        (col("dot") / sqrt((col("na2") * col("nb2")).cast("double"))).as("cosine"))
      .orderBy("doc_id_1", "doc_id_2")
  }

  val dedupCosineSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(1, len(toks) - 2),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS term
       |  FROM t),
       |tc AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
       |n2 AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM tc GROUP BY 1),
       |p AS (
       |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       |         CAST(sum(a.c * b.c) AS BIGINT) AS dot
       |  FROM tc a JOIN tc b ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_id_1, doc_id_2,
       |       dot / sqrt(CAST(x.n2 * y.n2 AS DOUBLE)) AS cosine
       |FROM p JOIN n2 x ON doc_id_1 = x.doc_id JOIN n2 y ON doc_id_2 = y.doc_id
       |WHERE dot * dot * ${CosDen * CosDen} >= ${CosNum * CosNum} * x.n2 * y.n2
       |ORDER BY doc_id_1, doc_id_2""".stripMargin

  // ---- dedup_containment: asymmetric shingle containment ---------------
  /** Sub-document duplication: pairs where the SMALLER document's shingle
    * set is ≥ t contained in the larger's — `C(A→B) = |A∩B| / |A|` — the
    * quote/excerpt/boilerplate-wrapper detector Jaccard structurally
    * misses (a page embedding a full short doc has J ≈ |A|/|B| ≈ 0 but
    * C(A→B) = 1). Reported direction is smaller-into-larger only (ties
    * by id), the quote-detection semantic.
    *
    * Candidates use the OVERLAP form of the prefix filter (Chaudhuri/
    * Ganti/Kaushik): C(A→B) ≥ t ⇒ |A∩B| ≥ ⌈t·n_A⌉, and A's suffix under
    * any canonical order holds < t·n_A elements, so at least one shared
    * shingle sits in A's first `n_A − ⌈t·n_A⌉ + 1` positions. Unlike the
    * Jaccard AllPairs join there is NO size filter (a 10-token quote
    * inside a 10k-token page qualifies — that asymmetry is the point),
    * and the probe side is the FULL inverted index, not prefix×prefix;
    * df-ascending prefix order keeps the joined postings the corpus'
    * rarest, so candidate volume stays rare-posting-bounded. Verify is
    * the native [[graft.functions.OverlapSorted]] two-pointer count with
    * the INTEGER threshold `c·den ≥ n_A·num` — no float in the filter;
    * the reported containment is the one double division both engines
    * evaluate identically.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    dedupContainmentOn(shingleSets(spark, dir))

  def dedupContainmentOn(rawSets: DataFrame): DataFrame = {
    graft.GraftExtensions.register(rawSets.sparkSession)
    val sets = hashedSets(rawSets).repartition(col("doc_id"))
    val inverted = sets.select(
      col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("shingle"))
    val freq = inverted.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("shingle").asc)
    val prefixLen =
      col("n") - floor((col("n") * ThreshNum + (ThreshDen - 1)) / ThreshDen) + 1
    val prefix = inverted.join(freq, "shingle")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= prefixLen)
      .select(col("doc_id"), col("shingle"), col("n"))
    val cands = prefix.as("a")
      .join(inverted.as("b"),
        col("a.shingle") === col("b.shingle")
          && (col("a.n") < col("b.n")
            || (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))))
      .select(col("a.doc_id").as("doc_in"), col("b.doc_id").as("doc_out"))
      .distinct()
    val s1 = sets.select(col("doc_id").as("doc_in"), col("sh").as("sh1"))
    val s2 = sets.select(col("doc_id").as("doc_out"), col("sh").as("sh2"))
    cands
      .join(s1, "doc_in")
      .join(s2, "doc_out")
      // ComputeOnce: the barrier keeps the two-pointer overlap count at
      // one evaluation per pair (predicate + output ratio)
      .withColumn("c",
        graft.functions.ComputeOnce.once(expr("overlap_sorted(sh1, sh2)")))
      .filter(col("c") * ThreshDen >= size(col("sh1")).cast("long") * ThreshNum)
      .select(col("doc_in"), col("doc_out"),
        (col("c").cast("double") / size(col("sh1"))).as("containment"))
  }

  val containmentOracleSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(${shinglesSql("toks")}) AS shingle FROM docs),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_in, b.doc_id AS doc_out, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_in, doc_out, c::DOUBLE / s1.n AS containment
       |FROM common
       |JOIN sizes s1 ON doc_in = s1.doc_id
       |JOIN sizes s2 ON doc_out = s2.doc_id
       |WHERE (s1.n < s2.n OR (s1.n = s2.n AND doc_in < doc_out))
       |  AND c * $ThreshDen >= s1.n * $ThreshNum""".stripMargin

  // ---- dedup_minhash: MinHash + LSH banding, exact verification --------
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    dedupMinhashOn(shingleSets(spark, dir))

  def dedupMinhashOn(rawSets: DataFrame): DataFrame = {
    val sets = hashedSets(rawSets).repartition(col("doc_id"))
    // materialize the band index once (r19 plan audit): the self-join's
    // build side is a BroadcastExchange, so exchange reuse cannot fire
    // and BOTH sides re-ran the 128-permutation minhash_sig fold per
    // document; the checkpointed index is 32 (doc, band, hash) rows/doc
    val banded = bandIndex(sets).localCheckpoint(eager = false)
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .distinct()
    verifyJaccard(candidates, sets)
  }

  // ---- dedup_components: near-dup clusters + canonical selection -------

  private val MaxCcIters = 50

  /** Connected components over the verified near-dup pair graph — the
    * stage every dedup family needs AFTER pair generation: a pair list
    * doesn't say which docs to keep. A~B and B~C must collapse to ONE
    * kept document even when A~C was never emitted as a pair (chained
    * near-dups are routine: successive crawl snapshots drift just under
    * the threshold pairwise). Output is one row per document that
    * appears in any pair: its component id (= the minimum doc_id in its
    * component — deterministic, engine-independent) and whether it is
    * the canonical survivor (`doc_id == component_id`); the keep-list a
    * pipeline applies is "all unpaired docs + the canonical row per
    * component".
    *
    * Pairs come from the normative MinHash-LSH path ([[dedupMinhash]]);
    * components are computed by iterative min-label propagation: each
    * round every vertex takes the min of its own and its neighbors'
    * labels (one equi-join + one min-aggregate per round — both
    * partial-aggregable, key-partitioned shuffles), converging in
    * O(max component diameter) rounds. Near-dup clusters are shallow in
    * practice (dup chains, not long paths), so rounds stay single-digit;
    * for adversarial diameters the same join shape extends to the
    * alternating large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) with
    * O(log²·) rounds — the per-round plan is identical, so the swap is
    * local. The driver-side loop reads ONE scalar per round (the changed
    * count — control plane, same budget as IncrementalBars' watermark
    * reads); all data stays distributed.
    */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    componentsOn(dedupMinhash(spark, dir))

  /** Min-label propagation over a (doc_id_1, doc_id_2) pair frame.
    * Each round eagerly localCheckpoints the new label frame: the
    * checkpoint TRUNCATES LINEAGE, so the per-round plan stays
    * constant-size (without it the label frame's plan doubles every
    * round — the classic iterative-algorithm blowup where round 20
    * spends more time in the optimizer than in execution). Because the
    * lineage is truncated, the previous round's blocks are provably
    * unreferenced and are released immediately (snapshot-diff of
    * getPersistentRDDs, the CorpusIngest pattern); the edge list stays
    * persisted across rounds. Standard localCheckpoint caveat applies:
    * consume the result before releasing the session's blocks
    * ([[graft.Maintenance.releaseCachedBlocks]]) — Verify/Bench
    * materialize per query, so the contract holds.
    */
  private[graft] def componentsOn(pairs: DataFrame): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // Materialize the pair derivation ONCE before the symmetrize union
    // (r19 plan audit): both union branches are full physical subtrees,
    // so an in-plan pair derivation (band self-join, fuzzy join, live
    // delta probe) executed TWICE when `edges` first materialized —
    // measured as doubled minhash_sig/levenshtein nodes in every
    // in-plan components consumer's plan. Pair graphs are sparse, so
    // the checkpointed rows are edge-sized.
    val p0 = pairs.localCheckpoint(eager = false)
    val edges = p0
      .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
      .union(p0.select(col("doc_id_2").as("src"), col("doc_id_1").as("dst")))
      .persist()
    var before = sc.getPersistentRDDs.keySet
    var labels = edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label"))
      .localCheckpoint()
    var prevRound = sc.getPersistentRDDs.keySet -- before
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < MaxCcIters) {
      val nbrMin = edges.join(labels, col("dst") === col("v"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
      before = sc.getPersistentRDDs.keySet
      val next = labels.join(nbrMin, col("v") === col("src"), "left")
        .select(col("v"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"),
          col("label").as("prev"))
        .localCheckpoint()
      val thisRound = sc.getPersistentRDDs.keySet -- before
      changed = next.filter(col("label") =!= col("prev")).count()
      prevRound.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      prevRound = thisRound
      labels = next.select(col("v"), col("label"))
      iters += 1
    }
    require(changed == 0, s"componentsOn: not converged after $MaxCcIters rounds")
    edges.unpersist()
    labels.select(
      col("v").as("doc_id"),
      col("label").as("component_id"),
      (col("v") === col("label")).as("is_canonical"))
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * adversarial-diameter drop-in [[componentsOn]]'s scaladoc names:
    * min-label propagation needs O(diameter) rounds (a 512-node chain =
    * 511 rounds), while the star alternation contracts path length
    * geometrically and converges in O(log² n) rounds with the SAME
    * per-round physical shape (keyed join + min-agg + distinct).
    * Min-label stays the default — near-dup graphs are shallow and its
    * per-round constant is smaller; this is the escape hatch for deep
    * graphs, behind the identical (pairs → doc_id/component_id/
    * is_canonical) interface, equivalence property-checked in
    * `ComponentsVariantSpec` on random graphs and the long chain.
    *
    * large-star(u): connect every strictly-larger neighbor to
    * min(Γ(u) ∪ {u}); small-star(u) on (big → small)-oriented edges:
    * connect every smaller neighbor and u itself to that min. Both are
    * one groupBy(min) + one key-partitioned join; the fixpoint is a
    * forest of stars centered at each component's min vertex. Same
    * checkpoint-truncation + per-round block release as min-label.
    */
  private[graft] def componentsAltStarOn(pairs: DataFrame): DataFrame =
    componentsAltStarCounted(pairs)._1

  private[graft] def componentsAltStarCounted(pairs0: DataFrame): (DataFrame, Int) = {
    // one materialization of the pair derivation for the three readers
    // below (verts' two union branches + the edge seed) — the
    // componentsOn union-doubling fix, ×3 here
    val pairs = pairs0.localCheckpoint(eager = false)
    val sc = pairs.sparkSession.sparkContext

    def largeStar(e: DataFrame): DataFrame = {
      val both = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = both.groupBy("src").agg(min(col("dst")).as("nmin"))
        .select(col("src"), least(col("src"), col("nmin")).as("m"))
      both.join(m, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val m = oriented.groupBy("src").agg(min(col("dst")).as("m"))
      val j = oriented.join(m, "src")
      j.filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(m.select(col("src"), col("m").as("dst")))
        .distinct()
    }

    val verts = pairs
      .select(col("doc_id_1").as("v"))
      .union(pairs.select(col("doc_id_2").as("v")))
      .distinct().persist()
    var before = sc.getPersistentRDDs.keySet
    var edges = pairs
      .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint()
    var prevRound = sc.getPersistentRDDs.keySet -- before
    var edgeCount = edges.count() // carried across rounds: one count job
    var converged = false         // per round, not two
    var iters = 0
    while (!converged && iters < MaxCcIters) {
      before = sc.getPersistentRDDs.keySet
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val thisRound = sc.getPersistentRDDs.keySet -- before
      // distinct sets: equal size + empty (next − cur) ⇒ fixpoint; the
      // except() runs only once sizes stop changing
      val nextCount = next.count()
      converged = nextCount == edgeCount && next.except(edges).count() == 0L
      prevRound.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      prevRound = thisRound
      edges = next
      edgeCount = nextCount
      iters += 1
    }
    require(converged, s"componentsAltStarOn: not converged after $MaxCcIters rounds")
    // fixpoint edges are (child → component-min); centers label themselves
    val out = verts.join(edges, col("v") === col("src"), "left")
      .groupBy("v").agg(min(col("dst")).as("parent"))
      .select(col("v").as("doc_id"),
        coalesce(col("parent"), col("v")).as("component_id"),
        (coalesce(col("parent"), col("v")) === col("v")).as("is_canonical"))
    verts.unpersist()
    (out, iters)
  }

  /** Transitive closure of a Jaccard pair CTE via a recursive CTE
    * (tractable at oracle scale; the component id is the min reachable
    * doc_id, which the min-label fixpoint also computes). Shared by the
    * base components oracle and the deletion twin (which feeds a
    * survivor-filtered pair CTE).
    */
  private def componentsClosureOver(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS (
       |  ${pairsSql.replace("\n", "\n  ")}),
       |edges AS (
       |  SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
       |  UNION
       |  SELECT doc_id_2, doc_id_1 FROM pairs),
       |reach(v, u) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a)
       |SELECT v AS doc_id,
       |       least(v, min(u)) AS component_id,
       |       v = least(v, min(u)) AS is_canonical
       |FROM reach
       |GROUP BY v""".stripMargin

  /** Oracle: the exact-Jaccard pair closure over the full corpus. */
  val dedupComponentsSql: String = componentsClosureOver(jaccardOracleSql)

  /** [[componentsAltStarOn]] over the MinHash pair graph — the
    * adversarial-diameter variant oracle-checked against the SAME
    * recursive-closure oracle as `dedup_components` (the two algorithms
    * are label-equivalent; `ComponentsVariantSpec` property-checks it,
    * this entry proves it on the driver gate too).
    */
  def dedupComponentsAltstar(spark: SparkSession, dir: String): DataFrame =
    componentsAltStarOn(dedupMinhash(spark, dir))

  // ---- dedup_keep_best: canonical-representative selection -------------
  /** The dedup DECISION operator: every document gets a (component_id,
    * keep) verdict under the keep-best policy — within each near-dup
    * component the LONGEST document survives (ties on doc_id asc), the
    * standard "keep the most complete version" canonicalization a
    * training pipeline applies after clustering (min-id canonical flags
    * which cluster a doc is in; this decides which doc to TRAIN on).
    * Singletons (no near-dup edge) are their own component and kept.
    *
    * Scale: components as in [[componentsOn]]; the verdict itself is one
    * doc-keyed left join plus a row_number window PARTITIONED by
    * component — frame bounded by component size, never corpus size.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    keepBestFrom(dedupMinhash(spark, dir), Tables.documents(spark, dir))

  /** Keep-best verdict off an explicit verified pair frame — the tail
    * [[dedupKeepBest]] and its served twin share (one definition ⇒
    * served ≡ in-plan is structural).
    */
  private[graft] def keepBestFrom(pairs: DataFrame, documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = componentsOn(pairs)
      .select(col("doc_id"), col("component_id"))
    val docs = documents.select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy("component_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    // the component map is pair-graph-sized (≪ corpus) — broadcast it so
    // the only corpus-wide exchange is the window's component_id hash
    docs.join(broadcast(comp), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component_id"), col("doc_id")).as("component_id"),
        col("n_chars"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("component_id"), col("keep"))
      .orderBy("doc_id")
  }

  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  ${jaccardOracleSql.replace("\n", "\n  ")}),
       |edges AS (
       |  SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
       |  UNION
       |  SELECT doc_id_2, doc_id_1 FROM pairs),
       |reach(v, u) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a),
       |comp AS (
       |  SELECT v AS doc_id, least(v, min(u)) AS component_id
       |  FROM reach GROUP BY v)
       |SELECT d.doc_id,
       |       coalesce(c.component_id, d.doc_id) AS component_id,
       |       row_number() OVER (
       |         PARTITION BY coalesce(c.component_id, d.doc_id)
       |         ORDER BY d.n_chars DESC, d.doc_id ASC) = 1 AS keep
       |FROM documents d LEFT JOIN comp c USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- the materialized dedup tier: verified near-dup edge store --------

  /** Build-once resolution of the persisted VERIFIED near-dup pair graph
    * — the [[graft.sources.LinkStore]] edges artifact applied to the
    * MinHash tier (the r13 review's first ask): [[dedupMinhashOn]]'s
    * output (doc_id_1, doc_id_2, jaccard) written ONCE per corpus, so
    * graph consumers (components, keep-best, the ensemble's lexical
    * screen, pagerank's production arm) start at stored edges instead of
    * re-running shingle → band → candidate-join → verify per run — the
    * term the 100× probes measured as dominant (components 14.4 s,
    * ensemble 24.4 s re-running three screens).
    *
    * `key` names the corpus ([[StoreCatalog.key]] for a directory).
    * Plain parquet, no bucketing: every consumer is a full-graph
    * reader (components/keep-best/screens), not a point-probe — near-dup
    * graphs are sparse, so the store is edge-sized, ≪ corpus.
    */
  private[graft] def storedPairs(spark: SparkSession, key: String,
      docs: => DataFrame): DataFrame =
    StoreCatalog.parquet(spark, "graft_dedup_edges", key)(
      dedupMinhashOn(shingleSets(docs)))

  /** [[dedupComponents]] off the persisted edge graph — zero
    * shingle/band/verify work per run; bit-identical because the store
    * IS [[dedupMinhashOn]]'s output, so the oracle is shared verbatim.
    */
  def dedupComponentsServed(spark: SparkSession, dir: String): DataFrame =
    componentsOn(storedPairs(spark,
      StoreCatalog.key(spark, dir),
      Tables.documents(spark, dir)))

  /** [[dedupKeepBest]] off the persisted edge graph — same serving
    * economics; shares [[keepBestFrom]] with the in-plan entry.
    */
  def dedupKeepBestServed(spark: SparkSession, dir: String): DataFrame =
    keepBestFrom(
      storedPairs(spark, StoreCatalog.key(spark, dir),
        Tables.documents(spark, dir)),
      Tables.documents(spark, dir))

  // ---- dedup_components_live: base store + in-flight delta at read -----

  /** [[dedupComponentsServed]] with FRESHNESS — the live base+delta
    * composition the vector (`knnServedLive`), lexical (`hybridRrfLive`)
    * and warehouse (`scd2LookupLive`) tiers carry, completing it on the
    * dedup graph: the landed edge store holds every crawl slice except
    * the last; the last slice's edges derive at READ time through the
    * ingest tier's own
    * [[graft.streaming.DedupEdgeIngest.batchFrames]] (one definition,
    * so composed-at-read ≡ landed is structural) — an in-flight crawl
    * batch's near-dup links are visible to components immediately,
    * without writing anything.
    *
    * Bit-exactness: `DedupEdgeIngestSpec` pins liveEdges(prefix store,
    * remainder delta) ≡ the one-shot MinHash dedup over all documents
    * for every prefix split, so this entry equals [[dedupComponents]]
    * frame-for-frame and shares its oracle verbatim.
    *
    * Scale (100 TB): the read-time term is the delta's derivation —
    * O(new batch) probe keys against the accumulated band store, the
    * ingest bound — plus the graph propagation; the landed store is
    * never rewritten.
    */
  def dedupComponentsLive(spark: SparkSession, dir: String): DataFrame =
    dedupComponentsLiveFrames(spark,
      StoreCatalog.key(spark, dir) + "_livebase",
      Tables.documents(spark, dir))

  private[graft] def dedupComponentsLiveFrames(spark: SparkSession,
      key: String, docs: => DataFrame): DataFrame =
    dedupComponentsLiveSplit(spark, key, docs,
      Seq(col("doc_id") % 3 === 0, col("doc_id") % 3 === 1),
      col("doc_id") % 3 === 2)

  /** [[dedupComponentsLiveFrames]] with the landed/in-flight split as a
    * parameter: the registry entry's adversarial ⅓-in-flight split
    * prices a worst case; the steady-state probe arm
    * (`dedup_components_live_steady`) feeds a 1% delta so the
    * production claim — one crawl increment ≈ the served row + one
    * micro-batch derivation — is measured, not argued (r14 Missing #4).
    */
  /** The ingest tier's three artifacts under a `graft_dedup_ingest` root. */
  private def ingestStores(base: String) = graft.streaming.DedupEdgeIngest.EdgeStores(
    base + "/sets", base + "/bands", base + "/edges")

  private[graft] def dedupComponentsLiveSplit(spark: SparkSession,
      key: String, docs: => DataFrame,
      landed: Seq[org.apache.spark.sql.Column],
      delta: org.apache.spark.sql.Column): DataFrame = {
    val d = docs
    val base = StoreCatalog.ensureBuilt(spark, "graft_dedup_ingest", key) { base =>
      landed.zipWithIndex.foreach { case (pred, r) =>
        graft.streaming.DedupEdgeIngest.processBatch(
          d.filter(pred), r.toLong, ingestStores(base))
      }
    }
    val store = ingestStores(base)
    componentsOn(graft.streaming.DedupEdgeIngest.liveEdges(
      spark, store, d.filter(delta), landed.size.toLong))
  }

  /** The generic incremental component-map FOLD (the write side of
    * `updateComponents`/`updateEntities` — both ingest tiers delegate
    * here, one definition): fold `newEdges` (this batch's landed
    * (doc_id_1, doc_id_2) pairs) into the per-batch snapshot chain at
    * `compPath`. Insertion only MERGES, and the previous snapshot's
    * rows double as STAR EDGES (member → min-id label, itself the
    * component's min member), so components over (affected stars ∪ new
    * edges) reproduce the merged labels exactly — min over old labels
    * and new ids IS the merged component's min member. Components not
    * incident to any new edge pass through untouched. Replay idempotent:
    * snapshot N is a deterministic function of snapshot N−1 and edge
    * partition N, written as an idempotent `batch_id=N` overwrite.
    *
    * Scale (100 TB): O(batch + affected components) per fold — star
    * frames of touched groups plus the batch's edges, never the
    * accumulated edge graph, never the corpus.
    */
  private[graft] def foldComponentsSnapshot(spark: SparkSession,
      edges: DataFrame, compPath: String, id: Long): Unit = {
    val newEdges = edges.localCheckpoint(eager = false)
    val snapshot =
      if (id == 0) componentsOn(newEdges)
      else {
        val prev = spark.read.parquet(s"$compPath/batch_id=${id - 1}")
          .select("doc_id", "component_id", "is_canonical")
        val touched = newEdges
          .select(explode(array(col("doc_id_1"), col("doc_id_2"))).as("t_id"))
          .distinct()
        val affected = prev
          .join(broadcast(touched), col("doc_id") === col("t_id"), "left_semi")
          .select(col("component_id").as("aff_id")).distinct()
        val untouched = prev.join(broadcast(affected),
          col("component_id") === col("aff_id"), "left_anti")
        val affStars = prev
          .join(broadcast(affected), col("component_id") === col("aff_id"),
            "left_semi")
          .select(col("doc_id").as("doc_id_1"),
            col("component_id").as("doc_id_2"))
        untouched.unionByName(
          componentsOn(affStars.unionByName(newEdges)))
      }
    snapshot.write.mode("overwrite").parquet(s"$compPath/batch_id=$id")
  }

  /** TOMBSTONE-AWARE incremental fold (r15 verdict #2 — the missing
    * matrix cell): [[foldComponentsSnapshot]] handles inserts only
    * (insertion merges, so the previous snapshot's star edges suffice);
    * production ingest INTERLEAVES crawl increments with takedowns, and
    * deletion SPLITS — star edges lose the path structure a split needs
    * (removing a star's hub would shatter the group; removing a true
    * bridge member wouldn't split the star at all). So the delete-aware
    * fold keeps the untouched-pass-through economics but re-derives
    * AFFECTED groups over their surviving ACCUMULATED edges (the
    * `*_served_del` recompute, reused as-of through batch `id`−1)
    * plus the batch's live new edges:
    *  - touched docs = endpoints of the batch's (tombstone-filtered)
    *    new edges ∪ the batch's newly-tombstoned docs;
    *  - groups of touched docs re-derive; everything else passes
    *    through from snapshot `id`−1 bit-identical;
    *  - tombstones are CUMULATIVE: a new edge incident to a doc deleted
    *    in ANY earlier batch is dead on arrival (no resurrection).
    * The law (`DedupEdgeIngestSpec`'s interleave block): after ANY
    * interleaving of insert and delete batches, the snapshot ≡
    * [[componentsOn]] over (all landed edges minus tombstone-incident)
    * — i.e. the one-shot derivation over the survivors. Replay stays
    * idempotent: snapshot N is a deterministic function of snapshot
    * N−1, edge partitions ≤ N and tombstone partitions ≤ N, written as
    * an idempotent `batch_id=N` overwrite.
    *
    * Scale (100 TB): per batch O(batch + affected groups' edges) — the
    * as-of edge read is membership-restricted to the affected groups
    * (near-dup groups are small by construction), the tombstone batches
    * broadcast, and untouched groups never leave the previous snapshot.
    */
  private[graft] def foldComponentsSnapshotDel(spark: SparkSession,
      newEdges: DataFrame, newDead: DataFrame, allDead: DataFrame,
      priorEdges: DataFrame, compPath: String, id: Long): Unit = {
    val deadB = broadcast(allDead.select(col(allDead.columns.head).as("dead_id"))
      .localCheckpoint(eager = false))
    val liveNew = newEdges.select("doc_id_1", "doc_id_2")
      .join(deadB, col("doc_id_1") === col("dead_id"), "left_anti")
      .join(deadB, col("doc_id_2") === col("dead_id"), "left_anti")
      .localCheckpoint(eager = false)
    val snapshot =
      if (id == 0) componentsOn(liveNew)
      else {
        val prev = spark.read.parquet(s"$compPath/batch_id=${id - 1}")
          .select("doc_id", "component_id", "is_canonical")
        val touched = liveNew
          .select(explode(array(col("doc_id_1"), col("doc_id_2"))).as("t_id"))
          .unionByName(newDead
            .select(col(newDead.columns.head).as("t_id")))
          .distinct()
        val affected = prev
          .join(broadcast(touched), col("doc_id") === col("t_id"), "left_semi")
          .select(col("component_id").as("aff_id")).distinct()
        val untouched = prev.join(broadcast(affected),
          col("component_id") === col("aff_id"), "left_anti")
        // affected groups' accumulated SURVIVING edges: doc_id_1's
        // membership decides the group (both endpoints share it)
        val memb = prev.select(col("doc_id").as("doc_id_1"),
          col("component_id").as("m_id"))
        val affEdges = priorEdges.select("doc_id_1", "doc_id_2")
          .join(memb, Seq("doc_id_1"))
          .join(broadcast(affected), col("m_id") === col("aff_id"), "left_semi")
          .join(deadB, col("doc_id_1") === col("dead_id"), "left_anti")
          .join(deadB, col("doc_id_2") === col("dead_id"), "left_anti")
          .select("doc_id_1", "doc_id_2")
        untouched.unionByName(
          componentsOn(affEdges.unionByName(liveNew)))
      }
    snapshot.write.mode("overwrite").parquet(s"$compPath/batch_id=$id")
  }

  // ---- dedup_components_served_inc: the incrementally-folded map -------

  /** [[dedupComponentsServed]] with the map maintained INCREMENTALLY by
    * the ingest tier ([[graft.streaming.DedupEdgeIngest.updateComponents]]
    * — insert-only merges folded per batch, r14 verdict #6): the read is
    * a snapshot scan that is FRESH through the last landed batch,
    * paying neither the live entry's read-time delta derivation nor the
    * served entry's full propagation. Here the registry split lands all
    * three corpus slices through the ingest path and folds the map after
    * each; the read equals [[dedupComponents]] by the fold law
    * (`DedupEdgeIngestSpec`: snapshot after any prefix ≡ componentsOn
    * over the landed edges), so the oracle is shared verbatim.
    *
    * Scale (100 TB): per landed batch the fold costs O(batch + affected
    * components) — the previous snapshot's star edges of touched groups
    * plus the batch's new edges; the read is always a map scan.
    */
  def dedupComponentsServedInc(spark: SparkSession, dir: String): DataFrame =
    dedupComponentsServedIncFrames(spark,
      StoreCatalog.key(spark, dir) + "_incmap",
      Tables.documents(spark, dir))

  private[graft] def dedupComponentsServedIncFrames(spark: SparkSession,
      key: String, docs: => DataFrame): DataFrame = {
    val d = docs
    val base = StoreCatalog.ensureBuilt(spark, "graft_dedup_ingest", key) { base =>
      (0 to 2).foreach { r =>
        graft.streaming.DedupEdgeIngest.processBatch(
          d.filter(col("doc_id") % 3 === r), r.toLong, ingestStores(base))
        graft.streaming.DedupEdgeIngest.updateComponents(
          spark, ingestStores(base), base + "/components", r.toLong)
      }
    }
    spark.read.parquet(s"$base/components/batch_id=2")
      .select("doc_id", "component_id", "is_canonical")
      .orderBy("doc_id")
  }

  // ---- dedup_components_served_incdel: interleaved insert/delete folds -

  /** [[dedupComponentsServedInc]] with TAKEDOWNS interleaved into the
    * ingest stream — the r15 verdict's missing matrix cell, closed: the
    * fold chain here is insert batch 0 → insert batch 1 → TOMBSTONE
    * batch 2 (the registry deletion rule, doc_id ≡ [[DocDelRes]] mod
    * [[DocDelMod]]) → insert batch 3, every step riding the
    * tombstone-aware [[foldComponentsSnapshotDel]] through
    * [[graft.streaming.DedupEdgeIngest.updateComponentsDel]]. The read
    * is the LAST snapshot — fresh through the last landed batch, zero
    * read-time propagation, deletes already composed.
    *
    * With every batch landed, the snapshot ≡ components over (all
    * landed edges minus tombstone-incident) ≡ the from-scratch survivor
    * derivation — so the entry SHARES [[dedupComponentsServedDelSql]]
    * verbatim (the interleave law is `DedupEdgeIngestSpec`'s; the gate
    * re-proves the composition at sf0.01/sf0.1).
    *
    * Scale (100 TB): per insert fold O(batch + affected groups' edges);
    * per takedown fold O(tombstones + affected groups' edges) — the
    * as-of edge read is membership-restricted to affected groups, and
    * untouched groups pass through every fold untouched.
    */
  def dedupComponentsServedIncDel(spark: SparkSession, dir: String): DataFrame =
    dedupComponentsServedIncDelFrames(spark,
      StoreCatalog.key(spark, dir) + "_incdelmap",
      Tables.documents(spark, dir))

  private[graft] def dedupComponentsServedIncDelFrames(spark: SparkSession,
      key: String, docs: => DataFrame): DataFrame = {
    val d = docs
    val base = StoreCatalog.ensureBuilt(spark, "graft_dedup_ingest", key) { base =>
      val store = ingestStores(base)
      val tombsPath = base + "/tombs"
      val compPath = base + "/components"
      Seq(0L, 1L).foreach { r =>
        graft.streaming.DedupEdgeIngest.processBatch(
          d.filter(col("doc_id") % 3 === r), r, store)
        graft.streaming.DedupEdgeIngest.updateComponentsDel(
          spark, store, tombsPath, compPath, r)
      }
      graft.streaming.DedupEdgeIngest.processTombstones(
        d.filter(col("doc_id") % DocDelMod === DocDelRes)
          .select(col("doc_id").as("dead_id")), 2L, tombsPath)
      graft.streaming.DedupEdgeIngest.updateComponentsDel(
        spark, store, tombsPath, compPath, 2L)
      graft.streaming.DedupEdgeIngest.processBatch(
        d.filter(col("doc_id") % 3 === 2), 3L, store)
      graft.streaming.DedupEdgeIngest.updateComponentsDel(
        spark, store, tombsPath, compPath, 3L)
    }
    spark.read.parquet(s"$base/components/batch_id=3")
      .select("doc_id", "component_id", "is_canonical")
      .orderBy("doc_id")
  }

  // ---- dedup_components_served_del: tombstones on the dedup graph ------

  private[graft] val DocDelMod = 9L
  private[graft] val DocDelRes = 4L

  /** The persisted component map over [[storedPairs]] — the dedup-side
    * entity map the deletion path's untouched groups pass through from
    * (the `storedEntityMap` twin; built once beside the edge store).
    */
  private[graft] def storedDocComponents(spark: SparkSession, key: String,
      docs: => DataFrame): DataFrame =
    StoreCatalog.parquet(spark, "graft_dedup_edges", key + "_components")(
      componentsOn(storedPairs(spark, key, docs)))

  /** Tombstone deletion for the DEDUP graph tier — the
    * `entity_groups_served_del` symmetry on the MinHash side: documents
    * matching the tombstone rule (doc_id ≡ [[DocDelRes]] mod
    * [[DocDelMod]], standing in for a takedown/opt-out batch) land
    * beside the edge store; near-dup components containing NO deleted
    * document pass through from the persisted component map UNTOUCHED;
    * only the AFFECTED components re-run min-label propagation over
    * their surviving edges (splits are possible — membership is not
    * monotone under edge removal; survivors that lose their last edge
    * drop out, exactly as a from-scratch rebuild drops them).
    *
    * The law (`DedupDeleteSpec` + this entry's oracle): output ≡
    * [[dedupComponents]] recomputed from scratch over the SURVIVING
    * documents. Exactness argument: LSH band keys and the Jaccard
    * verify are PER-DOCUMENT / PER-PAIR (no other document influences
    * whether {u, v} is an edge), so the survivor pair graph IS the
    * stored graph minus tombstone-incident edges; and component
    * recompute restricted to affected groups is exact because edge
    * removal never merges groups.
    *
    * Scale (100 TB): the tombstone batch broadcasts; the component map
    * is paired-docs-sized (≪ corpus); the per-delete work is the
    * affected components' edge lists — never the full graph. At the
    * next store rebuild the tombstones fold to zero, as in the vector
    * and linkage tiers.
    */
  def dedupComponentsServedDel(spark: SparkSession, dir: String): DataFrame =
    dedupComponentsServedDelFrames(spark,
      StoreCatalog.key(spark, dir),
      Tables.documents(spark, dir))

  private[graft] def dedupComponentsServedDelFrames(spark: SparkSession,
      key: String, docs: => DataFrame): DataFrame = {
    val d = docs
    val pairs = storedPairs(spark, key, d)
    val comp  = storedDocComponents(spark, key, d)
      .select(col("doc_id"), col("component_id"), col("is_canonical"))
    // the deletion batch lands beside the store, once per rule key, and
    // is read back — the serve path never sees the rule, only ids
    val dead = StoreCatalog.parquet(spark, "graft_dedup_edges", key + "_tombstones")(
      d.filter(col("doc_id") % DocDelMod === DocDelRes)
        .select(col("doc_id").cast("long").as("dead_id")))
    val affected = comp
      .join(broadcast(dead), col("doc_id") === col("dead_id"), "left_semi")
      .select(col("component_id").as("aff_id")).distinct()
    val untouched = comp
      .join(broadcast(affected), col("component_id") === col("aff_id"), "left_anti")
    // surviving edges of affected components only: doc_id_1's membership
    // decides the component (both endpoints share it by definition)
    val memb = comp.select(col("doc_id").as("doc_id_1"),
      col("component_id").as("m_id"))
    val affEdges = pairs.select(col("doc_id_1"), col("doc_id_2"))
      .join(memb, Seq("doc_id_1"))
      .join(broadcast(affected), col("m_id") === col("aff_id"), "left_semi")
      .join(broadcast(dead), col("doc_id_1") === col("dead_id"), "left_anti")
      .join(broadcast(dead), col("doc_id_2") === col("dead_id"), "left_anti")
    val recomputed = componentsOn(affEdges.select("doc_id_1", "doc_id_2"))
    untouched.unionByName(recomputed).orderBy("doc_id")
  }

  /** [[dedupComponentsSql]] over the surviving documents — the
    * from-scratch rebuild the served-deletion law demands.
    */
  val dedupComponentsServedDelSql: String = componentsClosureOver(
    jaccardOracleSqlOver(s" WHERE doc_id % $DocDelMod <> $DocDelRes"))

  // ---- dedup_incremental: new-batch-vs-corpus MinHash dedup ------------

  private val NewMod = 10
  private val NewRem = 3 // "new batch" = doc_id % 10 == 3 (a 10% crawl delta)

  /** Incremental dedup — the shape a production corpus actually runs at
    * 100 TB: the historical corpus is NEVER re-deduped against itself;
    * a new crawl batch is checked against the corpus' PRECOMPUTED MinHash
    * band index. Here both sides derive from one documents table split by
    * `doc_id % 10` (the driver testdata has no batch column); in
    * deployment the corpus side of [[bandIndex]] is a persisted table
    * keyed by (band, band_hash) — bucketing it on those keys makes the
    * candidate join exchange-free on the corpus side — and the verify
    * fetches ONLY the matched corpus documents' shingle sets by id. Total
    * work is O(new batch + matches), independent of corpus size apart
    * from the index lookup.
    *
    * Output: (new_doc_id, corpus_doc_id, jaccard ≥ 0.8). The oracle is
    * the exact cross-side Jaccard query; equality is probabilistic with
    * the same ≈5·10⁻⁸ per-true-pair banding miss bound as `dedup_minhash`.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    dedupIncrementalOn(shingleSets(spark, dir))

  /** (doc_id, band, band_hash) MinHash-LSH band index rows — the
    * persisted-index building block of [[dedupIncrementalOn]].
    */
  def bandIndex(sets: DataFrame): DataFrame = {
    graft.GraftExtensions.register(sets.sparkSession)
    sets
      // Filter on the INPUT, not the signature: minhash_sig is null
      // exactly when the set is null/empty ([[graft.functions.MinHashSig]]
      // nullSafeEval; hashedSets elements are never null — xxhash64 maps
      // null to the seed, not to null), so `size(sh) > 0` drops the same
      // rows a `sig IS NOT NULL` filter would. The sig spelling was the
      // r18 plan audit's one surviving instance of the pushed-filter
      // double-eval class the word-level tier already documents
      // (`filter(col("sig").isNotNull)` is pushed below the doc_id
      // exchange and rewritten to `isnotnull(minhash_sig(sh, k))` — the
      // full k-permutation fold ran once in that filter and AGAIN in the
      // projection feeding the band explode, per row, in every band
      // build: dedup_minhash and all its consumers, both ingest tiers).
      .filter(size(col("sh")) > 0)
      .withColumn("sig", expr(s"minhash_sig(sh, $NumHashes)"))
      .select(col("doc_id"), posexplode(lshBands("sig", NumBands, RowsPerBand)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  def dedupIncrementalOn(rawSets: DataFrame): DataFrame = {
    val sets   = hashedSets(rawSets).repartition(col("doc_id"))
    // one sig pass for the new/corpus sides (the dedupMinhashOn fix)
    val banded = bandIndex(sets).localCheckpoint(eager = false)
    val isNew  = col("doc_id") % NewMod === NewRem
    val candidates = banded.filter(isNew).as("a")
      .join(banded.filter(!isNew).as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .distinct()
    verifyJaccard(candidates, sets)
      .select(col("doc_id_1").as("new_doc_id"),
        col("doc_id_2").as("corpus_doc_id"), col("jaccard"))
  }

  /** Exact cross-side Jaccard: every (new, corpus) pair ≥ threshold. */
  val dedupIncrementalSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(${shinglesSql("toks")}) AS shingle FROM docs),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS new_doc_id, b.doc_id AS corpus_doc_id, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle
       |    AND a.doc_id % $NewMod = $NewRem AND b.doc_id % $NewMod <> $NewRem
       |  GROUP BY 1, 2)
       |SELECT new_doc_id, corpus_doc_id, c::DOUBLE / (s1.n + s2.n - c) AS jaccard
       |FROM common
       |JOIN sizes s1 ON new_doc_id = s1.doc_id
       |JOIN sizes s2 ON corpus_doc_id = s2.doc_id
       |WHERE c::DOUBLE / (s1.n + s2.n - c) >= $JaccardThreshold""".stripMargin

  // ---- dedup_simhash: 96-bit simhash, 8-bit block-pair join, Hamming ≤ 10
  /** 96-bit simhash carried as two 48-bit vote-fold words (md5 hex chars
    * 1-12 / 13-24 per shingle). Per bit i: the ±1 vote sum over shingles
    * is positive iff strictly more than half the shingle hashes have bit
    * i set. The fold runs through the native
    * [[graft.functions.SimhashFold]] expression — one primitive loop per
    * row instead of 96 interpreted lambda folds; empty sets yield null
    * words (dropped before the block join, same guard as minhash).
    */
  def simhashesOn(sets: DataFrame): DataFrame = {
    graft.GraftExtensions.register(sets.sparkSession)
    sets
      .withColumn("ha", transform(col("sh"), s => hash48a(s)))
      .withColumn("hb", transform(col("sh"), s => hash48b(s)))
      .select(col("doc_id"),
        expr("simhash_fold(ha, 48)").as("sim_a"),
        expr("simhash_fold(hb, 48)").as("sim_b"))
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    dedupSimhashOn(shingleSets(spark, dir))

  def dedupSimhashOn(sets: DataFrame): DataFrame = {
    // Signatures computed ONCE for both self-join sides. The repartition
    // alone does not guarantee it (r19 plan audit): the planner turns
    // one side into a BroadcastExchange, which cannot reuse the shuffle
    // exchange, so both sides re-ran the md5-per-shingle + 96-bit vote
    // fold — the checkpoint materializes the (doc_id, 2 longs) rows.
    // No isNotNull filter on the computed words: filter pushdown would
    // substitute (and so re-evaluate) the whole md5+fold chain into the
    // predicate; null words (empty sets) instead yield null block keys
    // below, which match nothing in the equi-join — same outcome, free.
    val sigs = simhashesOn(sets).repartition(col("doc_id"))
      .localCheckpoint(eager = false)
    // Hamming ≤ 10 damages at most 10 of the 12 blocks, so at least TWO
    // blocks survive intact (pigeonhole) — candidates only need pairs that
    // agree on a block PAIR, which squares the per-block collision rate
    // (1/256 → 1/65536). Random-signature crowding is candidates ≈
    // 66·N²/2¹⁷ — 64× sparser than the retired 60-bit/5-bit scheme; the
    // 10× probe in PLANS.md measures the effect. Blocks 0-5 slice sim_a,
    // 6-11 slice sim_b; the 66 (k1 < k2) combos are one bigint join key.
    val blockPairs = sigs.select(
      col("doc_id"), col("sim_a"), col("sim_b"),
      explode(expr(
        s"""flatten(transform(sequence(0, ${SimhashBlocks - 2}), k1 ->
           |  transform(sequence(k1 + 1, ${SimhashBlocks - 1}), k2 ->
           |    (cast(k1 * ${SimhashBlocks} + k2 as bigint) * 256
           |      + (shiftright(IF(k1 < 6, sim_a, sim_b), (k1 % 6) * 8) & 255)) * 256
           |      + (shiftright(IF(k2 < 6, sim_a, sim_b), (k2 % 6) * 8) & 255))))""".stripMargin)).as("bkey"))
    blockPairs.as("a")
      .join(blockPairs.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"),
        col("a.sim_a").as("a1"), col("a.sim_b").as("a2"),
        col("b.sim_a").as("b1"), col("b.sim_b").as("b2"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("a1").bitwiseXOR(col("b1")))
          + bit_count(col("a2").bitwiseXOR(col("b2"))))
      .filter(col("hamming") <= HammingMax)
      .select(col("doc_id_1"), col("doc_id_2"), col("hamming"))
  }

  /** Oracle: brute-force all-pairs simhash Hamming over both words (the
    * block-pair join above is exhaustive for Hamming ≤ 10 by pigeonhole,
    * so outputs are identical).
    */
  val dedupSimhashSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(${shinglesSql("toks")}) AS shingle FROM docs),
       |hb AS (
       |  SELECT doc_id, ${hash48aSql("shingle")} AS h1, ${hash48bSql("shingle")} AS h2 FROM sh),
       |bits AS (
       |  SELECT doc_id, b,
       |         sum(CASE WHEN (h1 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS va,
       |         sum(CASE WHEN (h2 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vb
       |  FROM hb, (SELECT unnest(generate_series(0, 47)) AS b)
       |  GROUP BY doc_id, b),
       |sig AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN va > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sim_a,
       |         CAST(sum(CASE WHEN vb > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sim_b
       |  FROM bits GROUP BY doc_id)
       |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       |       CAST(bit_count(xor(a.sim_a, b.sim_a))
       |            + bit_count(xor(a.sim_b, b.sim_b)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim_a, b.sim_a)) + bit_count(xor(a.sim_b, b.sim_b)) <= $HammingMax""".stripMargin

  // ---- split_leakage: train/val contamination audit ---------------------

  /** Train share of the hash split, in percent. */
  private val TrainPct = 90

  /** Near-duplicate pairs that STRADDLE a deterministic train/val split —
    * the leakage audit an evaluation pipeline runs before trusting its
    * held-out metrics: a val document with a ≥-threshold near-dup in
    * train is contaminated even after exact dedup, because the split was
    * drawn doc-wise while duplication is cluster-wise. The split is
    * hash60(doc_id) % 100 < [[TrainPct]] — the reproducible identity
    * split (stable under re-crawls that change text but keep ids), the
    * same no-RNG contract as corpus_mix. Output: every verified near-dup
    * pair whose endpoints land in different splits, with its Jaccard —
    * the pair list is the actionable artifact (move/remove), a bare rate
    * is not.
    *
    * Scale: pairs come from the normative MinHash-LSH path
    * ([[dedupMinhash]] — banded, never all-pairs); the split column is a
    * per-row projection of the doc table joined twice on the pair frame
    * (pair-graph-sized ≪ corpus, so both joins broadcast; at worst they
    * shuffle on doc_id). Nothing here adds corpus-scale work to the
    * dedup pass it piggybacks on.
    */
  // The registry entry reads the persisted verified-edge store (the
  // r18 governance-consumer demotion class — the auditor/fixer pair are
  // pure CONSUMERS of the pair graph, like corpus_curation; the pair
  // chain's in-plan reference spellings stay `dedup_minhash` /
  // `dedup_jaccard`): the store IS dedupMinhashOn's output, so the
  // audited pair set is bit-identical and the oracle is unchanged
  // (`DedupStoreConsumersSpec` pins registry ≡ in-plan spelling).
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    splitLeakageFrom(docs, storedPairs(spark,
      StoreCatalog.key(spark, dir), docs))
  }

  /** In-plan spelling — the scale probes and the demotion law feed the
    * derived pair chain here.
    */
  private[graft] def splitLeakageOn(docs: DataFrame): DataFrame =
    splitLeakageFrom(docs, dedupMinhashOn(shingleSets(docs)))

  private[graft] def splitLeakageFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val split = docs.select(
      col("doc_id"),
      when(pmod(hash60(col("doc_id").cast("string")), lit(100)) < TrainPct,
        lit("train")).otherwise(lit("val")).as("split"))
    pairs
      .join(split.select(col("doc_id").as("doc_id_1"), col("split").as("split_1")), "doc_id_1")
      .join(split.select(col("doc_id").as("doc_id_2"), col("split").as("split_2")), "doc_id_2")
      .filter(col("split_1") =!= col("split_2"))
      .select(col("doc_id_1"), col("doc_id_2"),
        col("split_1"), col("split_2"), col("jaccard"))
  }

  val splitLeakageSql: String =
    s"""WITH pairs AS (
       |  ${jaccardOracleSql.replace("\n", "\n  ")}),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN ${graft.functions.TextFeatures.hash60Sql("doc_id::VARCHAR")} % 100 < $TrainPct
       |              THEN 'train' ELSE 'val' END AS split
       |  FROM documents)
       |SELECT p.doc_id_1, p.doc_id_2,
       |       s1.split AS split_1, s2.split AS split_2, p.jaccard
       |FROM pairs p
       |JOIN s s1 ON p.doc_id_1 = s1.doc_id
       |JOIN s s2 ON p.doc_id_2 = s2.doc_id
       |WHERE s1.split <> s2.split""".stripMargin

  // ---- split_assign: component-aware leakage-free split -----------------

  /** The FIXER paired with [[splitLeakage]]'s auditor: assign train/val
    * by hashing the near-dup COMPONENT representative instead of the
    * doc_id, so both endpoints of every verified near-dup pair share a
    * group and therefore a split — leakage-free BY CONSTRUCTION, not by
    * audit-and-patch. Docs without a near-dup edge are their own group
    * (coalesce to doc_id), so the assignment covers the whole corpus and
    * degenerates to the identity split exactly where clustering found
    * nothing. Same [[TrainPct]] hash rule as the audit; the expected
    * train share is preserved because group representatives hash
    * uniformly like doc ids do.
    *
    * Scale: components come from [[componentsOn]] over the banded
    * MinHash pair graph (pair-graph-sized, ≪ corpus); the assignment
    * itself is one doc-keyed LEFT join of that small label frame into
    * the corpus plus a per-row hash — the labels broadcast at any
    * realistic dup density.
    */
  // Registry entry off the persisted edge store (see [[splitLeakage]] —
  // the same consumer-demotion class and law).
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    splitAssignFrom(docs, storedPairs(spark,
      StoreCatalog.key(spark, dir), docs))
  }

  /** In-plan spelling — probes and the demotion law. */
  private[graft] def splitAssignOn(docs: DataFrame): DataFrame =
    splitAssignFrom(docs, dedupMinhashOn(shingleSets(docs)))

  private[graft] def splitAssignFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = componentsOn(pairs)
      .select(col("doc_id"), col("component_id"))
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("component_id"), col("doc_id")))
      .withColumn("split",
        when(pmod(hash60(col("group_id").cast("string")), lit(100)) < TrainPct,
          lit("train")).otherwise(lit("val")))
      .select(col("doc_id"), col("group_id"), col("split"))
      .orderBy("doc_id")
  }

  val splitAssignSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  ${jaccardOracleSql.replace("\n", "\n  ")}),
       |edges AS (
       |  SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
       |  UNION
       |  SELECT doc_id_2, doc_id_1 FROM pairs),
       |reach(v, u) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a),
       |comp AS (
       |  SELECT v AS doc_id, least(v, min(u)) AS component_id
       |  FROM reach GROUP BY v)
       |SELECT d.doc_id,
       |       coalesce(c.component_id, d.doc_id) AS group_id,
       |       CASE WHEN ${graft.functions.TextFeatures.hash60Sql("coalesce(c.component_id, d.doc_id)::VARCHAR")} % 100 < $TrainPct
       |            THEN 'train' ELSE 'val' END AS split
       |FROM documents d LEFT JOIN comp c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- source_overlap: cross-source duplication matrix ------------------

  /** Which sources duplicate each other — the governance matrix a corpus
    * owner reads before setting mixture weights or dropping a crawl: one
    * row per unordered source pair with a verified near-dup crossing it,
    * with the pair count, the distinct documents involved, and the worst
    * (max) Jaccard. Heavy off-diagonal cells mean two "different"
    * sources are re-crawls of each other and their mixture weights
    * double-count; heavy diagonal cells localize intra-source churn.
    *
    * Determinism: counts are exact; max-Jaccard is an order-free max
    * over the single-division exact ratios [[verifyJaccard]] emits.
    *
    * Scale: same piggyback contract as [[splitLeakage]] — the pair graph
    * from the banded MinHash path is ≪ corpus, the two source-label
    * joins are pair-graph-sized, and both aggregates land on ≤ S² cells
    * for S sources. The n_docs side dedups (cell, doc) BEFORE its count
    * aggregate, so nothing collects per-cell lists.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOn(Tables.documents(spark, dir))

  private[graft] def sourceOverlapOn(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val labeled = dedupMinhashOn(shingleSets(docs))
      .join(src.select(col("doc_id").as("doc_id_1"), col("source").as("src_1")), "doc_id_1")
      .join(src.select(col("doc_id").as("doc_id_2"), col("source").as("src_2")), "doc_id_2")
      .select(
        least(col("src_1"), col("src_2")).as("source_a"),
        greatest(col("src_1"), col("src_2")).as("source_b"),
        col("doc_id_1"), col("doc_id_2"), col("jaccard"))
      // materialize once (r19 plan audit): the n_pairs and n_docs
      // branches below each re-ran the whole band + verify chain —
      // labeled is pair-graph-sized, so the checkpoint is ≪ corpus
      .localCheckpoint(eager = false)
    val nPairs = labeled.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
    val nDocs = labeled
      .select(col("source_a"), col("source_b"),
        explode(array(col("doc_id_1"), col("doc_id_2"))).as("doc_id"))
      .distinct()
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"),
        col("n_pairs"), col("n_docs"), col("max_jaccard"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String =
    s"""WITH pairs AS (
       |  ${jaccardOracleSql.replace("\n", "\n  ")}),
       |lab AS (
       |  SELECT least(d1.source, d2.source) AS source_a,
       |         greatest(d1.source, d2.source) AS source_b,
       |         p.doc_id_1, p.doc_id_2, p.jaccard
       |  FROM pairs p
       |  JOIN documents d1 ON p.doc_id_1 = d1.doc_id
       |  JOIN documents d2 ON p.doc_id_2 = d2.doc_id),
       |np AS (
       |  SELECT source_a, source_b, count(*) AS n_pairs,
       |         max(jaccard) AS max_jaccard
       |  FROM lab GROUP BY source_a, source_b),
       |nd AS (
       |  SELECT source_a, source_b, count(*) AS n_docs FROM (
       |    SELECT DISTINCT source_a, source_b, doc_id FROM (
       |      SELECT source_a, source_b, unnest([doc_id_1, doc_id_2]) AS doc_id
       |      FROM lab))
       |  GROUP BY source_a, source_b)
       |SELECT np.source_a, np.source_b, np.n_pairs, nd.n_docs, np.max_jaccard
       |FROM np JOIN nd USING (source_a, source_b)
       |ORDER BY source_a, source_b""".stripMargin

  // ---- dedup_threshold_curve: threshold sensitivity table ---------------
  /** The tuning table a pipeline owner reads before PICKING a dedup
    * threshold: for each candidate t ∈ [[CurveThresholds]], the number
    * of exact-Jaccard pairs ≥ t and the number of documents a min-id-
    * keeps policy would remove at that t. One candidate pass at the
    * LOOSEST threshold (prefix + size filters exact at t_min, so every
    * tighter band's pairs are a subset of the candidates), one native
    * `overlap_sorted` verify per pair, then every threshold compare runs
    * in EXACT integers (c·den ≥ (n₁+n₂−c)·num — no float boundary can
    * flip a pair into the wrong band cross-engine).
    *
    * Scale: candidate volume is the t_min prefix-filter stream (linear,
    * measured for t=4/5 in PLANS.md; looser t widens the indexed prefix
    * — the honest cost of asking about looser bands), the per-threshold
    * rollup is a 4-row aggregate over pair rows ×|thresholds|.
    */
  private val CurveThresholds = Seq((3, 5), (7, 10), (4, 5), (9, 10))

  def dedupThresholdCurve(spark: SparkSession, dir: String): DataFrame =
    dedupThresholdCurveOn(shingleSets(Tables.documents(spark, dir)))

  private[graft] def dedupThresholdCurveOn(rawSets: DataFrame): DataFrame = {
    graft.GraftExtensions.register(rawSets.sparkSession)
    val (minNum, minDen) = CurveThresholds.minBy { case (n, d) => n.toDouble / d }
    val sets = hashedSets(rawSets).repartition(col("doc_id"))
    val s1 = sets.select(col("doc_id").as("doc_id_1"), col("sh").as("sh1"))
    val s2 = sets.select(col("doc_id").as("doc_id_2"), col("sh").as("sh2"))
    val scored = prefixCandidates(sets, minNum, minDen)
      .join(s1, "doc_id_1")
      .join(s2, "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"),
        // ComputeOnce: c appears twice in the t_min predicate and once
        // in the per-threshold stream — 3 evaluations un-barriered
        graft.functions.ComputeOnce.once(expr("overlap_sorted(sh1, sh2)")).as("c"),
        size(col("sh1")).as("n1"), size(col("sh2")).as("n2"))
      .filter(col("c") * minDen >= (col("n1") + col("n2") - col("c")) * minNum)
    val bands = CurveThresholds
      .map { case (n, d) => s"named_struct('num', $n, 'den', $d)" }
      .mkString("array(", ", ", ")")
    scored
      .select(col("doc_id_1"), col("doc_id_2"), col("c"), col("n1"), col("n2"),
        explode(expr(bands)).as("t"))
      .filter(col("c") * col("t.den") >= (col("n1") + col("n2") - col("c")) * col("t.num"))
      .groupBy(expr("t.num * 1000 div t.den").cast("long").as("thresh_pm"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_id_2")).as("n_docs_removed"))
      .orderBy("thresh_pm")
  }

  val dedupThresholdCurveSql: String = {
    val vals = CurveThresholds.map { case (n, d) => s"($n, $d)" }.mkString(", ")
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(${shinglesSql("toks")}) AS shingle FROM docs),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |t(num, den) AS (VALUES $vals)
       |SELECT CAST(num * 1000 // den AS BIGINT) AS thresh_pm,
       |       count(*) AS n_pairs,
       |       CAST(count(DISTINCT doc_id_2) AS BIGINT) AS n_docs_removed
       |FROM common
       |JOIN sizes x ON doc_id_1 = x.doc_id
       |JOIN sizes y ON doc_id_2 = y.doc_id
       |CROSS JOIN t
       |WHERE c * den >= (x.n + y.n - c) * num
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- dedup_ensemble: the per-doc dedup DECISION table -----------------
  /** The artifact a curation run actually materializes before training:
    * one row per document with the verdict of EACH dedup family and the
    * composed keep decision —
    *  - `exact_dup`: the doc is a non-survivor of its md5 content group
    *    (`dedup_exact`'s min-id canonical rule);
    *  - `lexical_dup`: the doc is the LARGER side of a verified exact-
    *    Jaccard near-dup pair (`dedup_jaccard`'s AllPairs pipeline —
    *    min-id-keeps policy);
    *  - `semantic_dup`: `dedup_semantic`'s SemDeDup within-cluster prune
    *    said drop — NULL where the doc carries no embedding (at sf0.1
    *    only docs 0–1999 are embedded: the backfilling-index regime,
    *    reported honestly rather than defaulted);
    *  - `keep`: no family objected (a NULL semantic verdict abstains).
    * The families deliberately OVERLAP (an exact dup is also a lexical
    * dup at J=1) — the table's point is showing WHICH screen caught
    * each doc, the audit a pipeline owner reads before tightening or
    * loosening a threshold.
    *
    * Scale: exact is one fp-keyed partial agg + fp join; lexical rides
    * the prefix-filtered candidate stream (measured linear, PLANS.md);
    * semantic is the broadcast-centroid prune; the verdict joins are all
    * doc-keyed. Nothing new shuffles beyond the component screens.
    */
  def dedupEnsemble(spark: SparkSession, dir: String): DataFrame =
    dedupEnsembleOn(Tables.documents(spark, dir),
      Tables.embeddings(spark, dir))

  /** [[dedupEnsemble]] with the lexical screen read from the persisted
    * edge graph — the ensemble's dominant 100× term was re-deriving the
    * lexical pair stream per run; exact/semantic screens stay in-plan
    * (exact is one fp aggregate, semantic is the broadcast-centroid
    * prune — neither has a rebuild term worth storing).
    */
  def dedupEnsembleServed(spark: SparkSession, dir: String): DataFrame =
    dedupEnsembleOn(Tables.documents(spark, dir),
      Tables.embeddings(spark, dir),
      lexPairsOf = _ => storedPairs(spark,
        StoreCatalog.key(spark, dir),
        Tables.documents(spark, dir)))

  /** @param semanticOf the semantic screen over the normed embedding
    *   frame. The registry default is the oracle-checked modulo-seeded
    *   `dedupSemanticOn` — whose K grows with N (fine for the oracle
    *   gate, quadratic at corpus scale, the documented `dedup_semantic`
    *   caveat); production passes a FIXED or trained centroid set via
    *   `dedupSemanticWith`, which is exactly what the ScaleProbe arm
    *   measures (the 100× residual before this parameter existed was the
    *   modulo rule's 800M-row assignment, not the composition).
    */
  /** @param lexPairsOf the lexical screen's verified pair stream over the
    *   docs frame. Default: the in-plan AllPairs pipeline
    *   ([[dedupJaccardOn]]); the served twin passes the persisted edge
    *   graph ([[storedPairs]]) — oracle-identical streams (both check
    *   against `jaccardOracleSql`), so the ensemble oracle is shared.
    */
  private[graft] def dedupEnsembleOn(docs: DataFrame, emb: DataFrame,
      semanticOf: DataFrame => DataFrame =
        graft.similarity.Similarity.dedupSemanticOn,
      lexPairsOf: DataFrame => DataFrame =
        d => dedupJaccardOn(shingleSets(d))): DataFrame = {
    val d = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .localCheckpoint(eager = false) // consumers: group agg + join-back
    val exGroups = d.groupBy("fp").agg(min(col("doc_id")).as("survivor"))
    val exact = d.join(exGroups, "fp")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("survivor"), 1).otherwise(0)
          .cast("int").as("exact_dup"))
    val lex = lexPairsOf(docs)
      .select(col("doc_id_2").as("doc_id")).distinct()
      .withColumn("lx", lit(1))
    val sem = semanticOf(graft.similarity.Similarity.withNorms(emb))
      .select(col("vec_id").as("doc_id"),
        (lit(1) - col("keep")).cast("int").as("semantic_dup"))
    exact
      .join(lex, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        coalesce(col("lx"), lit(0)).cast("int").as("lexical_dup"),
        col("semantic_dup"),
        when(col("exact_dup") === 0 && col("lx").isNull
          && coalesce(col("semantic_dup"), lit(0)) === 0, 1).otherwise(0)
          .cast("int").as("keep"))
      .orderBy("doc_id")
  }

  val dedupEnsembleSql: String =
    s"""WITH lexp AS (
       |  ${jaccardOracleSql.replace("\n", "\n  ")}),
       |sems AS (
       |  ${graft.similarity.Similarity.dedupSemanticSql.replace("\n", "\n  ")}),
       |exg AS (SELECT md5(text) AS fp, min(doc_id) AS survivor
       |        FROM documents GROUP BY 1),
       |ex AS (SELECT d.doc_id,
       |              CAST(CASE WHEN d.doc_id <> e.survivor THEN 1 ELSE 0 END AS INTEGER) AS exact_dup
       |       FROM documents d JOIN exg e ON md5(d.text) = e.fp),
       |lx AS (SELECT DISTINCT doc_id_2 AS doc_id FROM lexp)
       |SELECT ex.doc_id, ex.exact_dup,
       |       CAST(CASE WHEN lx.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS lexical_dup,
       |       CAST(1 - s.keep AS INTEGER) AS semantic_dup,
       |       CAST(CASE WHEN ex.exact_dup = 0 AND lx.doc_id IS NULL
       |                  AND coalesce(1 - s.keep, 0) = 0
       |            THEN 1 ELSE 0 END AS INTEGER) AS keep
       |FROM ex
       |LEFT JOIN lx USING (doc_id)
       |LEFT JOIN sems s ON s.vec_id = ex.doc_id
       |ORDER BY doc_id""".stripMargin

  val registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "dedup_ensemble" -> (dedupEnsemble _, dedupEnsembleSql),
    "dedup_threshold_curve" -> (dedupThresholdCurve _, dedupThresholdCurveSql),
    "dedup_exact"   -> (dedupExact _, dedupExactSql),
    "source_overlap" -> (sourceOverlap _, sourceOverlapSql),
    "split_leakage" -> (splitLeakage _, splitLeakageSql),
    "split_assign"  -> (splitAssign _, splitAssignSql),
    "dedup_jaccard" -> (dedupJaccard _, jaccardOracleSql),
    "dedup_containment" -> (dedupContainment _, containmentOracleSql),
    "dedup_jaccard_char" -> (dedupJaccardChar _, jaccardCharOracleSql),
    "dedup_cosine"  -> (dedupCosine _, dedupCosineSql),
    "dedup_minhash" -> (dedupMinhash _, jaccardOracleSql),
    "dedup_components" -> (dedupComponents _, dedupComponentsSql),
    "dedup_components_served" -> (dedupComponentsServed _, dedupComponentsSql),
    "dedup_components_served_del" -> (dedupComponentsServedDel _, dedupComponentsServedDelSql),
    "dedup_components_served_incdel" ->
      (dedupComponentsServedIncDel _, dedupComponentsServedDelSql),
    "dedup_components_live" -> (dedupComponentsLive _, dedupComponentsSql),
    "dedup_components_served_inc" ->
      (dedupComponentsServedInc _, dedupComponentsSql),
    "dedup_components_altstar" -> (dedupComponentsAltstar _, dedupComponentsSql),
    "dedup_keep_best" -> (dedupKeepBest _, dedupKeepBestSql),
    "dedup_keep_best_served" -> (dedupKeepBestServed _, dedupKeepBestSql),
    "dedup_ensemble_served" -> (dedupEnsembleServed _, dedupEnsembleSql),
    "dedup_incremental" -> (dedupIncremental _, dedupIncrementalSql),
    "dedup_simhash" -> (dedupSimhash _, dedupSimhashSql),
  )
}
