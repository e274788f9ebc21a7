package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Text-analysis + deduplication pack over the `documents` table — the
  * LLM-training-data-pipeline operators (dedup, fingerprinting,
  * language-ID, quality scoring, token counting) from the project north
  * star, built scale-first:
  *
  *  - exact dedup = hash + groupBy (one shuffle on the hash);
  *  - n-gram Jaccard = shingle self-join (candidate generation bounded
  *    by shared shingles — quadratic only within a shingle's posting
  *    list, the classic inverted-index bound);
  *  - MinHash+LSH = the 100 TB path: constant-size signatures per doc,
  *    banded bucketing, candidate verification — no all-pairs stage;
  *  - everything below is built from codegen'd built-ins (split,
  *    md5, higher-order array functions); no UDFs, no driver loops.
  *
  * Hash parity with the DuckDB oracle: both sides hash with md5 (hex,
  * lowercase), parse the same 40-bit halves, and mix with the same
  * integer arithmetic, so MinHash signatures are engine-exact.
  */
object TextOps {

  /** Non-empty word array of the document text, as Spark SQL — for
    * sites where it sits inside a larger SQL expression string. */
  private[graft] val wordsExpr: String = "filter(split(text, ' '), w -> w != '')"

  /** Non-empty word array of the document text. */
  private[graft] val wordsCol: Column = expr(wordsExpr)
  private val wordsSql: String =
    "LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '')"

  /** Exact dedup (hash groupBy): every doc keyed by md5(text); each row
    * carries its group size and whether it is the canonical (min doc_id)
    * copy. At scale: narrow hash + one shuffle on a 128-bit key.
    */
  def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("h"))
    Tables.documents(s, dir)
      .withColumn("h", md5(col("text")))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("n_copies"),
        (col("doc_id") === col("keep_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  val qDedupExactOracle: String = """
    SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS n_copies,
           doc_id = MIN(doc_id) OVER (PARTITION BY h) AS is_canonical
    FROM (SELECT doc_id, MD5(text) AS h FROM documents)
    ORDER BY doc_id"""

  /** Document fingerprint: md5 over the sorted distinct word set (a
    * bag-of-words canonical form — the "document fingerprinting" op).
    * Groups sharing a fingerprint are permutation/repetition dups that
    * raw-text hashing misses.
    */
  def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    val fp = md5(array_join(array_sort(array_distinct(wordsCol)), " "))
    val w = Window.partitionBy(col("fp"))
    Tables.documents(s, dir)
      .withColumn("fp", fp)
      .withColumn("n_same_bag", count(lit(1)).over(w))
      .select(col("doc_id"), col("fp"), col("n_same_bag"))
      .orderBy(col("doc_id"))
  }

  val qFingerprintOracle: String = s"""
    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS n_same_bag
    FROM (SELECT doc_id,
            MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT($wordsSql)), ' ')) AS fp
          FROM documents)
    ORDER BY doc_id"""

  /** Per-document DISTINCT 3-gram shingle array, computed entirely
    * in-row: the global `DISTINCT (doc_id, s)` of the naive layout is a
    * full shuffle of the exploded shingle relation, but distinctness is
    * per document, so `array_distinct` inside the row does the same work
    * shuffle-free. (Guard: Spark's `sequence(1, 0)` is the DESCENDING
    * array [1, 0], so docs with < 3 words short-circuit to empty.)
    */
  private val shingleArr: Column = array_distinct(
    expr("case when size(words) < 3 then array() " +
      "else transform(sequence(1, size(words) - 2), " +
      "i -> array_join(slice(words, i, 3), ' ')) end"))

  /** Memoized persisted intermediates — see [[SessionMemo]]. */
  private def memoPersist(key: String, s: SparkSession, dir: String)
      (build: => DataFrame): DataFrame =
    SessionMemo.persist(s"text:$key", s, dir)(build)

  /** (doc_id, shs: array of distinct shingles, n: shingle count) —
    * persisted: the Jaccard query reads it from three plan branches and
    * the MinHash query from two; at scale you materialize the shingle
    * relation once, not per-branch.
    */
  private[operators] def docShingles(s: SparkSession, dir: String): DataFrame =
    memoPersist("shingles", s, dir) {
      shingled(Tables.documents(s, dir).withColumn("words", wordsCol), col("doc_id"))
    }

  private val shinglesSql: String = s"""
    SELECT DISTINCT doc_id,
           UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 1, 1)),
                                 i -> ARRAY_TO_STRING(words[i:i+2], ' '))) AS s
    FROM (SELECT doc_id, $wordsSql AS words FROM documents)"""

  /** N-gram Jaccard near-dup (exact): candidate pairs share ≥1 shingle
    * (inverted-index join), then J = |∩| / |∪| ≥ 0.5. The self-join is
    * the textbook exact method — kept as the correctness baseline that
    * MinHash+LSH (below) approximates at scale.
    *
    * CONTRACT: posting lists are unbounded here — one shingle shared by
    * k documents contributes k²/2 candidate pairs, so this operator is
    * quadratic in the hottest shingle's document frequency. It is the
    * small/medium-corpus baseline ONLY; at 100 TB run qJaccardDfCap
    * (t38 — same statistic over the df-capped shingle space, bounded
    * posting lists) or qMinhashLsh (t28 — constant work per doc).
    */
  def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val ds = docShingles(s, dir)
    val sh = ds.select(col("doc_id"), explode(col("shs")).as("s"))
    val sizes = ds.select(col("doc_id"), col("n"))
    // shuffle-hash instead of sort-merge: the posting-list equi-join
    // gains nothing from sorted sides and skips two full string sorts
    val pairs = sh.as("a").hint("shuffle_hash").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        col("inter") / (col("sa.n") + col("sb.n") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val qNgramJaccardOracle: String = s"""
    WITH sh AS ($shinglesSql),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, inter / (sa.n + sb.n - inter) AS jaccard
    FROM pairs
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE inter / (sa.n + sb.n - inter) >= 0.5
    ORDER BY doc_a, doc_b"""

  /** [[qNgramJaccard]] with its small-corpus CONTRACT ENFORCED instead
    * of documented (r7, VERDICT #7): measure the hottest shingle's
    * posting list FIRST — one cheap aggregate over the memoized shingle
    * relation — and fail loudly BEFORE the quadratic self-join can run,
    * the same fail-don't-mislabel discipline as t40's convergence
    * guard. The check is deliberately an eager action: its entire point
    * is to spend one vocabulary-sized aggregate to refuse a df²/2 pair
    * explosion.
    */
  def qNgramJaccardGuarded(s: SparkSession, dir: String,
      maxDf: Long = 1000L): DataFrame = {
    val hottestRow = docShingles(s, dir)
      .select(explode(col("shs")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).head()
    val hottest = if (hottestRow.isNullAt(0)) 0L else hottestRow.getLong(0)
    if (hottest > maxDf) sys.error(
      s"qNgramJaccard guard: hottest shingle df=$hottest > cap $maxDf — " +
        "the unbounded posting-list self-join expands ~df²/2 candidate " +
        "pairs per hot shingle; use qJaccardDfCap (t38) or qMinhashLsh (t28)")
    qNgramJaccard(s, dir)
  }

  /** N-gram Jaccard over the df-capped shingle subspace — the scale-safe
    * exact variant (r4, VERDICT #3): shingles whose document frequency
    * exceeds `DfCap` are boilerplate carrying near-zero Jaccard evidence;
    * dropping them from BOTH the intersection and the union keeps the
    * statistic a true Jaccard over the rare-shingle space while bounding
    * the posting-list self-join at DfCap²/2 pairs per shingle — the
    * quadratic hot-shingle blowup of t27 cannot occur. The df filter is
    * a window over the same key the join shuffles on, so the exchange
    * is computed once and reused.
    */
  private val DfCap = 20

  /** The df-capped POSTING-LIST index, materialized once per (session,
    * dir): one sorted id array per surviving shingle.
    *
    * Two-phase build (r5, VERDICT #3): the over-cap set is computed
    * first as a stop-shingle BLACKLIST (groupBy(s).count → df > cap →
    * anti-join) — the count is map-side-combinable (the shuffle
    * carries one row per distinct shingle per task, not every
    * occurrence) — and only
    * then are the bounded survivors collected into arrays, so no
    * aggregation buffer ever holds more than DfCap ids even when a
    * boilerplate shingle appears in millions of documents.
    */
  private def cappedPosts(s: SparkSession, dir: String): DataFrame =
    memoPersist("jaccard-posts", s, dir) {
      val sh = docShingles(s, dir).select(col("doc_id"), explode(col("shs")).as("s"))
      val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") > DfCap).select(col("s"))
      // no broadcast hint: the over-cap set is small on clean corpora
      // but grows with corpus size under Zipfian text — let AQE pick
      // broadcast when it measures small, shuffle when it doesn't
      sh.join(hot, Seq("s"), "left_anti")
        .groupBy(col("s")).agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    }

  /** Per-doc shingle count over the capped space (df=1 shingles count
    * toward the union even though they generate no pairs).
    */
  private def cappedSizes(s: SparkSession, dir: String): DataFrame =
    memoPersist("jaccard-sizes", s, dir) {
      cappedPosts(s, dir).select(explode(col("ids")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    }

  // candidate pairs expand IN-ROW from each posting list (≤ C(DfCap,2)
  // structs per shingle) instead of a posting-list self-join: the
  // shuffle moves k ids per shingle, not k² join rows, and the pair
  // aggregation shuffles compact (long, long) keys instead of md5
  // shingle strings. Shared by t38 (Jaccard) and t60 (containment).
  private val pairExpr = "flatten(transform(ids, (a, i) -> " +
    "transform(slice(ids, i + 2, greatest(size(ids) - i - 1, 0)), " +
    "b -> named_struct('doc_a', a, 'doc_b', b))))"

  /** (doc_a < doc_b, inter): shared intersection counts over the
    * df-capped shingle space — the common candidate stage of the two
    * exact-overlap statistics.
    */
  private def cappedPairInter(s: SparkSession, dir: String): DataFrame =
    cappedPosts(s, dir)
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(pairExpr)).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))

  /** (doc_a, doc_b, inter, na, nb): the fully-scored candidate-pair
    * relation shared by t38 (Jaccard) and t60 (containment), memoized
    * per (session, dir) — r8 VERDICT #7: the two gates used to each
    * re-run the pair expansion + two size joins (~10 stages apiece,
    * scheduling-floor-dominated at small SF); now the second gate is a
    * single in-row division + filter over this persisted frame. The
    * relation is candidate-bounded (≤ C(DfCap,2) pairs per surviving
    * shingle), so persisting it is index-sized, never corpus².
    */
  private def cappedPairStats(s: SparkSession, dir: String): DataFrame =
    memoPersist("jaccard-pairstats", s, dir) {
      val sizes = cappedSizes(s, dir)
      cappedPairInter(s, dir)
        .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          col("sa.n").as("na"), col("sb.n").as("nb"))
    }

  def qJaccardDfCap(s: SparkSession, dir: String): DataFrame =
    cappedPairStats(s, dir)
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  val qJaccardDfCapOracle: String = s"""
    WITH sh AS ($shinglesSql),
    dfs AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
    shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfs USING (s) WHERE df <= $DfCap),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, inter / (sa.n + sb.n - inter) AS jaccard
    FROM pairs
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE inter / (sa.n + sb.n - inter) >= 0.5
    ORDER BY doc_a, doc_b"""

  // ---- Shingle containment (t60): near-superset detection ----

  /** A pair counts as a containment hit when either side is mostly
    * inside the other — the quote/subset relationship Jaccard misses
    * (a paragraph embedded in a 100× longer page has tiny Jaccard but
    * containment ≈ 1 on the small side).
    */
  private val ContainmentTau = 0.8

  /** Asymmetric shingle containment over the df-capped space:
    * `cont_a = |A∩B| / |A|` and `cont_b = |A∩B| / |B|` for every
    * candidate pair, kept when either direction reaches
    * [[ContainmentTau]] — the near-superset detector that catches
    * quoted/embedded/truncated copies symmetric Jaccard (t38) scores
    * low. Same memoized posting-list index, same in-row pair
    * expansion, same DfCap² bound — one extra statistic, zero extra
    * corpus passes.
    */
  def qContainment(s: SparkSession, dir: String): DataFrame =
    cappedPairStats(s, dir)
      .withColumn("cont_a", col("inter") / col("na"))
      .withColumn("cont_b", col("inter") / col("nb"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= ContainmentTau)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("cont_a"), col("cont_b"))
      .orderBy(col("doc_a"), col("doc_b"))

  val qContainmentOracle: String = s"""
    WITH sh AS ($shinglesSql),
    dfs AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
    shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfs USING (s) WHERE df <= $DfCap),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    c AS (
      SELECT doc_a, doc_b, inter,
             inter / sa.n AS cont_a, inter / sb.n AS cont_b
      FROM pairs
      JOIN sz sa ON doc_a = sa.doc_id
      JOIN sz sb ON doc_b = sb.doc_id)
    SELECT doc_a, doc_b, inter, cont_a, cont_b
    FROM c
    WHERE GREATEST(cont_a, cont_b) >= $ContainmentTau
    ORDER BY doc_a, doc_b"""

  /** MinHash + LSH near-dup — the scale path. k=8 hash functions
    * (one md5 per shingle, Kirsch–Mitzenmacher mixing), 4 bands × 2
    * rows; docs sharing any band signature become candidates;
    * candidates are verified with exact Jaccard ≥ 0.5.
    *
    * At 100 TB: signatures are O(1) per doc (8 hashes), the band join
    * shuffles only (band_id, signature) pairs, and verification touches
    * only candidate pairs — this is the standard web-scale dedup layout
    * (no all-pairs join anywhere).
    */
  /** 2^40 — the minhash value domain. 40-bit halves keep every
    * intermediate (`a + 8·b < 2^44`) inside BIGINT range on BOTH
    * engines: DuckDB's checked arithmetic would abort on a 64-bit
    * overflow that Java silently wraps, so the K-M mix must never
    * leave the exactly-representable positive range.
    */
  private val SigMod = 1099511627776L

  /** 4 bands × 2 rows. */
  private[graft] val MinhashBands = 4

  // ---- The MinHash signing kernel: words → shingles → h1..h8 → band
  // keys. The batch gates (t28, t73) and the monthly-drop fold
  // (IncrementalDedup) both sign through these three functions, so a
  // drop-indexed document and a batch-signed one carry bit-identical
  // signatures by construction.

  /** `keep` columns plus (shs: distinct shingle array, n: its size) of
    * a frame carrying `words`. */
  private[graft] def shingled(df: DataFrame, keep: Column*): DataFrame =
    df.select(keep :+ shingleArr.as("shs"): _*)
      .withColumn("n", size(col("shs")).cast("long"))

  // Signatures are per-document minima, so compute them IN-ROW with
  // array_min over the shingle array — the naive layout's
  // explode → groupBy(doc_id) shuffle of every shingle disappears.
  // Hash cost is ONE md5 per shingle (not 8): the digest's two 40-bit
  // halves (a, b) expand to 8 hash functions via Kirsch–Mitzenmacher
  // mixing h_i = (a + i·b) mod 2^40 (K&M 2006, "Less Hashing, Same
  // Performance"), so the expensive digest pass happens once and the
  // 8 per-function passes are integer arithmetic over the parsed
  // halves. (r9 profile: the 8-md5 layout's signature build was 10.2 s
  // of t28's sf1 cold chain — ~8× the remaining stages combined.)
  /** Adds the minhash minima h1..h8 of the `shs` shingle array. */
  private[graft] def withMinhashes(df: DataFrame): DataFrame = {
    val base = df.withColumn("hp", expr(
      "transform(shs, x -> named_struct(" +
        "'a', cast(conv(substring(md5(x), 1, 10), 16, 10) as bigint), " +
        "'b', cast(conv(substring(md5(x), 11, 10), 16, 10) as bigint)))"))
    (1 to 2 * MinhashBands).foldLeft(base) { case (acc, i) =>
      acc.withColumn(s"h$i",
        array_min(expr(s"transform(hp, p -> (p.a + $i * p.b) % $SigMod)")))
    }.drop("hp")
  }

  /** Band `b`'s key (1-based): ':'-separated, because the minhashes
    * are decimal-rendered longs and bare concat would alias
    * ("12"+"3" = "1"+"23"). */
  private[graft] def bandKey(b: Int): Column =
    concat_ws(":", col(s"h${2 * b - 1}"), col(s"h${2 * b}"))

  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    memoPersist("minhash-sig", s, dir) {
      withMinhashes(docShingles(s, dir).filter(col("n") > 0))
    }

  /** LSH candidate pairs (doc_a < doc_b) from the 4-band × 2-row
    * layout — the only wide exchange is the band join, which shuffles
    * 4 small rows per doc. Shared by t28 (verification) and t73
    * (sketch-error evaluation); MEMOIZED because t28's verify plan
    * reads it from two branches (the pair join and the involved-doc
    * semi-filter) and would otherwise run the band self-join twice
    * per execution.
    */
  private def lshCandidates(s: SparkSession, dir: String): DataFrame =
    memoPersist("lsh-cands", s, dir) {
      lshCandidatesBuild(s, dir)
    }

  private def lshCandidatesBuild(s: SparkSession, dir: String): DataFrame = {
    val bands = minhashSigs(s, dir).select(col("doc_id"), explode(
      map((1 to MinhashBands).flatMap(b => Seq(lit(b), bandKey(b))): _*))
      .as(Seq("band_id", "band_sig")))
    bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_sig") === col("y.band_sig") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Candidate-docs-only verify relation (doc_id, shs, n) — the
    * signature frame semi-filtered to docs that appear in an LSH
    * candidate pair (r9 VERDICT #1): the involved-doc list is
    * candidate-bounded (≤ 2·|pairs|, broadcastable), so the exchange
    * that lines shingle arrays up with pairs carries only candidates'
    * arrays instead of every document's — at 100 TB the verify
    * relation is sized by the near-dup population, not the corpus.
    * Memoized: t28 reads it twice per execution (both pair sides) and
    * t73 reads it twice more.
    */
  private def lshVerifyDocs(s: SparkSession, dir: String): DataFrame =
    memoPersist("lsh-verify-ds", s, dir) {
      val cand = lshCandidates(s, dir)
      val involved = cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b").as("doc_id"))).distinct()
      minhashSigs(s, dir)
        .join(broadcast(involved), Seq("doc_id"), "left_semi")
    }

  def qMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val cand = lshCandidates(s, dir)
    // verification: intersect the per-doc shingle ARRAYS of candidate
    // pairs — same |∩| as the shingle-equality join, two joins fewer;
    // both sides read the memoized candidate-bounded verify relation
    val ds = lshVerifyDocs(s, dir).select(col("doc_id"), col("shs"), col("n"))
    cand
      .join(ds.as("a"), col("doc_a") === col("a.doc_id"))
      .join(ds.as("b"), col("doc_b") === col("b.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("a.shs"), col("b.shs"))).cast("long"))
      .withColumn("jaccard",
        col("inter") / (col("a.n") + col("b.n") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared oracle fragments for the K-M signature layout: one md5 per
    * shingle, 40-bit halves, h_i = (a + i·b) mod 2^40 — engine-exact
    * vs Spark because every value stays a positive BIGINT. */
  private val sigHalvesSql: String = """
      SELECT doc_id,
             CAST('0x' || SUBSTR(MD5(s), 1, 10) AS BIGINT) AS a,
             CAST('0x' || SUBSTR(MD5(s), 11, 10) AS BIGINT) AS b
      FROM sh"""
  private val sigMinsSql: String =
    (1 to 8).map(i => s"MIN((a + $i * b) % $SigMod) AS h$i").mkString(", ")

  val qMinhashLshOracle: String = {
    s"""
    WITH sh AS ($shinglesSql),
    hp AS ($sigHalvesSql),
    sig AS (SELECT doc_id, $sigMinsSql FROM hp GROUP BY doc_id),
    bands AS (
      SELECT doc_id, 1 AS band_id, h1 || ':' || h2 AS band_sig FROM sig
      UNION ALL SELECT doc_id, 2, h3 || ':' || h4 FROM sig
      UNION ALL SELECT doc_id, 3, h5 || ':' || h6 FROM sig
      UNION ALL SELECT doc_id, 4, h7 || ':' || h8 FROM sig),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_sig = y.band_sig
       AND x.doc_id < y.doc_id),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT doc_a, doc_b, COUNT(*) AS inter
      FROM cand
      JOIN sh a ON doc_a = a.doc_id
      JOIN sh b ON doc_b = b.doc_id AND a.s = b.s
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, inter / (sa.n + sb.n - inter) AS jaccard
    FROM inter
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE inter / (sa.n + sb.n - inter) >= 0.5
    ORDER BY doc_a, doc_b"""
  }

  // ---- MinHash sketch-error evaluation (t73) ----

  /** Sketch-quality report for the t28 MinHash layout — v43's
    * evaluation discipline applied to the dedup sketch: for every LSH
    * candidate pair, the signature-estimated Jaccard (fraction of the
    * 8 minhashes agreeing) against the exact shingle Jaccard, with the
    * absolute error. This is the table you read before trusting a
    * signature-only dedup pass (skipping exact verification at 100 TB)
    * or tuning k/bands: estimator bias and the false-positive tail are
    * visible per pair, not asserted.
    *
    * Scale shape: everything rides the memoized signature relation and
    * the shared band-join candidate generation — no extra corpus pass;
    * the report is candidate-pairs-sized. Determinism: n_agree is an
    * integer, est = n_agree/8 is IEEE-exact (eighths), and the exact
    * Jaccard is the same single long/long division t28 emits.
    */
  def qMinhashError(s: SparkSession, dir: String): DataFrame = {
    val cands = lshCandidates(s, dir)
    // same candidate-bounded verify relation as t28 (memoized)
    val sig = lshVerifyDocs(s, dir)
    val agree = (1 to 8).map(i =>
      when(col(s"a.h$i") === col(s"b.h$i"), 1).otherwise(0)).reduce(_ + _)
    cands
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .withColumn("n_agree", agree)
      .withColumn("inter",
        size(array_intersect(col("a.shs"), col("b.shs"))).cast("long"))
      .withColumn("jaccard",
        col("inter") / (col("a.n") + col("b.n") - col("inter")))
      .withColumn("jacc_est", col("n_agree") / lit(8.0))
      .withColumn("abs_err", abs(col("jacc_est") - col("jaccard")))
      .select(col("doc_a"), col("doc_b"), col("n_agree"), col("jacc_est"),
        col("jaccard"), col("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val qMinhashErrorOracle: String = {
    val agreeSql = (1 to 8)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""
    WITH sh AS ($shinglesSql),
    hp AS ($sigHalvesSql),
    sig AS (SELECT doc_id, $sigMinsSql FROM hp GROUP BY doc_id),
    bands AS (
      SELECT doc_id, 1 AS band_id, h1 || ':' || h2 AS band_sig FROM sig
      UNION ALL SELECT doc_id, 2, h3 || ':' || h4 FROM sig
      UNION ALL SELECT doc_id, 3, h5 || ':' || h6 FROM sig
      UNION ALL SELECT doc_id, 4, h7 || ':' || h8 FROM sig),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_sig = y.band_sig
       AND x.doc_id < y.doc_id),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM cand
      JOIN sh a ON doc_a = a.doc_id
      JOIN sh b ON doc_b = b.doc_id AND a.s = b.s
      GROUP BY 1, 2)
    SELECT c.doc_a, c.doc_b,
           $agreeSql AS n_agree,
           ($agreeSql) / 8.0 AS jacc_est,
           COALESCE(inter, 0) / (za.n + zb.n - COALESCE(inter, 0)) AS jaccard,
           ABS(($agreeSql) / 8.0 -
               COALESCE(inter, 0) / (za.n + zb.n - COALESCE(inter, 0))) AS abs_err
    FROM cand c
    JOIN sig sa ON c.doc_a = sa.doc_id
    JOIN sig sb ON c.doc_b = sb.doc_id
    JOIN sz za ON c.doc_a = za.doc_id
    JOIN sz zb ON c.doc_b = zb.doc_id
    LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
    ORDER BY c.doc_a, c.doc_b"""
  }

  /** Threshold-sensitivity sweep (t80) — the tuning table read before
    * committing to a dedup threshold: over the LSH candidate set, how
    * many pairs survive at Jaccard ≥ 0.5 / 0.7 / 0.9. A corpus whose
    * pair count collapses between 0.5 and 0.7 is template-heavy
    * (near-identical but not verbatim); one that doesn't is dominated
    * by true copies — the shape of this row decides how aggressive
    * the production threshold can be. Pure aggregation over t73's
    * per-pair frame (shared candidates, shared exact Jaccard): zero
    * extra corpus passes, conditional integer counts.
    */
  def qThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val pairs = qMinhashError(s, dir)
    def atLeast(t: Double) =
      sum(when(col("jaccard") >= t, 1L).otherwise(0L))
    pairs.agg(
      count(lit(1)).as("n_candidates"),
      atLeast(0.5).as("n_j50"),
      atLeast(0.7).as("n_j70"),
      atLeast(0.9).as("n_j90"))
  }

  val qThresholdSweepOracle: String = s"""
    WITH me AS ($qMinhashErrorOracle)
    SELECT COUNT(*) AS n_candidates,
           CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_j50,
           CAST(SUM(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_j70,
           CAST(SUM(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_j90
    FROM me"""

  /** Near-dup cluster assignment — the dedup endgame: connected
    * components over the MinHash+LSH pair graph, each member labeled
    * with its component's minimum doc_id and the canonical copy
    * flagged. Components come from [[Scale.connectedComponents]] —
    * alternating large-star/small-star rounds (r7; previously plain
    * min-label propagation whose round count was linear in component
    * diameter, a silent cap-breaker for chained near-dup graphs at
    * 100 TB). Every round is still only distributed join+aggregate
    * steps; the driver checks convergence, never holds the graph.
    */
  /** Connected-component labels of the LSH near-dup pair graph,
    * memoized per (session, dir): the components fixed point is a
    * corpus-snapshot ARTIFACT — t40 (cluster report) and t52 (survivor
    * selection) both read it, and at 100 TB you run the loop once per
    * snapshot, not once per downstream query.
    */
  private def ccLabels(s: SparkSession, dir: String): DataFrame =
    memoPersist("cc-labels", s, dir) {
      val pairs = qMinhashLsh(s, dir)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      Scale.connectedComponents(pairs)._1
    }

  def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val labels = ccLabels(s, dir)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"),
        (col("doc_id") === col("label")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  def qDedupClustersOracle: String = s"""
    WITH RECURSIVE mh AS ($qMinhashLshOracle),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM mh
      UNION
      SELECT doc_b, doc_a FROM mh),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    labels AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
      FROM reach GROUP BY u)
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM labels
    ORDER BY doc_id"""

  /** Near-dup survivor selection — the end step of corpus dedup that
    * t40's clustering feeds: keep exactly ONE representative per
    * cluster (highest t31 quality score, ties to the smallest doc_id)
    * and every unclustered document as its own survivor. The output is
    * the deduplicated-corpus manifest a training run reads.
    *
    * Scale shape: clusters come from the log-round components loop,
    * the score is one in-row pass, and selection is a single partial
    * aggregate keyed by cluster_id — `max(struct(score, -doc_id))`
    * ships one candidate per cluster per map task, so the shuffle
    * carries #clusters rows, not #docs, and there is no global
    * ordering anywhere. Wordless documents carry no shingles (so never
    * cluster) and no defined quality score; both engines exclude them.
    */
  /** (doc_id, score) of every scorable document — shared by t52 and
    * the independent components checker (tools.CcCheck), so the
    * checker verifies selection over the exact scores the gate used.
    */
  private[graft] def scoredDocs(s: SparkSession, dir: String): DataFrame =
    withQualityScore(Tables.documents(s, dir).withColumn("words", wordsCol))
      .select(col("doc_id"), col("score"))

  /** LSH near-dup pair graph edges — the t40/t52 input, exposed for
    * the independent checker. */
  private[graft] def nearDupEdges(s: SparkSession, dir: String): DataFrame =
    qMinhashLsh(s, dir).select(col("doc_a").as("u"), col("doc_b").as("v"))

  def qDedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val labels = ccLabels(s, dir)
    val scored = scoredDocs(s, dir)
    scored.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("score"), (-col("doc_id")).as("neg_id"))).as("best"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), (-col("best.neg_id")).as("survivor_id"),
        col("cluster_size"), col("best.score").as("score"))
      .orderBy(col("cluster_id"))
  }

  def qDedupSurvivorsOracle: String = s"""
    WITH RECURSIVE mh AS ($qMinhashLshOracle),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM mh
      UNION
      SELECT doc_b, doc_a FROM mh),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    labels AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
      FROM reach GROUP BY u),
    f AS (SELECT doc_id, $wordsSql AS words FROM documents),
    g AS (
      SELECT doc_id, LEN(words) AS n_words,
             LEN(LIST_DISTINCT(words)) AS n_distinct,
             LEN(LIST_FILTER(words, w -> w IN ('the','a','of','and','to'))) AS n_stop
      FROM f
      WHERE LEN(words) > 0),
    sc AS (
      SELECT doc_id, (n_distinct / n_words) * 0.5 + (1.0 - (n_stop / n_words)) * 0.3 +
             LEAST(n_words / 50.0, 1.0) * 0.2 AS score
      FROM g),
    cl AS (
      SELECT sc.doc_id, COALESCE(l.cluster_id, sc.doc_id) AS cluster_id, score
      FROM sc LEFT JOIN labels l ON sc.doc_id = l.doc_id),
    rk AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM cl)
    SELECT cluster_id, doc_id AS survivor_id, cluster_size, score
    FROM rk WHERE rn = 1
    ORDER BY cluster_id"""

  /** Document novelty — the fraction of a doc's distinct shingles seen
    * NOWHERE else in the corpus (global df = 1): the uniqueness
    * diagnostic curation dashboards rank documents and sources by.
    * Integer counts and ONE final division (engine-exact); reads the
    * memoized shingle relation, and the df aggregate is
    * map-side-combinable and vocabulary-sized. Documents too short to
    * shingle (< 3 words) have no defined novelty and are absent on
    * both engines.
    */
  def qNovelty(s: SparkSession, dir: String): DataFrame = {
    // r15: no shingle-sized join. A shingle with global df = 1 occurs
    // in exactly ONE document, so its owner is min(doc_id) of its own
    // df aggregate — per-doc unique counts then come from the
    // vocabulary-sized df frame, and per-doc totals from a direct
    // (map-side-combinable) count; the old shape shuffled the shingle
    // relation a second time to join df back onto every occurrence.
    // Both aggregates are doc-keyed and output-sized at any corpus.
    val sh = docShingles(s, dir)
      .select(col("doc_id"), explode(col("shs")).as("s"))
    val uniq = sh.groupBy(col("s"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
      .join(uniq, Seq("doc_id"), "left")
      .withColumn("n_unique", coalesce(col("n_unique"), lit(0L)))
      .withColumn("novelty", col("n_unique") / col("n_shingles"))
      .orderBy(col("doc_id"))
  }

  val qNoveltyOracle: String = s"""
    WITH sh AS ($shinglesSql),
    dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
    j AS (
      SELECT sh.doc_id, CASE WHEN df = 1 THEN 1 ELSE 0 END AS u
      FROM sh JOIN dfreq ON sh.s = dfreq.s),
    g AS (
      SELECT doc_id, COUNT(*) AS n_shingles, CAST(SUM(u) AS BIGINT) AS n_unique
      FROM j GROUP BY doc_id)
    SELECT doc_id, n_shingles, n_unique, n_unique / n_shingles AS novelty
    FROM g
    ORDER BY doc_id"""

  /** Cross-source duplication matrix: how many near-dup pairs connect
    * each (source, source) cell — the diagnostic that tells a recipe
    * which corpora overlap (a web dump that swallowed a books source
    * shows up as a hot off-diagonal cell). The pair list is the
    * memoized LSH candidate set; sources attach by doc-id equi-join
    * (AQE broadcasts the small side); the result is ≤ #sources² rows.
    * Orientation is canonical (src_lo ≤ src_hi) so A–B and B–A land in
    * the same cell.
    */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    qMinhashLsh(s, dir)
      .join(src.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "src_a"), Seq("doc_a"))
      .join(src.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("source", "src_b"), Seq("doc_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("src_lo"),
        greatest(col("src_a"), col("src_b")).as("src_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_lo"), col("src_hi"))
  }

  val qSourceOverlapOracle: String = s"""
    WITH mh AS ($qMinhashLshOracle),
    j AS (
      SELECT LEAST(da.source, db.source) AS src_lo,
             GREATEST(da.source, db.source) AS src_hi
      FROM mh
      JOIN documents da ON mh.doc_a = da.doc_id
      JOIN documents db ON mh.doc_b = db.doc_id)
    SELECT src_lo, src_hi, COUNT(*) AS n_pairs
    FROM j
    GROUP BY 1, 2
    ORDER BY src_lo, src_hi"""

  /** SimHash (near-dup sketch #3): one 32-bit signature per doc.
    * Bit j is the majority vote of hex-nibble-parity bits of each
    * word's md5 — a deterministic, engine-portable formulation of the
    * classic Charikar sketch. Docs are bucketed by the top half of the
    * signature (16-bit band) for candidate generation.
    */
  def qSimhash(s: SparkSession, dir: String): DataFrame = {
    val odd = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    val bitCols = (0 until 32).map { j =>
      sum(when(substring(col("wh"), j + 1, 1).isin(odd: _*), 1).otherwise(-1))
    }
    val bits = (0 until 32).map(j =>
      when(col(s"b$j") > 0, "1").otherwise("0"))
    val agg = Tables.documents(s, dir)
      .select(col("doc_id"), explode(wordsCol).as("w"))
      .withColumn("wh", md5(col("w")))
      .groupBy(col("doc_id"))
      .agg(bitCols.head.as("b0"), bitCols.tail.zipWithIndex.map {
        case (c, i) => c.as(s"b${i + 1}") }: _*)
    val w = Window.partitionBy(col("band"))
    agg.withColumn("simhash", concat(bits: _*))
      .withColumn("band", substring(col("simhash"), 1, 16))
      .withColumn("n_bucket", count(lit(1)).over(w))
      .select(col("doc_id"), col("simhash"), col("band"), col("n_bucket"))
      .orderBy(col("doc_id"))
  }

  val qSimhashOracle: String = {
    val bitSums = (0 until 32).map(j =>
      s"SUM(CASE WHEN SUBSTRING(MD5(w), ${j + 1}, 1) IN " +
      "('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS b" + j)
      .mkString(", ")
    val bits = (0 until 32).map(j =>
      s"CASE WHEN b$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""
    WITH wrds AS (SELECT doc_id, UNNEST($wordsSql) AS w FROM documents),
    agg AS (SELECT doc_id, $bitSums FROM wrds GROUP BY doc_id),
    sig AS (SELECT doc_id, $bits AS simhash FROM agg),
    banded AS (SELECT doc_id, simhash, SUBSTRING(simhash, 1, 16) AS band FROM sig)
    SELECT doc_id, simhash, band, COUNT(*) OVER (PARTITION BY band) AS n_bucket
    FROM banded
    ORDER BY doc_id"""
  }

  /** Language-ID by marker-word voting (n-gram-profile heuristic shape):
    * score each doc against per-language marker sets, argmax with
    * strict-majority, ties → 'und'. Pure per-row computation.
    */
  def qLangId(s: SparkSession, dir: String): DataFrame = {
    val profiles = Seq(
      "sqlish"  -> Seq("join", "merge", "hash", "sort", "scan", "filter"),
      "sparkish" -> Seq("spark", "stream", "batch", "query", "window", "group"),
      "bizish"  -> Seq("customer", "order", "line", "part", "value", "data"))
    val scored = profiles.foldLeft(
      Tables.documents(s, dir).withColumn("words", wordsCol)) {
      case (df, (lang, ws)) =>
        df.withColumn(s"s_$lang",
          expr(s"size(filter(words, w -> w in (${ws.map("'" + _ + "'").mkString(",")})))")
            .cast("long"))
    }
    val pred = when(col("s_sqlish") > col("s_sparkish") && col("s_sqlish") > col("s_bizish"), "sqlish")
      .when(col("s_sparkish") > col("s_sqlish") && col("s_sparkish") > col("s_bizish"), "sparkish")
      .when(col("s_bizish") > col("s_sqlish") && col("s_bizish") > col("s_sparkish"), "bizish")
      .otherwise("und")
    scored.withColumn("lang_pred", pred)
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang_pred"))
  }

  val qLangIdOracle: String = """
    WITH scored AS (
      SELECT doc_id,
        LEN(LIST_FILTER(LIST_FILTER(STRING_SPLIT(text,' '), w -> w <> ''),
            w -> w IN ('join','merge','hash','sort','scan','filter'))) AS s_sqlish,
        LEN(LIST_FILTER(LIST_FILTER(STRING_SPLIT(text,' '), w -> w <> ''),
            w -> w IN ('spark','stream','batch','query','window','group'))) AS s_sparkish,
        LEN(LIST_FILTER(LIST_FILTER(STRING_SPLIT(text,' '), w -> w <> ''),
            w -> w IN ('customer','order','line','part','value','data'))) AS s_bizish
      FROM documents),
    pred AS (
      SELECT doc_id,
        CASE WHEN s_sqlish > s_sparkish AND s_sqlish > s_bizish THEN 'sqlish'
             WHEN s_sparkish > s_sqlish AND s_sparkish > s_bizish THEN 'sparkish'
             WHEN s_bizish > s_sqlish AND s_bizish > s_sparkish THEN 'bizish'
             ELSE 'und' END AS lang_pred
      FROM scored)
    SELECT lang_pred, COUNT(*) AS n, MIN(doc_id) AS first_doc
    FROM pred
    GROUP BY lang_pred
    ORDER BY lang_pred"""

  /** Adds `n_words`/`n_distinct`/`n_stop`/`distinct_ratio`/`stop_ratio`/
    * `score` to a frame carrying a `words` array column — the t31
    * quality formula, shared with the curation chain (t47) so the score
    * weights and stop list cannot silently desync between the two.
    * Drops wordless documents: their ratios are undefined, and under
    * ANSI mode (Spark 4 default) the 0/0 division would throw.
    */
  private[graft] def withQualityScore(df: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    df
      .withColumn("n_words", size(col("words")).cast("long"))
      .filter(col("n_words") > 0)
      .withColumn("n_distinct", size(array_distinct(col("words"))).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(words, w -> w in (${stop.map("'" + _ + "'").mkString(",")})))")
          .cast("long"))
      .withColumn("distinct_ratio", col("n_distinct") / col("n_words"))
      .withColumn("stop_ratio", col("n_stop") / col("n_words"))
      .withColumn("score",
        col("distinct_ratio") * 0.5 + (lit(1.0) - col("stop_ratio")) * 0.3 +
          least(col("n_words") / 50.0, lit(1.0)) * 0.2)
  }

  /** The curation chain's survival threshold (the 'fair' band floor). */
  private[graft] val QualityFloor = 0.6

  /** Band thresholds, highest floor first; a score below every floor
    * falls into [[QualityDefaultBand]]. This table is the SINGLE
    * source for the gate's when-chain, the oracle's CASE and the band
    * domain below — a new band added here reaches all three at once,
    * so the t75 rate-coverage guard checks against what the emitter
    * actually emits, not a third hand-maintained copy (r9 review).
    */
  private[graft] val QualityBandThresholds: Seq[(String, Double)] =
    Seq("good" -> 0.8, "fair" -> QualityFloor)
  private[graft] val QualityDefaultBand: String = "low"

  /** The COMPLETE band domain [[qQualityScore]] can emit. Consumers
    * that key per-band parameters (t75's sampling rates) assert
    * coverage against this list, so adding a band without updating
    * them fails fast instead of silently dropping the new band's docs
    * through a null map lookup (r8 ADVICE).
    */
  private[graft] val QualityBands: Seq[String] =
    QualityBandThresholds.map(_._1) :+ QualityDefaultBand

  /** Quality scoring: length/diversity/stopword-ratio features and a
    * weighted score — the training-data quality-filter shape. All
    * ratios are int/int divisions evaluated in identical order on both
    * engines.
    */
  def qQualityScore(s: SparkSession, dir: String): DataFrame = {
    val band = QualityBandThresholds
      .foldRight(lit(QualityDefaultBand): org.apache.spark.sql.Column) {
        case ((b, floor), rest) => when(col("score") >= floor, b).otherwise(rest)
      }
    withQualityScore(Tables.documents(s, dir).withColumn("words", wordsCol))
      .withColumn("band", band)
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        col("n_stop"), col("score"), col("band"))
      .orderBy(col("doc_id"))
  }

  val qQualityScoreOracle: String = s"""
    WITH f AS (
      SELECT doc_id, $wordsSql AS words FROM documents),
    g AS (
      SELECT doc_id, LEN(words) AS n_words,
             LEN(LIST_DISTINCT(words)) AS n_distinct,
             LEN(LIST_FILTER(words, w -> w IN ('the','a','of','and','to'))) AS n_stop
      FROM f
      WHERE LEN(words) > 0),
    h AS (
      SELECT *, (n_distinct / n_words) * 0.5 + (1.0 - (n_stop / n_words)) * 0.3 +
             LEAST(n_words / 50.0, 1.0) * 0.2 AS score
      FROM g)
    SELECT doc_id, n_words, n_distinct, n_stop, score,
           CASE ${QualityBandThresholds.map { case (b, f) =>
             s"WHEN score >= $f THEN '$b'" }.mkString(" ")}
                ELSE '$QualityDefaultBand' END AS band
    FROM h
    ORDER BY doc_id"""

  /** Gopher-style quality RULES (Rae et al. 2021, table A1 shape) —
    * the standard pretraining hard-filter bundle alongside t31's soft
    * score: word-count band, mean word length band, symbol-to-word
    * ratio, alphabetic-word ratio, minimum stop-word count, and the
    * conjunction as `keep`. All statistics are in-row integer counts
    * with one final division each (engine-exact); zero shuffles.
    *
    * The synthetic corpus is pure lowercase words, so the symbol and
    * alphabetic rules would be vacuously true on raw text — the text
    * is deterministically AUGMENTED from doc_id (t41's known-positive
    * pattern; both engines build the identical string) so every rule
    * has discriminating data.
    */
  def qGopherRules(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("t2", concat(col("text"),
        expr("repeat(' #', cast(doc_id % 7 as int))"),
        expr("repeat(' 12345', cast(doc_id % 4 as int))"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" ...")).otherwise(lit(""))))
      .withColumn("words", expr("filter(split(t2, ' '), w -> w != '')"))
      .filter(size(col("words")) > 0)
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("sum_len",
        expr("aggregate(words, 0L, (a, w) -> a + length(w))"))
      .withColumn("mean_word_len", col("sum_len") / col("n_words"))
      .withColumn("n_symbol",
        expr("size(filter(words, w -> w = '#' or w = '...'))").cast("long"))
      .withColumn("symbol_ratio", col("n_symbol") / col("n_words"))
      .withColumn("n_alpha",
        expr("size(filter(words, w -> w rlike '[a-z]'))").cast("long"))
      .withColumn("alpha_ratio", col("n_alpha") / col("n_words"))
      .withColumn("n_stop",
        expr("size(filter(words, w -> w in ('the','a','of','and','to')))").cast("long"))
      .withColumn("keep",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_ratio") <= 0.1 &&
          col("alpha_ratio") >= 0.8 &&
          col("n_stop") >= 2)
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("alpha_ratio"), col("n_stop"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val qGopherRulesOracle: String = """
    WITH a AS (
      SELECT doc_id,
             text || REPEAT(' #', CAST(doc_id % 7 AS INT))
                  || REPEAT(' 12345', CAST(doc_id % 4 AS INT))
                  || CASE WHEN doc_id % 3 = 0 THEN ' ...' ELSE '' END AS t2
      FROM documents),
    w AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(t2, ' '), x -> x <> '') AS words
      FROM a),
    g AS (
      SELECT doc_id,
             CAST(LEN(words) AS BIGINT) AS n_words,
             CAST(LIST_SUM(LIST_TRANSFORM(words, x -> LENGTH(x))) AS BIGINT) AS sum_len,
             CAST(LEN(LIST_FILTER(words, x -> x = '#' OR x = '...')) AS BIGINT) AS n_symbol,
             CAST(LEN(LIST_FILTER(words, x -> REGEXP_MATCHES(x, '[a-z]'))) AS BIGINT) AS n_alpha,
             CAST(LEN(LIST_FILTER(words, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop
      FROM w
      WHERE LEN(words) > 0)
    SELECT doc_id, n_words,
           sum_len / n_words AS mean_word_len,
           n_symbol / n_words AS symbol_ratio,
           n_alpha / n_words AS alpha_ratio,
           n_stop,
           (n_words >= 50 AND n_words <= 100000
            AND sum_len / n_words >= 3.0 AND sum_len / n_words <= 10.0
            AND n_symbol / n_words <= 0.1
            AND n_alpha / n_words >= 0.8
            AND n_stop >= 2) AS keep
    FROM g
    ORDER BY doc_id"""

  /** PII redaction — the scrubbing pass a training corpus runs before
    * anything else sees the text. Pure per-row regexp work (codegen'd,
    * zero shuffle); patterns are restricted to constructs with
    * identical leftmost-match semantics in Java regex and RE2 (no
    * backreferences, no lookaround), so the redacted text is
    * engine-exact. The corpus text is deterministically AUGMENTED with
    * synthetic PII derived from doc_id (both engines build the same
    * string), so the gate verifies on known-positive data instead of
    * vacuous zero counts.
    */
  private val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val SsnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  private val PhoneRe = "\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}"

  def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val augmented = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com"),
      lit(" ssn 123-45-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" tel (555) 010-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")))
    Tables.documents(s, dir)
      .withColumn("aug", augmented)
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(col("aug"),
          EmailRe, "[EMAIL]"), SsnRe, "[SSN]"), PhoneRe, "[PHONE]"))
      .select(col("doc_id"),
        regexp_count(col("aug"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("aug"), lit(SsnRe)).cast("long").as("n_ssns"),
        regexp_count(col("aug"), lit(PhoneRe)).cast("long").as("n_phones"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  val qPiiRedactOracle: String = s"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com' ||
             ' ssn 123-45-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             CASE WHEN doc_id % 3 = 0
                  THEN ' tel (555) 010-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END AS a
      FROM documents)
    SELECT doc_id,
           CAST(LEN(REGEXP_EXTRACT_ALL(a, '$EmailRe')) AS BIGINT) AS n_emails,
           CAST(LEN(REGEXP_EXTRACT_ALL(a, '$SsnRe')) AS BIGINT) AS n_ssns,
           CAST(LEN(REGEXP_EXTRACT_ALL(a, '$PhoneRe')) AS BIGINT) AS n_phones,
           MD5(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(a,
             '$EmailRe', '[EMAIL]', 'g'), '$SsnRe', '[SSN]', 'g'),
             '$PhoneRe', '[PHONE]', 'g')) AS redacted_md5
    FROM aug
    ORDER BY doc_id"""

  /** Token counting: whitespace tokens plus a BPE-ish estimate
    * (⌈len/4⌉ subword units per word, integer arithmetic only).
    */
  def qTokenCount(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("words", wordsCol)
      .withColumn("ws_tokens", size(col("words")).cast("long"))
      .withColumn("bpe_tokens",
        expr("aggregate(words, 0L, (acc, w) -> acc + ((length(w) + 3) div 4))"))
      .withColumn("chars", length(col("text")).cast("long"))
      .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
        col("chars"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val qTokenCountOracle: String = s"""
    WITH f AS (SELECT doc_id, n_chars, LENGTH(text) AS chars, $wordsSql AS words
               FROM documents),
    t AS (SELECT doc_id, UNNEST(words) AS w FROM f),
    b AS (SELECT doc_id, CAST(SUM((LENGTH(w) + 3) // 4) AS BIGINT) AS bpe_tokens,
                 COUNT(*) AS ws_tokens
          FROM t GROUP BY doc_id)
    SELECT f.doc_id, b.ws_tokens, b.bpe_tokens, f.chars, f.n_chars
    FROM f JOIN b ON f.doc_id = b.doc_id
    ORDER BY f.doc_id"""

  // ---- Per-source quantile thresholding (t72) ----

  /** FineWeb-style per-source quality thresholding: rank every document
    * by t31's quality score WITHIN its source and keep the top 70% of
    * each source — the calibration trick that stops a single
    * high-scoring source from crowding out every other source under a
    * single global cutoff (each source's own score distribution sets
    * its bar). Shares [[withQualityScore]] with t31/t47, so the score
    * being thresholded is the same one the quality gate reports.
    *
    * Scale shape: the per-source ranking is [[Scale.distributedRank]]
    * — a naive `row_number().over(partitionBy(source))` funnels every
    * row of a source through ONE reducer (a handful of sources over
    * 100 TB = a handful of straggler tasks); the two-phase
    * range-partition + prefix-offset formulation ranks bounded slices.
    * The keep rule is pure integer arithmetic (`rank·10 ≤ 7·n`): no
    * percentile float whose last ulp could disagree across engines.
    */
  def qQuantileThreshold(s: SparkSession, dir: String): DataFrame = {
    val scored = withQualityScore(
        Tables.documents(s, dir).withColumn("words", wordsCol))
      .select(col("doc_id"), col("source"), col("score"))
      // rank by score DESC then doc_id ASC as ONE range-partitionable
      // key: negating an IEEE double is exact, so ordering by -score is
      // ordering by score desc
      .withColumn("__ord", struct((-col("score")).as("ns"), col("doc_id")))
    val (ranked, counts) = Scale.distributedRankWithCounts(scored, "source",
      "__ord", "src_rank",
      materialize = df => SessionMemo.persist("text:quantile-rank", s, dir)(df))
    // per-source totals from the rank pass's own per-slice counts
    // (tasks × sources rows) — r15: the previous groupBy re-scanned
    // the corpus-sized ranked frame for the same numbers
    val sizes = counts.groupBy(col("source")).agg(sum(col("__cnt")).as("n_src"))
    ranked.join(broadcast(sizes), Seq("source"))
      .withColumn("keep", col("src_rank") * 10 <= col("n_src") * 7)
      .select(col("doc_id"), col("source"), col("score"),
        col("src_rank"), col("n_src"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val qQuantileThresholdOracle: String = s"""
    WITH f AS (
      SELECT doc_id, source, $wordsSql AS words FROM documents),
    g AS (
      SELECT doc_id, source, LEN(words) AS n_words,
             LEN(LIST_DISTINCT(words)) AS n_distinct,
             LEN(LIST_FILTER(words, w -> w IN ('the','a','of','and','to'))) AS n_stop
      FROM f
      WHERE LEN(words) > 0),
    h AS (
      SELECT doc_id, source,
             (n_distinct / n_words) * 0.5 + (1.0 - (n_stop / n_words)) * 0.3 +
             LEAST(n_words / 50.0, 1.0) * 0.2 AS score
      FROM g),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS src_rank,
             COUNT(*) OVER (PARTITION BY source) AS n_src
      FROM h)
    SELECT doc_id, source, score, src_rank, n_src,
           (src_rank * 10 <= n_src * 7) AS keep
    FROM r
    ORDER BY doc_id"""

  val all: Seq[GateQuery] = Seq(
    GateQuery("t25_dedup_exact", qDedupExact, Some(qDedupExactOracle)),
    GateQuery("t26_fingerprint", qFingerprint, Some(qFingerprintOracle)),
    GateQuery("t27_ngram_jaccard", qNgramJaccard, Some(qNgramJaccardOracle)),
    GateQuery("t38_jaccard_dfcap", qJaccardDfCap, Some(qJaccardDfCapOracle)),
    GateQuery("t60_containment", qContainment, Some(qContainmentOracle)),
    GateQuery("t28_minhash_lsh", qMinhashLsh, Some(qMinhashLshOracle)),
    GateQuery("t73_minhash_error", qMinhashError, Some(qMinhashErrorOracle)),
    GateQuery("t80_threshold_sweep", qThresholdSweep, Some(qThresholdSweepOracle)),
    GateQuery("t40_dedup_clusters", qDedupClusters, Some(qDedupClustersOracle)),
    GateQuery("t52_dedup_survivors", qDedupSurvivors, Some(qDedupSurvivorsOracle)),
    GateQuery("t54_novelty", qNovelty, Some(qNoveltyOracle)),
    GateQuery("t55_source_overlap", qSourceOverlap, Some(qSourceOverlapOracle)),
    GateQuery("t29_simhash", qSimhash, Some(qSimhashOracle)),
    GateQuery("t30_langid", qLangId, Some(qLangIdOracle)),
    GateQuery("t41_pii_redact", qPiiRedact, Some(qPiiRedactOracle)),
    GateQuery("t31_quality_score", qQualityScore, Some(qQualityScoreOracle)),
    GateQuery("t56_gopher_rules", qGopherRules, Some(qGopherRulesOracle)),
    GateQuery("t32_token_count", qTokenCount, Some(qTokenCountOracle)),
    GateQuery("t72_quantile_threshold", qQuantileThreshold, Some(qQuantileThresholdOracle)),
  )
}
