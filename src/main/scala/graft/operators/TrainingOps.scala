package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.streaming.IncrementalSpanIndex

/** Training-data curation operators beyond dedup/quality: deterministic
  * splitting, weighted source mixing, benchmark decontamination and
  * repetition filtering — the remaining core ops of a 100 TB pretraining
  * pipeline, all engine-portable (hash-based, no RNG) and oracle-checked.
  */
object TrainingOps {

  /** Deterministic train/eval/test split by md5 bucket of the document
    * id: reproducible across engines, runs and partitionings (no RNG),
    * stable under re-runs — the property a data pipeline actually needs
    * from its splits. 2-hex-digit bucket (256 values): < 0x0d → test
    * (~5%), < 0x27 → eval (~10%), rest train.
    */
  /** The deterministic split column of t33, shared with the curation
    * chain (t47) so the bucket thresholds cannot silently desync.
    */
  private[graft] def splitCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket = conv(substring(md5(id.cast("string")), 1, 2), 16, 10).cast("int")
    when(bucket < 13, "test").when(bucket < 39, "eval").otherwise("train")
  }

  def qSplit(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("split", splitCol(col("doc_id")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("split"))
  }

  val qSplitOracle: String = """
    WITH b AS (
      SELECT *, CAST(CONCAT('0x', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) AS bucket
      FROM documents)
    SELECT CASE WHEN bucket < 13 THEN 'test'
                WHEN bucket < 39 THEN 'eval' ELSE 'train' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           MIN(doc_id) AS first_doc
    FROM b
    GROUP BY 1
    ORDER BY split"""

  /** Weighted source mixing: per-source quotas (weight × total docs of
    * the smallest source, the "epochs per source" shape), filled
    * deterministically by doc_id order — no sampling randomness. Emits
    * the mixed manifest's per-source stats.
    *
    * The per-source rank is [[Scale.distributedRank]] (r5, VERDICT #1):
    * a naive `row_number().over(Window.partitionBy(source))` funnels
    * each source's total order through ONE reducer — with 4 sources at
    * 100 TB that is four stragglers sorting ~25 TB each. The two-phase
    * prefix-offset rank keeps every task's slice bounded by the range
    * split size; the unweighted-source filter runs BEFORE the shuffle
    * so dropped sources never pay the exchange.
    */
  def qSourceMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val weights = map(
      lit("src0"), lit(1.0), lit("src1"), lit(0.5),
      lit("src2"), lit(2.0), lit("src3"), lit(0.25))
    val quotad = docs
      .withColumn("quota",
        floor(element_at(weights, col("source")) * 100).cast("long"))
      .filter(col("quota").isNotNull)
    Scale.distributedRank(quotad, "source", "doc_id", "rn",
      materialize = df => SessionMemo.persist("training:mix-ranked", s, dir)(df))
      .filter(col("rn") <= col("quota"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_selected"),
        max(col("rn")).cast("long").as("max_rank"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"))
  }

  val qSourceMixOracle: String = """
    WITH q AS (
      SELECT *, CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
                            WHEN 'src2' THEN 200 WHEN 'src3' THEN 25 END AS quota,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents)
    SELECT source, COUNT(*) AS n_selected,
           CAST(MAX(rn) AS BIGINT) AS max_rank,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM q
    WHERE quota IS NOT NULL AND rn <= quota
    GROUP BY source
    ORDER BY source"""

  /** Temperature (square-root) source sampling — the multilingual
    * rebalancing rule (XLM-R's α-sampling at α = 0.5): sampling rates
    * proportional to tokens^α instead of tokens, so head sources stop
    * drowning the tail without the tail over-repeating. Emitted per
    * source: exact doc/token counts, the NATURAL token share, and the
    * temperature-adjusted rate, both in integer micro-units.
    *
    * Engine-exact by construction: IEEE `sqrt` is correctly rounded
    * (unlike `pow`, which is why α is pinned to 0.5 rather than a free
    * parameter), quantized to micro-units per source BEFORE summing, so
    * every cross-source reduction is bigint arithmetic; the rates are
    * bigint multiply-then-divide. Quantization headroom: w_micro × 10⁶
    * stays under Long.Max through ~10¹⁴ tokens per source — two orders
    * past a 100 TB corpus.
    *
    * Plan: one scan → per-source partial-agg'd groupBy (≤ #sources
    * rows) → broadcast 1-row totals — scan-shaped at any corpus size.
    */
  def qTemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(s, dir)
      .select(col("source"),
        size(TextOps.wordsCol).cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .withColumn("w_micro",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1e6)).cast("long"))
    val totals = perSource.agg(
      sum(col("w_micro")).as("tw"), sum(col("n_tokens")).as("tt"))
    perSource.crossJoin(broadcast(totals))
      .withColumn("natural_micro", expr("n_tokens * 1000000 div tt"))
      .withColumn("rate_micro", expr("w_micro * 1000000 div tw"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("natural_micro"), col("rate_micro"))
      .orderBy(col("source"))
  }

  val qTemperatureMixOracle: String = """
    WITH ps AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    w AS (SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
          FROM ps),
    t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tw,
                 CAST(SUM(n_tokens) AS BIGINT) AS tt FROM w)
    SELECT source, n_docs, n_tokens,
           n_tokens * 1000000 // tt AS natural_micro,
           w_micro * 1000000 // tw AS rate_micro
    FROM w CROSS JOIN t
    ORDER BY source"""

  // UniMax parameters: at most [[UniMaxEpochs]] passes over any source,
  // total budget 1.9× the corpus (19/10 in exact integer form) — sized
  // so the waterfill hits BOTH regimes on the synthetic corpus (the
  // smallest sources cap out, the rest sit at the shared water level).
  private val UniMaxEpochs = 2L

  /** UniMax source sampling (Chung et al. 2023): distribute a token
    * budget across sources as UNIFORMLY as possible subject to a hard
    * per-source epoch cap — the fairness-first alternative to t64's
    * temperature rule (which still tracks corpus size) and t34's
    * natural-share quotas. Sources too small to absorb an equal share
    * repeat up to [[UniMaxEpochs]] epochs and cap out; every other
    * source gets the same water-level allocation.
    *
    * The waterfill is CLOSED-FORM over the per-source aggregate — no
    * iteration: sort sources by capacity ascending; source i (with
    * prefix-capacity S_{i−1} and k_i = n−i+1 sources remaining) caps
    * out iff even granting it and every larger source its own capacity
    * level, S_{i−1} + cap_i·k_i ≤ B — the textbook monotone test — and
    * the uncapped remainder splits B − Σ capped exactly, the integer
    * remainder going to the first uncapped sources in sort order
    * (cap_i > level guarantees share+1 ≤ cap_i, so the bump never
    * violates a cap).
    *
    * Scale shape: one scan → per-source partial-agg'd groupBy
    * (≤ #sources rows) → the ENTIRE waterfill folded into ONE row
    * (`sort_array(collect_list(struct))` + in-row HOF folds, the
    * qBpePairs pattern) and exploded back. No window anywhere in the
    * plan — in particular no unpartitioned WindowExec, which is this
    * repo's declared red line (r8 VERDICT #1: the previous version
    * ranked the frame with `Window.orderBy`, emitting 26 "No Partition
    * Defined" warnings; benign at ≤ #sources rows but it buried the
    * invariant). The in-row prefix sums are O(#sources²) inside one
    * row — #sources is a recipe-sized constant, never corpus-sized.
    * Every quantity is exact bigint arithmetic end to end: the gate is
    * engine-portable with zero float ops.
    */
  def qUnimaxMix(s: SparkSession, dir: String): DataFrame =
    unimaxAlloc(Tables.documents(s, dir)
      .select(col("source"),
        size(TextOps.wordsCol).cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(sum(col("toks")).as("n_tokens")))

  /** The closed-form waterfill over a (source, n_tokens) frame —
    * factored out of the gate so specs can drive it with constructed
    * source distributions (UnimaxPropertySpec differentials it against
    * a straight-line Scala reference on randomized corpora).
    */
  private[graft] def unimaxAlloc(perSourceTokens: DataFrame): DataFrame = {
    val perSource = perSourceTokens
      .withColumn("cap", col("n_tokens") * lit(UniMaxEpochs))
    // struct field order (cap, source, …) makes sort_array reproduce the
    // waterfill's ORDER BY cap, source; (cap, source) is unique per row.
    perSource
      .agg(sort_array(collect_list(
        struct(col("cap"), col("source"), col("n_tokens")))).as("xs"))
      .withColumn("n", expr("bigint(size(xs))"))
      .withColumn("budget",
        expr("aggregate(xs, bigint(0), (a, x) -> a + x.n_tokens) * 19 div 10"))
      // i = j+1 (1-based rank), s_prev = Σ cap over the strict prefix;
      // capped iff even granting this and every larger source this
      // source's own cap level stays within budget (monotone test).
      .withColumn("flagged", expr(
        """transform(xs, (x, j) -> named_struct(
             'source', x.source, 'n_tokens', x.n_tokens, 'cap', x.cap,
             'capped', aggregate(slice(xs, 1, j), bigint(0), (a, y) -> a + y.cap)
                         + x.cap * (n - j) <= budget))"""))
      .withColumn("sc", expr(
        "aggregate(flagged, bigint(0), (a, x) -> a + if(x.capped, x.cap, bigint(0)))"))
      .withColumn("k", expr(
        "aggregate(flagged, bigint(0), (a, x) -> a + if(x.capped, bigint(0), bigint(1)))"))
      // rn_unc = rank within the uncapped class (array is already in
      // waterfill order): first (budget−sc) % k uncapped sources absorb
      // the integer remainder — cap > level guarantees the +1 fits.
      .withColumn("out", expr(
        """transform(flagged, (x, j) -> named_struct(
             'source', x.source, 'n_tokens', x.n_tokens, 'cap', x.cap,
             'capped', x.capped,
             'alloc', if(x.capped, x.cap,
               (budget - sc) div greatest(k, bigint(1)) +
                 if(aggregate(slice(flagged, 1, j + 1), bigint(0),
                      (a, y) -> a + if(y.capped, bigint(0), bigint(1)))
                    <= (budget - sc) % greatest(k, bigint(1)),
                    bigint(1), bigint(0)))))"""))
      .select(explode(col("out")).as("r"))
      .select(col("r.source").as("source"), col("r.n_tokens").as("n_tokens"),
        col("r.cap").as("cap"), col("r.capped").as("capped"),
        col("r.alloc").as("alloc"))
      .withColumn("epochs_micro", expr("alloc * 1000000 div n_tokens"))
      .orderBy(col("source"))
  }

  val qUnimaxMixOracle: String = s"""
    WITH ps AS (
      SELECT source,
             CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    c AS (SELECT *, n_tokens * $UniMaxEpochs AS cap FROM ps),
    o AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cap, source) AS i,
             COUNT(*) OVER () AS n,
             COALESCE(SUM(cap) OVER (ORDER BY cap, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_prev,
             CAST(SUM(n_tokens) OVER () * 19 AS BIGINT) // 10 AS budget
      FROM c),
    f AS (SELECT *, s_prev + cap * (n - i + 1) <= budget AS capped FROM o),
    agg AS (
      SELECT COALESCE(CAST(SUM(cap) FILTER (WHERE capped) AS BIGINT), 0) AS sc,
             CAST(COUNT(*) FILTER (WHERE NOT capped) AS BIGINT) AS k
      FROM f),
    r AS (
      SELECT f.*, sc, k,
             ROW_NUMBER() OVER (PARTITION BY capped ORDER BY cap, source) AS rn_unc
      FROM f CROSS JOIN agg)
    SELECT source, n_tokens, cap, capped,
           CASE WHEN capped THEN cap
                ELSE (budget - sc) // GREATEST(k, 1) +
                     CASE WHEN rn_unc <= (budget - sc) % GREATEST(k, 1) THEN 1 ELSE 0 END
           END AS alloc,
           CASE WHEN capped THEN cap ELSE (budget - sc) // GREATEST(k, 1) +
                CASE WHEN rn_unc <= (budget - sc) % GREATEST(k, 1) THEN 1 ELSE 0 END
           END * 1000000 // n_tokens AS epochs_micro
    FROM r
    ORDER BY source"""

  /** Multi-epoch source mixing — the upsampling half of a data recipe
    * (t34's quotas truncate; this REPEATS): weight w means every doc of
    * the source appears floor(w) times (full epochs) plus a
    * deterministic hash-selected (w − floor(w)) fraction in one final
    * partial epoch. doc repetition is an in-row explode bounded by
    * ceil(w) (data recipes keep w ≲ 4 — epochs beyond that hurt), the
    * partial-epoch decision is a salted per-(doc, epoch) hash that
    * never leaves the row, and the stats groupBy partial-aggregates —
    * the plan is scan-shaped at any corpus size. Fractional thresholds
    * floor(frac × 256) are exact for recipe-style weights (.25/.5/.75).
    */
  def qMixEpochs(s: SparkSession, dir: String): DataFrame = {
    val weights = map(
      lit("src0"), lit(1.0), lit("src1"), lit(2.5),
      lit("src2"), lit(0.25), lit("src3"), lit(1.75))
    val bucket = conv(substring(md5(concat(lit("ep:"),
      col("epoch").cast("string"), lit(":"),
      col("doc_id").cast("string"))), 1, 2), 16, 10).cast("int")
    Tables.documents(s, dir)
      .withColumn("w", element_at(weights, col("source")))
      .filter(col("w").isNotNull)
      .withColumn("epoch",
        explode(sequence(lit(1), ceil(col("w")).cast("int"))))
      .filter(col("epoch") <= floor(col("w")).cast("int") ||
        bucket < floor((col("w") - floor(col("w"))) * 256).cast("int"))
      .groupBy(col("source"), col("epoch"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("epoch"))
  }

  val qMixEpochsOracle: String = """
    WITH q AS (
      SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 2.5
                         WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 1.75 END AS w
      FROM documents),
    e AS (
      SELECT doc_id, source, w,
             UNNEST(RANGE(1, CAST(CEIL(w) AS INT) + 1)) AS epoch
      FROM q WHERE w IS NOT NULL),
    k AS (
      SELECT * FROM e
      WHERE epoch <= CAST(FLOOR(w) AS INT)
         OR CAST(CONCAT('0x', SUBSTRING(MD5('ep:' || CAST(epoch AS VARCHAR)
              || ':' || CAST(doc_id AS VARCHAR)), 1, 2)) AS INT)
            < CAST(FLOOR((w - FLOOR(w)) * 256) AS INT))
    SELECT source, CAST(epoch AS INT) AS epoch, COUNT(*) AS n_docs,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM k
    GROUP BY source, epoch
    ORDER BY source, epoch"""

  /** Benchmark decontamination: flag corpus documents sharing ≥ 3
    * distinct 3-gram shingles with any "benchmark" document (here:
    * doc_id < 5 stands in for the eval set). Inverted-index join on the
    * shingle — the same no-all-pairs layout as the dedup suite, which is
    * exactly how web-scale decontamination runs.
    */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    // Per-doc distinctness in-row (array_distinct before the explode)
    // replaces the naive global DISTINCT shuffle of every shingle; the
    // benchmark side is a handful of documents, so it broadcasts and the
    // corpus stream never shuffles — at 100 TB the eval set is always
    // the broadcastable side. The shingle relation itself comes from
    // the session-memoized index (TextOps.docShingles) the dedup suite
    // already materializes — decontamination and dedup share one
    // shingling pass, not one each.
    val shs = TextOps.docShingles(s, dir)
    val bench = shs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("bench_id"), explode(col("shs")).as("s"))
    val corpus = shs.filter(col("doc_id") >= 5)
      .select(col("doc_id"), explode(col("shs")).as("s"))
    corpus.join(broadcast(bench), "s")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  val qDecontaminateOracle: String = """
    WITH sh AS (
      SELECT DISTINCT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 1, 1)),
                                   i -> ARRAY_TO_STRING(words[i:i+2], ' '))) AS s
      FROM (SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS words
            FROM documents)),
    bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id < 5),
    corpus AS (SELECT * FROM sh WHERE doc_id >= 5)
    SELECT corpus.doc_id, bench_id, COUNT(*) AS n_shared
    FROM corpus JOIN bench ON corpus.s = bench.s
    GROUP BY corpus.doc_id, bench_id
    HAVING COUNT(*) >= 3
    ORDER BY doc_id, bench_id"""

  /** Bloom-prefiltered decontamination — the same statistic as t35 via
    * the layout an actual 100 TB run uses when even the exploded
    * benchmark relation is too hot to ship per-task: the benchmark's
    * shingle set folds into a Bloom SKETCH (a few MB for millions of
    * shingles at 3% fpp) broadcast to every executor; the corpus stream
    * is prefiltered IN-ROW (count of sketch-positive shingles ≥ 3)
    * without shuffling a single corpus row, and only the surviving
    * handful of candidate documents pay the exact verification join.
    *
    * Exactness: the sketch has no false negatives, so every document
    * truly sharing ≥ 3 shingles with a benchmark doc survives the
    * prefilter; false positives only admit extra candidates, and the
    * exact verify (t35's inverted-index shingle join, restricted to the
    * surviving candidates) recomputes true pair overlaps and discards
    * them. The
    * result is therefore bit-identical to t35's — it shares t35's
    * DuckDB oracle, which is itself the strongest possible check that
    * the probabilistic prefilter lost nothing.
    *
    * The sketch is built with Spark's own BloomFilter aggregate
    * (`df.stat.bloomFilter`) — a bounded-size sketch collected to the
    * driver and broadcast, the standard model-distribution shape (same
    * as v34's hyperplanes or a trained quantizer). The membership probe
    * is a scalar UDF by necessity (the sketch rides a broadcast
    * variable, not a column); it sits behind the in-row prefilter only,
    * never in the exact path.
    */
  def qBloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val shs = TextOps.docShingles(s, dir)
    val benchArr = shs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("bench_id"), col("shs").as("bshs"))
    // the sketch is a trained model artifact: build + broadcast ONCE per
    // (session, dir) — df.stat.bloomFilter is an eager collect, and an
    // unmemoized broadcast would leak a new block per invocation
    val bfB = SessionMemo.memo("training:bloom", s, dir) {
      val benchShingles = benchArr.select(explode(col("bshs")).as("s")).distinct()
      s.sparkContext.broadcast(
        benchShingles.stat.bloomFilter("s", 100000L, 0.03))
    }
    val hits = udf((arr: Seq[String]) =>
      if (arr == null) 0 else arr.count(bfB.value.mightContainString))
    val cand = shs.filter(col("doc_id") >= 5)
      .filter(hits(col("shs")) >= 3)
    // exact verify: t35's inverted-index equi-join on the shingle,
    // restricted to the sketch's surviving candidates. NOT a crossJoin
    // against the benchmark arrays: candidates × benchmark docs is fine
    // at a handful of eval docs but 10⁶ survivors × a realistic 10⁵-doc
    // eval suite is 10¹¹ array_intersects, while this join's cost stays
    // proportional to the candidates' shingle occurrences.
    val bench = benchArr.select(col("bench_id"), explode(col("bshs")).as("s"))
    cand.select(col("doc_id"), explode(col("shs")).as("s"))
      .join(broadcast(bench), "s")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .select(col("doc_id"), col("bench_id"), col("n_shared"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** Repetition filter (Gopher-style): fraction of all bigram
    * occurrences taken by the single most frequent bigram; high values
    * mean degenerate/repetitive text. The statistic is per-document, so
    * it is computed entirely IN-ROW: sort the bigram array and take the
    * longest run of equal neighbors — zero shuffles instead of the
    * naive explode + two groupBy exchanges over every bigram occurrence.
    */
  def qRepetitionFilter(s: SparkSession, dir: String): DataFrame = {
    graft.sql.GraftExtensions.register(s)
    Tables.documents(s, dir)
      .withColumn("words", TextOps.wordsCol)
      .filter(size(col("words")) >= 2) // mirrors the explode dropping empty docs
      .withColumn("top_bigram_count", expr("top_bigram_count(words)"))
      .withColumn("n_bigrams", (size(col("words")) - 1).cast("long"))
      .withColumn("top_fraction", col("top_bigram_count") / col("n_bigrams"))
      .withColumn("flagged", col("top_fraction") > 0.18)
      .select(col("doc_id"), col("top_bigram_count"), col("n_bigrams"),
        col("top_fraction"), col("flagged"))
      .orderBy(col("doc_id"))
  }

  val qRepetitionFilterOracle: String = """
    WITH bg AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words), 1)),
                                   i -> ARRAY_TO_STRING(words[i:i+1], ' '))) AS bg
      FROM (SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS words
            FROM documents)),
    per AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg)
    SELECT doc_id, MAX(c) AS top_bigram_count,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           MAX(c) / CAST(SUM(c) AS BIGINT) AS top_fraction,
           MAX(c) / CAST(SUM(c) AS BIGINT) > 0.18 AS flagged
    FROM per
    GROUP BY doc_id
    ORDER BY doc_id"""

  /** Sequence packing (GPT-style concat-then-chunk): documents
    * concatenate in doc_id order and split into fixed `SeqLen`-token
    * training sequences; each document belongs to the sequence its
    * first token lands in. The global token offset is a
    * [[Scale.distributedPrefixSum]] — the naive
    * `sum().over(Window.orderBy(doc_id))` is a single-reducer total
    * order over the entire corpus, the same straggler shape t34's
    * rank had. Emits per-sequence packing stats.
    */
  private val SeqLen = 2048L

  def qSeqPack(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .withColumn("words", TextOps.wordsCol)
      .withColumn("tok",
        expr("aggregate(words, 0L, (acc, w) -> acc + ((length(w) + 3) div 4))"))
      .select(col("doc_id"), col("tok"))
    Scale.distributedPrefixSum(toks, "doc_id", "tok", "off",
      materialize = df => SessionMemo.persist("training:pack-offsets", s, dir)(df))
      .withColumn("seq_id", floor(col("off") / SeqLen))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("seq_id"))
  }

  /** Per-source token budgeting — the data-recipe step "take ~N tokens
    * from each source": documents are taken in deterministic md5(id)
    * order until the source's running whitespace-token total passes the
    * budget (inclusive prefix sum ≤ budget). Hash order makes the
    * selection a uniform, engine- and partitioning-independent sample
    * of the source, and the budget binds per SOURCE, which is how
    * pretraining recipes are actually specified.
    *
    * The running total is a [[Scale.distributedKeyedPrefixSum]]: a
    * plain `sum().over(Window.partitionBy(source).orderBy(h))` is a
    * per-source total order — with a handful of sources and a 100 TB
    * corpus that funnels ~25 TB through one reducer, t34's straggler
    * shape. Two exchanges + a persist at toy scale is the same
    * correctly-priced insurance.
    */
  private val TokenBudget = 1000L

  /** Reusable form of the t53 budget for composition drivers: restrict
    * any (doc_id, source, text, …) frame to ~`budget` whitespace
    * tokens per source, taken in deterministic md5(id) order. Keeps
    * the input columns and adds `n_tokens`/`cum_tokens`.
    */
  def tokenBudgeted(docs: DataFrame, budget: Long,
      materialize: DataFrame => DataFrame =
        _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)): DataFrame = {
    val toks = docs
      .withColumn("n_tokens",
        size(TextOps.wordsCol).cast("long"))
      .withColumn("h", md5(col("doc_id").cast("string")))
    Scale.distributedKeyedPrefixSum(toks, "source", Seq("h", "doc_id"),
        "n_tokens", "cum_tokens", materialize = materialize)
      .filter(col("cum_tokens") <= budget)
      .drop("h")
  }

  def qTokenBudget(s: SparkSession, dir: String): DataFrame =
    tokenBudgeted(
        Tables.documents(s, dir)
          .select(col("source"), col("doc_id"), col("text")),
        TokenBudget,
        materialize = df => SessionMemo.persist("training:budget-offsets", s, dir)(df))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("source"), col("doc_id"))

  val qTokenBudgetOracle: String = s"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens,
             MD5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents),
    c AS (
      SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM t)
    SELECT source, doc_id, n_tokens, cum_tokens
    FROM c
    WHERE cum_tokens <= $TokenBudget
    ORDER BY source, doc_id"""

  val qSeqPackOracle: String = s"""
    WITH t AS (
      SELECT doc_id,
             (SELECT COALESCE(SUM((LENGTH(w) + 3) // 4), 0)
              FROM UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '')) AS u(w)) AS tok
      FROM documents),
    c AS (
      SELECT doc_id, tok,
             COALESCE(SUM(tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM t)
    SELECT CAST(FLOOR(off / $SeqLen) AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc
    FROM c
    GROUP BY 1
    ORDER BY seq_id"""

  // ---- Sliding-window document chunking (t57) ----

  // Window/stride in whitespace tokens. A context-window prep step
  // chunks long documents into overlapping token windows; W > S gives
  // the overlap that preserves cross-boundary context.
  private val ChunkW = 40
  private val ChunkS = 30

  /** Sliding-window chunking: each document becomes
    * `1 + max(0, ceil((n - W) / S))` overlapping windows of ≤ W
    * whitespace tokens at stride S — the standard context-window prep
    * for embedding / retrieval corpora. Entirely in-row (one generator
    * expression, no shuffle, no window function): the 100 TB plan is a
    * single scan that fans each document out to its chunks.
    *
    * The chunk count uses the integer form `(n - W + S - 1) div S`
    * clamped at 0: Spark `div` truncates toward zero while DuckDB `//`
    * floors, but the two only disagree on negative operands, where the
    * `greatest(0, ·)` clamp makes both 0 — engine-portable without
    * float `ceil`.
    */
  /** The UNSORTED chunk relation, materialized once per (session, dir):
    * the window generator (per-chunk md5 over sliced word arrays) is
    * the expensive part, and three plan branches read it — t57's
    * presentation sort, t63's hash-count aggregate AND its probe side.
    * Without the memo t63 evaluated the generator twice per run and
    * inherited t57's global sort it never needed (r7 VERDICT #6).
    */
  private def chunkRelation(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("training:chunks", s, dir) {
      Tables.documents(s, dir)
        .withColumn("words", TextOps.wordsCol)
        .withColumn("n", size(col("words")))
        .filter(col("n") > 0)
        .withColumn("c", explode(expr(
          s"""transform(sequence(0, greatest((n - $ChunkW + $ChunkS - 1) div $ChunkS, 0)),
                i -> named_struct(
                  'chunk_id', cast(i as bigint),
                  'chunk_tokens', cast(size(slice(words, i * $ChunkS + 1, $ChunkW)) as bigint),
                  'chunk_hash', md5(array_join(slice(words, i * $ChunkS + 1, $ChunkW), ' '))))""")))
        .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
          col("c.chunk_tokens").as("chunk_tokens"), col("c.chunk_hash").as("chunk_hash"))
    }

  def qChunkDocs(s: SparkSession, dir: String): DataFrame =
    chunkRelation(s, dir).orderBy(col("doc_id"), col("chunk_id"))

  val qChunkDocsOracle: String = s"""
    WITH f AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS words
      FROM documents),
    g AS (SELECT doc_id, words, LEN(words) AS n FROM f WHERE LEN(words) > 0),
    c AS (
      SELECT doc_id, words,
             UNNEST(RANGE(0, 1 + GREATEST((n - $ChunkW + $ChunkS - 1) // $ChunkS, 0))) AS chunk_id
      FROM g)
    SELECT doc_id, chunk_id,
           CAST(LEN(words[(chunk_id * $ChunkS + 1):(chunk_id * $ChunkS + $ChunkW)]) AS BIGINT) AS chunk_tokens,
           MD5(ARRAY_TO_STRING(words[(chunk_id * $ChunkS + 1):(chunk_id * $ChunkS + $ChunkW)], ' ')) AS chunk_hash
    FROM c
    ORDER BY doc_id, chunk_id"""

  // ---- Chunk-level lexical retrieval (t67) ----

  /** Passage (chunk-level) retrieval — the RAG query shape: t57's
    * sliding windows are the retrieval unit, scored with t50's
    * idf-weighted term matching, top-[[ChunkK]] passages per query.
    * The composition reuses the shared artifacts end-to-end — the
    * inverted query map and quantized idf weights ride in as literals
    * from the memoized document-frequency index (zero extra jobs), and
    * the scored (query, doc, chunk) relation is memoized so repeat
    * searches skip the window fan-out entirely.
    *
    * Scale: the expensive pass is one in-row generator explode (token
    * stream × W/S) feeding a partial-agg'd groupBy whose shuffle
    * carries only MATCHED (query, doc, chunk) rows; top-k is the
    * bounded [[graft.functions.TopKAgg]] — k pairs per query cross the
    * wire, no global sort. Chunk identity packs into one long
    * (doc_id × 10⁶ + chunk_id) for the aggregate's id slot — fine to
    * ~10⁶ chunks/doc and ~10¹² docs; past that the id slot widens to a
    * struct, nothing else changes. Scores are exact bigint idf sums.
    */
  private val ChunkK = 3
  private val ChunkIdSpan = 1000000L

  def qChunkRetrieval(s: SparkSession, dir: String): DataFrame = {
    graft.sql.GraftExtensions.register(s)
    val scored = SessionMemo.persist("training:chunk-scores", s, dir) {
      val occ = Tables.documents(s, dir)
        .withColumn("words", TextOps.wordsCol)
        .withColumn("n", size(col("words")))
        .filter(col("n") > 0)
        .withColumn("c", explode(expr(
          s"""transform(sequence(0, greatest((n - $ChunkW + $ChunkS - 1) div $ChunkS, 0)),
                i -> named_struct(
                  'chunk_id', cast(i as bigint),
                  'cw', slice(words, i * $ChunkS + 1, $ChunkW)))""")))
        .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
          explode(col("c.cw")).as("w"))
      occ
        .select(col("doc_id"), col("chunk_id"), col("w"),
          explode(element_at(typedlit(CurationOps.queryTermIds), col("w"))).as("query_id"))
        .withColumn("idfw", element_at(typedlit(CurationOps.queryIdf(s, dir)), col("w")))
        .groupBy(col("query_id"), col("doc_id"), col("chunk_id"))
        .agg(sum(col("idfw")).as("score"))
    }
    scored
      .withColumn("cid", col("doc_id") * lit(ChunkIdSpan) + col("chunk_id"))
      .groupBy(col("query_id"))
      .agg(expr(s"top_k_by_value(cast(score as double), cid, $ChunkK)").as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        expr(s"p.id div $ChunkIdSpan").as("doc_id"),
        expr(s"p.id % $ChunkIdSpan").as("chunk_id"),
        col("p.value").cast("long").as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  val qChunkRetrievalOracle: String = {
    val values = CurationOps.RetrievalQueries
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    s"""
    WITH qs(query_id, qtext) AS (VALUES $values),
    qterms AS (
      SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
             UNNEST(LIST_FILTER(STRING_SPLIT(qtext, ' '), w -> w <> '')) AS w
      FROM qs),
    f AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS words
      FROM documents),
    g AS (SELECT doc_id, words, LEN(words) AS n FROM f WHERE LEN(words) > 0),
    dfc AS (
      SELECT w, 1000000 // COUNT(*) AS idfw
      FROM (SELECT DISTINCT doc_id, w
            FROM (SELECT doc_id, UNNEST(words) AS w FROM g))
      GROUP BY w),
    c AS (
      SELECT doc_id, words,
             UNNEST(RANGE(0, 1 + GREATEST((n - $ChunkW + $ChunkS - 1) // $ChunkS, 0))) AS chunk_id
      FROM g),
    occ AS (
      SELECT doc_id, chunk_id,
             UNNEST(words[(chunk_id * $ChunkS + 1):(chunk_id * $ChunkS + $ChunkW)]) AS w
      FROM c),
    sc AS (
      SELECT query_id, doc_id, chunk_id, CAST(SUM(idfw) AS BIGINT) AS score
      FROM occ JOIN qterms USING (w) JOIN dfc USING (w)
      GROUP BY 1, 2, 3),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id, chunk_id) AS rank
      FROM sc)
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id, chunk_id, score
    FROM ranked WHERE rank <= $ChunkK
    ORDER BY query_id, rank"""
  }

  /** Minimum repeated-span length in tokens — 20 is reasonably
    * selective prose (ExactSubstr uses 50 BYTES ≈ 10–12 tokens; a
    * token-window formulation wants a little more context).
    */
  private[graft] val SpanL = 20

  /** The span family's one window relation: every length-[[SpanL]]
    * token window of each (doc_id, text) row at stride 1, as
    * (doc_id, pos, h64) with pos the 1-based start token and h64 the
    * window's 60-bit md5 fingerprint (its first 15 hex digits as a
    * bigint). The hash sits inside the transform lambda, so each
    * caller's plan stays one in-row generator off its scan. The batch
    * gates (t65, t68, t76, t82 via [[spanPosRelation]]) and the drop
    * span index (IncrementalSpanIndex.windowRows, which stores these
    * rows) read the same windows under the same key.
    *
    * Collision contract: the 60-bit key shuffles and stores ~4× fewer
    * bytes than the 32-character hex digest and compares as an
    * integer. Two distinct windows share a key with probability
    * ≈ n²/2^61 (~1e-3 at a billion windows). A collision can count one
    * window as repeated (t65), flag one train document (t68), add one
    * shared window to a pair (t76), or seed one false window match that
    * span extension caps at window length (t82 and the drop index).
    * t65's oracle applies the same truncation; the full-md5 oracles of
    * t68, t76 and t82 match row for row on every tested corpus.
    */
  private[graft] def spanWindows(docs: DataFrame): DataFrame =
    docs
      .withColumn("words", TextOps.wordsCol)
      .withColumn("n", size(col("words")))
      .filter(col("n") >= SpanL)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, n - $SpanL + 1),
              i -> cast(conv(substring(md5(array_join(slice(words, i, $SpanL), ' ')),
                1, 15), 16, 10) as bigint))"""))
        .as(Seq("p0", "h64")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h64"))

  /** The corpus's [[spanWindows]] relation, memoized per (session,
    * dir): the generator fan-out runs once however many span gates
    * read it (t65, t68, t76, t82 and, through t82, t84/t85).
    */
  private def spanPosRelation(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("training:spans", s, dir) {
      IncrementalSpanIndex.windowRows(Tables.documents(s, dir))
    }

  /** Position-free view for the consumers that only count hashes. */
  private def spanRelation(s: SparkSession, dir: String): DataFrame =
    spanPosRelation(s, dir).select(col("doc_id"), col("h64"))

  /** Alignment-free repeated-span detection (t65) — the windowed-hash
    * form of exact-substring dedup (the "ExactSubstr" family): hash
    * EVERY length-[[SpanL]] token window at stride 1, count window
    * hashes corpus-wide, and report per document how much of it is
    * covered by spans that occur more than once anywhere (including
    * within the same document — self-plagiarized boilerplate counts,
    * as in the reference technique). Complements t63, whose fixed
    * stride-30 chunks only match ALIGNED copies: a quoted paragraph
    * starting mid-chunk is invisible to t63 and caught here.
    *
    * Scale shape: window hashes are an in-row generator off the one
    * corpus scan; the only corpus-sized shuffle is the count over the
    * h64 window, which reshuffles the span relation ONCE instead of
    * group-then-join's twice. That single shuffle is exactly what
    * suffix-array construction avoids — the trade this formulation
    * makes to stay a two-stage Spark plan at any corpus size. The r10
    * sf10 profile flagged this gate superlinear (23.7× on 10× data)
    * while it shuffled 40-byte hex keys; the 60-bit key (collision
    * contract at [[spanWindows]]; the oracle applies the identical
    * truncation) fixed it.
    */
  def qRepeatedSpans(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("h64"))
    spanRelation(s, dir).withColumn("c", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_repeated"))
      .withColumn("repeated_frac",
        col("n_repeated").cast("double") / col("n_spans"))
      .orderBy(col("doc_id"))
  }

  val qRepeatedSpansOracle: String = s"""
    WITH f AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS words
      FROM documents),
    g AS (SELECT doc_id, words, LEN(words) AS n FROM f WHERE LEN(words) >= $SpanL),
    sp AS (
      SELECT doc_id, CAST('0x' ||
               SUBSTR(MD5(ARRAY_TO_STRING(words[i:i + $SpanL - 1], ' ')), 1, 15)
               AS BIGINT) AS h
      FROM (SELECT doc_id, words, UNNEST(RANGE(1, n - $SpanL + 2)) AS i FROM g)),
    c AS (SELECT h, COUNT(*) AS c FROM sp GROUP BY h)
    SELECT sp.doc_id, COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
           CAST(SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS repeated_frac
    FROM sp JOIN c USING (h)
    GROUP BY sp.doc_id
    ORDER BY sp.doc_id"""

  // ---- Span-overlap decontamination (t68) ----

  /** N-gram-collision decontamination — the overlap screen the GPT-3 /
    * PaLM data cards describe: a TRAIN document is contaminated if any
    * of its token windows also occurs in the held-out EVAL split
    * (t33's deterministic md5 split, so the screen and the split
    * cannot desync). Complements t35/t46, which catch whole-text exact
    * matches: a benchmark question quoted INSIDE a larger train
    * document is invisible to text-equality but collides here.
    *
    * Scale shape: both sides read the memoized span relation (zero
    * extra corpus passes); the eval hash set is DISTINCT-reduced
    * before the probe join, and the split tag is in-row md5 arithmetic
    * (no doc join). In production the eval side is a benchmark suite —
    * a broadcast-sized list against the train corpus; here it is 10 %
    * of the same corpus and the equi-join shuffles, which is the same
    * plan AQE picks either way. Counts are exact integers.
    */
  def qSpanDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val tagged = spanRelation(s, dir)
      .withColumn("split", splitCol(col("doc_id")))
    val evalHashes = tagged.filter(col("split") === "eval")
      .select(col("h64")).distinct().withColumn("m", lit(1L))
    tagged.filter(col("split") === "train")
      .join(evalHashes, Seq("h64"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), count(col("m")).as("n_hit"))
      .withColumn("contaminated", col("n_hit") > lit(0L))
      .orderBy(col("doc_id"))
  }

  val qSpanDecontaminateOracle: String = s"""
    WITH f AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS words
      FROM documents),
    g AS (SELECT doc_id, words, LEN(words) AS n FROM f WHERE LEN(words) >= $SpanL),
    sp AS (
      SELECT doc_id, MD5(ARRAY_TO_STRING(words[i:i + $SpanL - 1], ' ')) AS h
      FROM (SELECT doc_id, words, UNNEST(RANGE(1, n - $SpanL + 2)) AS i FROM g)),
    sw AS (
      SELECT doc_id, h,
             CASE WHEN b < 13 THEN 'test' WHEN b < 39 THEN 'eval' ELSE 'train' END AS split
      FROM (SELECT *, CAST(CONCAT('0x', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) AS b
            FROM sp)),
    ev AS (SELECT DISTINCT h FROM sw WHERE split = 'eval'),
    tr AS (SELECT doc_id, h FROM sw WHERE split = 'train')
    SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(ev.h) AS BIGINT) AS n_hit,
           COUNT(ev.h) > 0 AS contaminated
    FROM tr LEFT JOIN ev ON ev.h = tr.h
    GROUP BY tr.doc_id
    ORDER BY tr.doc_id"""

  // ---- Exact-substring dedup: maximal repeated spans (t82) ----

  /** Window-hash document-frequency cap for span seeding — the t38
    * df-cap discipline applied to the window space: a window shared by
    * more than this many documents is ubiquitous boilerplate whose
    * posting list would expand ~df²/2 seed matches; it is excluded
    * from seeding BY CONTRACT (t65's corpus-wide counts are the tool
    * for boilerplate; this operator is for pairwise verbatim reuse).
    */
  private[graft] val SpanDfCap = 50

  /** Intra-document occurrence cap for the SAME seeding relation (r11,
    * closing the r10 advisory): [[SpanDfCap]] bounds how many DOCUMENTS
    * may share a window, but a single document internally repeating a
    * hot window k times still contributed k×k' match rows per partner
    * pair — per-pair quadratic skew from periodic documents. A window
    * any document repeats more than this many times is periodic
    * boilerplate (t36/t83's territory) and is excluded from seeding BY
    * CONTRACT, the same discipline t83's SelfOccCap applies within
    * documents. The oracle applies the identical cap.
    */
  private[graft] val SpanOccCap = 20

  /** Minimum reported span length in tokens (Lee et al. 2022 report
    * ≥ 50-token verbatim overlaps as the interesting class).
    */
  private[graft] val MinSpan = 50

  /** The t82 span set as a memoized SNAPSHOT artifact — one build,
    * two readers (the t82 report and t84's cut plan), mirroring the
    * curated-corpus discipline: downstream consumers must act on the
    * SAME span facts the audit gate certified.
    */
  private def exactSpanRelation(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("training:xsub", s, dir) {
      IncrementalSpanIndex.probeFromEmpty(spanPosRelation(s, dir)).spans
    }

  /** Maximal-span extension of matched windows (doc_a, doc_b, pa, pb)
    * — t82's diagonal gaps-and-islands, shared with the drop span
    * index (IncrementalSpanIndex): matches on diagonal d = pa − pb
    * with consecutive pa form one island (id = pa − row_number()),
    * and each island is one maximal span of (last − first + SpanL)
    * tokens; spans shorter than [[MinSpan]] are dropped.
    */
  private[graft] def maximalSpans(m: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("d"))
      .orderBy(col("pa"))
    m.withColumn("d", col("pa") - col("pb"))
      .withColumn("isl", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("d"), col("isl"))
      .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
        (max(col("pa")) - min(col("pa")) + lit(SpanL.toLong)).as("span_len"))
      .filter(col("span_len") >= MinSpan)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("span_len"))
  }

  /** TRUE exact-substring dedup (t82) — the suffix-array-family
    * statistic of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), computed without a global suffix array:
    * for every document pair, each MAXIMAL repeated token span of
    * length ≥ [[MinSpan]] at ARBITRARY alignment, reported as one span
    * with both start offsets. t63 (aligned chunks) and t65 (fixed
    * 20-token windows) see such a quote only piecewise; this operator
    * reports it as the single (start_a, start_b, span_len) fact a
    * curation pass can act on (cut the span, keep one copy).
    *
    * Method: t82 is the drop span index's probe step
    * (IncrementalSpanIndex.probe) over empty state — the fold's first
    * epoch, so batch/incremental parity holds by construction. It
    * seeds from the memoized stride-1 window relation — two windows
    * with equal hashes at positions (i, j) of docs (a, b)
    * lie on diagonal d = i − j, and a repeated substring of length
    * M ≥ [[SpanL]] is exactly a run of M − SpanL + 1 consecutive
    * matched windows on one diagonal. Gaps-and-islands over
    * (pair, diagonal) recovers the maximal runs: island id =
    * pos − row_number() (consecutive positions share it), one
    * group-by emits each maximal span once. Nothing here is
    * corpus-quadratic: seeding is posting-list-bounded by
    * [[SpanDfCap]], runs are window-function work partitioned by
    * (doc_a, doc_b, diagonal) — bounded by matched-window volume,
    * never all-pairs. At 100 TB this is the standard layout: the
    * window index is the corpus-sized artifact (one shuffle), matches
    * are near-dup-sized, and the span extension never touches raw
    * text.
    *
    * Maximality is over the df-capped window space: a span whose
    * interior windows are boilerplate-hot breaks into fragments at the
    * cap boundary (documented contract; the oracle applies the same cap,
    * so the gate pins the exact same semantics).
    */
  def qExactSubstring(s: SparkSession, dir: String): DataFrame =
    exactSpanRelation(s, dir)
      .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))

  val qExactSubstringOracle: String = s"""
    WITH f AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS words
      FROM documents),
    g AS (SELECT doc_id, words, LEN(words) AS n FROM f WHERE LEN(words) >= $SpanL),
    sp AS (
      SELECT doc_id, i AS pos, MD5(ARRAY_TO_STRING(words[i:i + $SpanL - 1], ' ')) AS h
      FROM (SELECT doc_id, words, UNNEST(RANGE(1, n - $SpanL + 2)) AS i FROM g)),
    cold AS (
      SELECT h FROM (SELECT h, doc_id, COUNT(*) AS k FROM sp GROUP BY h, doc_id)
      GROUP BY h HAVING COUNT(*) <= $SpanDfCap AND MAX(k) <= $SpanOccCap),
    spc AS (SELECT sp.* FROM sp JOIN cold USING (h)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
             a.pos - b.pos AS d
      FROM spc a JOIN spc b ON a.h = b.h AND a.doc_id < b.doc_id),
    isl AS (
      SELECT *, pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, d ORDER BY pa) AS isl
      FROM m),
    spans AS (
      SELECT doc_a, doc_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
             MAX(pa) - MIN(pa) + $SpanL AS span_len
      FROM isl GROUP BY doc_a, doc_b, d, isl)
    SELECT doc_a, doc_b, CAST(start_a AS BIGINT) AS start_a,
           CAST(start_b AS BIGINT) AS start_b, CAST(span_len AS BIGINT) AS span_len
    FROM spans WHERE span_len >= $MinSpan
    ORDER BY doc_a, doc_b, start_a, start_b"""

  // ---- Within-document self-repetition spans (t83) ----

  /** Within-doc occurrence cap for self-repetition seeding: a window
    * hash occurring more than this many times INSIDE one document is
    * periodic boilerplate (a k-times-repeated window seeds k·(k−1)/2
    * self-matches), which is t36's repetition filter's territory —
    * excluded from span seeding BY CONTRACT, same discipline as
    * [[SpanDfCap]] across documents.
    */
  private val SelfOccCap = 20

  /** Window length for WITHIN-doc repetition — deliberately shorter
    * than the cross-doc [[SpanL]]: intra-document repetition is a
    * QUALITY signal (Rae et al. 2021's Gopher filters measure duplicate
    * 2-/3-/4-gram fractions), not a plagiarism one, and the phrases a
    * single document repeats are short. The maximal-span report is
    * window-length-invariant for any true repeat ≥ the window, so
    * shrinking the window only ADDS shorter (real) spans — it never
    * changes a long one.
    */
  private val SelfSpanL = 3
  private val SelfMinSpan = 3

  /** Trigram window positions per document — t83's seeding relation,
    * the intra-doc analogue of [[spanPosRelation]] at [[SelfSpanL]].
    */
  private def selfSpanRelation(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("training:selfspans", s, dir) {
      Tables.documents(s, dir)
        .withColumn("words", TextOps.wordsCol)
        .withColumn("n", size(col("words")))
        .filter(col("n") >= SelfSpanL)
        // r15: per-WORD xxhash64 once, then the trigram key is one
        // xxhash64 over three longs — replaces the per-window
        // slice+array_join string build, md5, hex substring and string
        // base-conversion of the r14 shape (the dominant task-seconds
        // of the suite's heaviest linear gate; ~2.4× cheaper per
        // window measured at sf0.1). The hash only BUCKETS identical
        // trigrams — the reported spans are hash-agnostic, which is
        // what the oracle (its own md5 construction) pins: equal
        // output at sf0.01/sf0.1/sf1 verified after the switch.
        // Separate seed constants keep word-level and window-level
        // hash spaces independent.
        .withColumn("wh", expr("transform(words, w -> xxhash64(w, 7L))"))
        .select(col("doc_id"), posexplode(expr(selfWindowHashSql))
          .as(Seq("p0", "h")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h"))
    }

  /** The [[SelfSpanL]]-window hash array over the pre-hashed words
    * column `wh` (see [[selfSpanRelation]]) — shared with t87's
    * sampled seeding so the two relations cannot drift.
    */
  private def selfWindowHashSql: String = {
    val args = (0 until SelfSpanL).map(o => s"element_at(wh, i + $o)")
    s"""transform(sequence(1, n - $SelfSpanL + 1),
          i -> xxhash64(${args.mkString(", ")}, 11L))"""
  }

  /** Within-document self-repetition (t83) — the intra-doc half of the
    * Lee et al. 2022 ExactSubstr statistic that t82 deliberately
    * excludes (its pair join requires doc_a < doc_b): a document that
    * quotes ITSELF — cut-and-paste spam, templated sections, lyrics
    * choruses — carries maximal repeated token spans at two offsets of
    * the SAME doc_id. Same diagonal construction as t82 with both
    * sides one document: matched window positions (pa, pb), pa < pb,
    * lie on diagonal d = pb − pa, and gaps-and-islands over
    * (doc_id, d) recovers each maximal span once. d < [[SelfSpanL]]
    * means the two copies overlap — text with period d — which is
    * still a true self-repetition fact and is reported as such.
    *
    * Scale shape: seeding is bounded by [[SelfOccCap]] per (doc, hash)
    * — the self-match population is Σ occ² per document, capped — and
    * the window work is partitioned by (doc_id, d). Nothing is
    * corpus-pairwise: every grouping key contains doc_id, so the
    * operator scales with documents, not document pairs. ONE shuffle
    * builds the match relation: positions collect per (doc, hash) —
    * at most [[SelfOccCap]] of them — and the ≤ occ·(occ−1)/2 ≤ 190
    * ordered pairs generate IN-ROW from the sorted position array
    * (the r10 rewrite; the previous occurrence-count join + self-join
    * shuffled the corpus-sized position relation three times to
    * produce the same pairs).
    */
  def qSelfRepetition(s: SparkSession, dir: String): DataFrame =
    selfRepetitionSpans(selfSpanRelation(s, dir))

  /** t83's span construction over any seeding relation — shared with
    * the sampled companion gate (t87), so the two cannot drift.
    */
  private def selfRepetitionSpans(sp: DataFrame): DataFrame = {
    // ONE exchange serves the whole chain (r15): every downstream key —
    // the (doc_id, h) position-collect, the (doc_id, d) island window,
    // the (doc_id, d, isl) span reduce — starts with doc_id, so hash-
    // partitioning on doc_id up front satisfies all three clustered
    // distributions and Spark plans no further exchange until the
    // final presentation sort (4 exchanges → 2 in the executed plan).
    val m = sp.repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("h"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .filter(size(col("ps")).between(2, SelfOccCap))
      .select(col("doc_id"), explode(expr(
        """flatten(transform(ps, (x, i) ->
             transform(slice(ps, i + 2, size(ps) - i - 1),
               y -> struct(x as pa, y as pb))))""")).as("p"))
      .select(col("doc_id"), col("p.pa").as("pa"), col("p.pb").as("pb"))
      .withColumn("d", col("pb") - col("pa"))
    val w = Window.partitionBy(col("doc_id"), col("d")).orderBy(col("pa"))
    m.withColumn("isl", col("pa") - row_number().over(w))
      .groupBy(col("doc_id"), col("d"), col("isl"))
      .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
        (max(col("pa")) - min(col("pa")) + lit(SelfSpanL.toLong)).as("span_len"))
      .filter(col("span_len") >= SelfMinSpan)
      .select(col("doc_id"), col("start_a"), col("start_b"), col("span_len"))
      .orderBy(col("doc_id"), col("start_a"), col("start_b"))
  }

  // ---- Sampled self-repetition (t87, r12 VERDICT #6) ----

  /** Documents whose md5 first byte falls under this (of 256) are in
    * the t87 sample — rate 1/8, the t33 hash-bucket idiom (engine-
    * portable, no RNG, stable under partitioning and scale).
    */
  private val SelfSampleBucket = 32

  /** Sampled self-repetition (t87) — t83's bounded companion for the
    * 100 TB regime, where full-fidelity within-doc span extraction is
    * a luxury: t83 is linear in trigram-window volume BY CONTRACT
    * (its sf10 cost is the suite's heaviest Spark gate), and
    * self-repetition is a PER-DOCUMENT statistic, so the natural
    * bounded estimator samples documents, not windows (window/seed
    * sampling would fragment islands and break span maximality).
    * Documents are chosen by the deterministic md5-bucket rule at
    * rate [[SelfSampleBucket]]/256; each sampled document's spans are
    * EXACT — identical rows to t83's for that doc (a spec pins the
    * restriction equality) — so corpus-level repetition rates
    * estimate from the sample with zero within-sample approximation.
    * Cost: one corpus scan to apply the hash filter, then window
    * explode + shuffle at r× volume.
    */
  def qSelfRepetitionSampled(s: SparkSession, dir: String): DataFrame = {
    val sp = SessionMemo.persist("training:selfspans:sampled", s, dir) {
      Tables.documents(s, dir)
        .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int") < SelfSampleBucket)
        .withColumn("words", TextOps.wordsCol)
        .withColumn("n", size(col("words")))
        .filter(col("n") >= SelfSpanL)
        .withColumn("wh", expr("transform(words, w -> xxhash64(w, 7L))"))
        .select(col("doc_id"), posexplode(expr(selfWindowHashSql))
          .as(Seq("p0", "h")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h"))
    }
    selfRepetitionSpans(sp)
  }

  val qSelfRepetitionSampledOracle: String = s"""
    WITH f AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS words
      FROM documents
      WHERE CAST(CONCAT('0x', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT)
              < $SelfSampleBucket),
    g AS (SELECT doc_id, words, LEN(words) AS n FROM f WHERE LEN(words) >= $SelfSpanL),
    sp AS (
      SELECT doc_id, i AS pos, CAST('0x' ||
               SUBSTR(MD5(ARRAY_TO_STRING(words[i:i + $SelfSpanL - 1], ' ')), 1, 15)
               AS BIGINT) AS h
      FROM (SELECT doc_id, words, UNNEST(RANGE(1, n - $SelfSpanL + 2)) AS i FROM g)),
    occ AS (SELECT doc_id, h FROM sp GROUP BY doc_id, h HAVING COUNT(*) <= $SelfOccCap),
    spc AS (SELECT sp.* FROM sp JOIN occ USING (doc_id, h)),
    m AS (
      SELECT a.doc_id, a.pos AS pa, b.pos AS pb, b.pos - a.pos AS d
      FROM spc a JOIN spc b
        ON a.doc_id = b.doc_id AND a.h = b.h AND a.pos < b.pos),
    isl AS (
      SELECT *, pa - ROW_NUMBER() OVER (PARTITION BY doc_id, d ORDER BY pa) AS isl
      FROM m),
    spans AS (
      SELECT doc_id, MIN(pa) AS start_a, MIN(pb) AS start_b,
             MAX(pa) - MIN(pa) + $SelfSpanL AS span_len
      FROM isl GROUP BY doc_id, d, isl)
    SELECT doc_id, CAST(start_a AS BIGINT) AS start_a,
           CAST(start_b AS BIGINT) AS start_b, CAST(span_len AS BIGINT) AS span_len
    FROM spans WHERE span_len >= $SelfMinSpan
    ORDER BY doc_id, start_a, start_b"""

  val qSelfRepetitionOracle: String = s"""
    WITH f AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS words
      FROM documents),
    g AS (SELECT doc_id, words, LEN(words) AS n FROM f WHERE LEN(words) >= $SelfSpanL),
    sp AS (
      SELECT doc_id, i AS pos, CAST('0x' ||
               SUBSTR(MD5(ARRAY_TO_STRING(words[i:i + $SelfSpanL - 1], ' ')), 1, 15)
               AS BIGINT) AS h
      FROM (SELECT doc_id, words, UNNEST(RANGE(1, n - $SelfSpanL + 2)) AS i FROM g)),
    occ AS (SELECT doc_id, h FROM sp GROUP BY doc_id, h HAVING COUNT(*) <= $SelfOccCap),
    spc AS (SELECT sp.* FROM sp JOIN occ USING (doc_id, h)),
    m AS (
      SELECT a.doc_id, a.pos AS pa, b.pos AS pb, b.pos - a.pos AS d
      FROM spc a JOIN spc b
        ON a.doc_id = b.doc_id AND a.h = b.h AND a.pos < b.pos),
    isl AS (
      SELECT *, pa - ROW_NUMBER() OVER (PARTITION BY doc_id, d ORDER BY pa) AS isl
      FROM m),
    spans AS (
      SELECT doc_id, MIN(pa) AS start_a, MIN(pb) AS start_b,
             MAX(pa) - MIN(pa) + $SelfSpanL AS span_len
      FROM isl GROUP BY doc_id, d, isl)
    SELECT doc_id, CAST(start_a AS BIGINT) AS start_a,
           CAST(start_b AS BIGINT) AS start_b, CAST(span_len AS BIGINT) AS span_len
    FROM spans WHERE span_len >= $SelfMinSpan
    ORDER BY doc_id, start_a, start_b"""

  // ---- Substring-dedup cut plan (t84) ----

  /** Actionable cut plan from the t82 span facts (t84) — the step Lee
    * et al. 2022 actually apply to the corpus: keep ONE copy of every
    * repeated substring and cut the rest. Keep-first policy: each
    * (doc_a < doc_b) span is cut from doc_b, so the lowest-id member
    * of every reuse chain keeps its text (the same deterministic
    * survivor rule as t52). A document quoted by several peers or
    * carrying several overlapping quotes gets OVERLAPPING cut
    * intervals; the plan merges them (distinct intervals, running-max
    * interval union per doc — adjacent-but-disjoint intervals stay
    * separate cuts) and reports, per affected document, the number of
    * disjoint cuts, tokens removed, and the fraction of the document
    * they cover.
    *
    * Scale shape: reads the MEMOIZED t82 span relation (near-dup-pair
    * sized, never corpus-sized); the merge windows are partitioned by
    * doc_id; the token-length join prunes `documents` to two columns.
    */
  /** The t84 merged (disjoint) cut intervals per document — shared by
    * the cut-plan report and the t85 apply step, so the plan a user
    * reviews and the cuts the engine makes are the same facts.
    *
    * Memoized per (session, dir) (r16, VERDICT #4): t84, t85 and
    * graft-curate's apply stage each re-ran the distinct + two merge
    * windows over the span relation per invocation; the merged
    * interval set is a corpus-snapshot artifact exactly like the span
    * relation it derives from (near-dup-pair sized, never
    * corpus-sized), so it is built once and the per-gate work is only
    * each gate's own aggregate/join.
    */
  private[graft] def mergedCutIntervals(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("training:cut-intervals", s, dir) {
      val iv = exactSpanRelation(s, dir)
        .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
          (col("start_b") + col("span_len") - 1).as("e"))
        .distinct()
      val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
        .rowsBetween(Window.unboundedPreceding, 0)
      iv.withColumn("pm", max(col("e")).over(wPrev))
        .withColumn("nf",
          when(col("pm").isNull || col("s") > col("pm"), 1L).otherwise(0L))
        .withColumn("gid", sum(col("nf")).over(wRun))
        .groupBy(col("doc_id"), col("gid"))
        .agg(min(col("s")).as("cs"), max(col("e")).as("ce"))
    }

  def qSubstringCutPlan(s: SparkSession, dir: String): DataFrame = {
    val merged = mergedCutIntervals(s, dir)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), size(TextOps.wordsCol).cast("long").as("n_tokens"))
    merged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cuts"),
        sum(col("ce") - col("cs") + 1).as("tokens_cut"))
      .join(toks, Seq("doc_id"))
      .withColumn("cut_frac",
        col("tokens_cut").cast("double") / col("n_tokens"))
      .select(col("doc_id"), col("n_cuts"), col("tokens_cut"),
        col("n_tokens"), col("cut_frac"))
      .orderBy(col("doc_id"))
  }

  val qSubstringCutPlanOracle: String = s"""
    WITH f AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS words
      FROM documents),
    g AS (SELECT doc_id, words, LEN(words) AS n FROM f WHERE LEN(words) >= $SpanL),
    sp AS (
      SELECT doc_id, i AS pos, MD5(ARRAY_TO_STRING(words[i:i + $SpanL - 1], ' ')) AS h
      FROM (SELECT doc_id, words, UNNEST(RANGE(1, n - $SpanL + 2)) AS i FROM g)),
    cold AS (
      SELECT h FROM (SELECT h, doc_id, COUNT(*) AS k FROM sp GROUP BY h, doc_id)
      GROUP BY h HAVING COUNT(*) <= $SpanDfCap AND MAX(k) <= $SpanOccCap),
    spc AS (SELECT sp.* FROM sp JOIN cold USING (h)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
             a.pos - b.pos AS d
      FROM spc a JOIN spc b ON a.h = b.h AND a.doc_id < b.doc_id),
    isl AS (
      SELECT *, pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, d ORDER BY pa) AS isl
      FROM m),
    spans AS (
      SELECT doc_a, doc_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
             MAX(pa) - MIN(pa) + $SpanL AS span_len
      FROM isl GROUP BY doc_a, doc_b, d, isl),
    iv AS (
      SELECT DISTINCT doc_b AS doc_id, start_b AS s, start_b + span_len - 1 AS e
      FROM spans WHERE span_len >= $MinSpan),
    mx AS (
      SELECT *, MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      FROM iv),
    fl AS (SELECT *, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nf FROM mx),
    gi AS (
      SELECT *, SUM(nf) OVER (PARTITION BY doc_id ORDER BY s, e
                              ROWS UNBOUNDED PRECEDING) AS gid
      FROM fl),
    mg AS (SELECT doc_id, MIN(s) AS cs, MAX(e) AS ce FROM gi GROUP BY doc_id, gid),
    cuts AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cuts,
             CAST(SUM(ce - cs + 1) AS BIGINT) AS tokens_cut
      FROM mg GROUP BY doc_id),
    toks AS (
      SELECT doc_id, CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '')) AS BIGINT)
               AS n_tokens
      FROM documents)
    SELECT cuts.doc_id, n_cuts, tokens_cut, n_tokens,
           CAST(tokens_cut AS DOUBLE) / n_tokens AS cut_frac
    FROM cuts JOIN toks USING (doc_id)
    ORDER BY doc_id"""

  // ---- Substring-dedup apply (t85) ----

  /** Apply the cut plan (t85) — the terminal step of the Lee et al.
    * 2022 family: materialize the DEDUPLICATED corpus. Every document
    * row comes back with its cut token count and the md5 of its
    * cleaned text (tokens whose 1-based position falls in a merged
    * t84 interval removed, survivors rejoined single-spaced) — the
    * hash stands in for shipping full text through the gate while
    * pinning the exact byte result of the cut.
    *
    * Scale shape: the interval set is cut-plan-sized (near-dup-bounded)
    * and broadcast against the corpus; token removal is one in-row
    * higher-order filter per document (positions tested against ≤
    * n_cuts intervals) — the corpus is touched exactly once, no
    * shuffle keys ever carry text.
    */
  /** (doc_id, text_clean, tokens_cut) for every document the t84 cut
    * plan touches — the WRITE-side reader of the span family (r11,
    * VERDICT #3): graft-curate's `--cut-substrings` stage swaps each
    * cut document's text for this cleaned text, so the end product
    * actually ships the deduplicated bytes the t85 gate pins
    * (text_clean is the exact array_join the gate md5s). Inner join:
    * only cut documents appear — the corpus-sized pass-through stays
    * in the caller. The interval side is cut-plan-sized but its
    * cardinality is UNBOUNDED in the duplication rate (every near-dup
    * doc contributes rows), so no broadcast hint: the doc_id equi-join
    * shuffles once and AQE broadcasts only when genuinely small.
    */
  private[graft] def substringCleanedDocs(s: SparkSession, dir: String): DataFrame = {
    val ivs = mergedCutIntervals(s, dir)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("cs"), col("ce"))).as("ivs"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextOps.wordsCol.as("words"))
      .join(ivs, Seq("doc_id"))
      .select(col("doc_id"), size(col("words")).cast("long").as("n_before"),
        expr("""filter(words, (w, i) -> not exists(ivs, v -> i + 1 >= v.cs and i + 1 <= v.ce))""")
          .as("kept"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("text_clean"),
        (col("n_before") - size(col("kept")).cast("long")).as("tokens_cut"))
  }

  def qSubstringApply(s: SparkSession, dir: String): DataFrame = {
    val ivs = mergedCutIntervals(s, dir)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("cs"), col("ce"))).as("ivs"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextOps.wordsCol.as("words"))
      .join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("words")).cast("long").as("n_before"),
        expr("""filter(words, (w, i) -> ivs is null or
                 not exists(ivs, v -> i + 1 >= v.cs and i + 1 <= v.ce))""")
          .as("kept"))
      .select(col("doc_id"), col("n_before"),
        size(col("kept")).cast("long").as("n_after"),
        md5(array_join(col("kept"), " ")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  val qSubstringApplyOracle: String = s"""
    WITH f AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS words
      FROM documents),
    g AS (SELECT doc_id, words, LEN(words) AS n FROM f WHERE LEN(words) >= $SpanL),
    sp AS (
      SELECT doc_id, i AS pos, MD5(ARRAY_TO_STRING(words[i:i + $SpanL - 1], ' ')) AS h
      FROM (SELECT doc_id, words, UNNEST(RANGE(1, n - $SpanL + 2)) AS i FROM g)),
    cold AS (
      SELECT h FROM (SELECT h, doc_id, COUNT(*) AS k FROM sp GROUP BY h, doc_id)
      GROUP BY h HAVING COUNT(*) <= $SpanDfCap AND MAX(k) <= $SpanOccCap),
    spc AS (SELECT sp.* FROM sp JOIN cold USING (h)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
             a.pos - b.pos AS d
      FROM spc a JOIN spc b ON a.h = b.h AND a.doc_id < b.doc_id),
    isl AS (
      SELECT *, pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, d ORDER BY pa) AS isl
      FROM m),
    spans AS (
      SELECT doc_a, doc_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
             MAX(pa) - MIN(pa) + $SpanL AS span_len
      FROM isl GROUP BY doc_a, doc_b, d, isl),
    iv AS (
      SELECT DISTINCT doc_b AS doc_id, start_b AS s, start_b + span_len - 1 AS e
      FROM spans WHERE span_len >= $MinSpan),
    mx AS (
      SELECT *, MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      FROM iv),
    fl AS (SELECT *, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nf FROM mx),
    gi AS (
      SELECT *, SUM(nf) OVER (PARTITION BY doc_id ORDER BY s, e
                              ROWS UNBOUNDED PRECEDING) AS gid
      FROM fl),
    mg AS (SELECT doc_id, MIN(s) AS cs, MAX(e) AS ce FROM gi GROUP BY doc_id, gid),
    pos AS (SELECT doc_id, words, UNNEST(RANGE(1, LEN(words) + 1)) AS i FROM f),
    kept AS (
      SELECT p.doc_id, p.i, p.words[p.i] AS w
      FROM pos p WHERE NOT EXISTS (
        SELECT 1 FROM mg
        WHERE mg.doc_id = p.doc_id AND p.i BETWEEN mg.cs AND mg.ce)),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after,
             MD5(STRING_AGG(w, ' ' ORDER BY i)) AS text_md5
      FROM kept GROUP BY doc_id)
    SELECT f.doc_id, CAST(LEN(f.words) AS BIGINT) AS n_before,
           COALESCE(agg.n_after, 0) AS n_after,
           COALESCE(agg.text_md5, MD5('')) AS text_md5
    FROM f LEFT JOIN agg USING (doc_id)
    ORDER BY f.doc_id"""

  /** Leakage-free (cluster-aware) splitting (t78) — the fix for the
    * subtle eval-inflation bug the plain per-doc hash split (t33)
    * carries: two NEAR-DUPLICATE documents can land in train and eval,
    * and the model is then evaluated on (a paraphrase of) its own
    * training data. The cure is to split by the near-dup CLUSTER: every
    * member inherits its cluster representative's hash bucket, so a
    * whole duplicate family moves between splits as one unit. Reports,
    * per document: the naive and the cluster split, and whether the
    * naive split was `leaky` (its cluster straddles splits).
    *
    * Scale shape: the cluster labels are t40's memoized
    * connected-components artifact (left join, singleton docs are
    * their own representative); leak detection is one cluster-keyed
    * distinct-count — all shuffles are label-sized. The split rule is
    * the SAME md5 bucket as t33, applied to the representative id, so
    * cluster-split train/eval proportions stay calibrated.
    */
  def qClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val labels = TextOps.qDedupClusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    val rep = Tables.documents(s, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split_doc", splitCol(col("doc_id")))
      .withColumn("split_cluster", splitCol(col("cluster_rep")))
    // Leak detection as ONE cluster-keyed window pass (r15): the
    // groupBy + self-join of the r14 shape executed the whole rep
    // subtree (documents scan, label join, two md5 splits) TWICE —
    // once for the counts, once for the probe side. `min ≠ max` over
    // the (bounded, 3-valued) split strings is countDistinct > 1, and
    // the window is cluster-partitioned (never unpartitioned), so one
    // exchange and one scan replace two of each.
    val wc = Window.partitionBy(col("cluster_rep"))
    rep
      .withColumn("leaky",
        min(col("split_doc")).over(wc) =!= max(col("split_doc")).over(wc))
      .select(col("doc_id"), col("cluster_rep"), col("split_doc"),
        col("split_cluster"), col("leaky"))
      .orderBy(col("doc_id"))
  }

  val qClusterSplitOracle: String = s"""
    WITH lab AS (
      SELECT doc_id, cluster_id FROM (${TextOps.qDedupClustersOracle})),
    rep AS (
      SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS cluster_rep
      FROM (SELECT doc_id FROM documents) d
      LEFT JOIN lab ON d.doc_id = lab.doc_id),
    sp AS (
      SELECT doc_id, cluster_rep,
             CASE WHEN bd < 13 THEN 'test' WHEN bd < 39 THEN 'eval'
                  ELSE 'train' END AS split_doc,
             CASE WHEN bc < 13 THEN 'test' WHEN bc < 39 THEN 'eval'
                  ELSE 'train' END AS split_cluster
      FROM (SELECT doc_id, cluster_rep,
                   CAST(CONCAT('0x', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) AS bd,
                   CAST(CONCAT('0x', SUBSTRING(MD5(CAST(cluster_rep AS VARCHAR)), 1, 2)) AS INT) AS bc
            FROM rep)),
    lk AS (
      SELECT cluster_rep, COUNT(DISTINCT split_doc) AS nsplits
      FROM sp GROUP BY cluster_rep)
    SELECT sp.doc_id, sp.cluster_rep, sp.split_doc, sp.split_cluster,
           lk.nsplits > 1 AS leaky
    FROM sp JOIN lk USING (cluster_rep)
    ORDER BY sp.doc_id"""

  /** Train docs sharing any token window with the eval side, SCREENED
    * UNDER A CALLER-SUPPLIED SPLIT (`splits`: (doc_id, split)) — the
    * generalization `writeCuratedFull` needs: when the corpus is
    * written under t78's cluster splits, contamination must be
    * screened against those splits, not the naive per-doc hash the
    * t68 gate pins (screening one split while writing another lets a
    * train doc of the WRITTEN assignment share spans with written
    * eval docs undetected).
    */
  private[graft] def spanContaminatedTrainDocs(s: SparkSession, dir: String,
      splits: DataFrame): DataFrame = {
    val tagged = spanRelation(s, dir).join(splits, Seq("doc_id"))
    val evalHashes = tagged.filter(col("split") === "eval")
      .select(col("h64")).distinct()
    tagged.filter(col("split") === "train")
      .join(evalHashes, Seq("h64"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** Spans shared by more than this many documents are boilerplate, not
    * contamination — and at scale, unbounded posting lists on a hot
    * span are exactly the t38 quadratic; the cap is the same guard.
    */
  private val AttribDfCap = 100

  /** Contamination ATTRIBUTION (t76) — the report t68's boolean screen
    * leads to: which eval documents collide with which train documents,
    * and on how many distinct token windows. This is the artifact a
    * release review actually reads (is the collision one quoted
    * benchmark item, or wholesale leakage?) — per (eval_doc,
    * train_doc) pair, the count of distinct shared length-[[SpanL]]
    * windows.
    *
    * Scale shape: both sides deduplicate (doc, hash) in-window before
    * the probe join (a span repeated inside one doc must not multiply
    * the pair count), and span hashes occurring in more than
    * [[AttribDfCap]] documents are excluded as boilerplate — the t38
    * df-cap discipline that bounds per-hash join fanout, so the pair
    * stage is Σ|posting|² over capped lists, never corpus-quadratic.
    * Reads the memoized t65/t68 span relation: zero extra corpus
    * passes.
    */
  def qContaminationReport(s: SparkSession, dir: String): DataFrame = {
    // memoized: the distinct (doc, split, hash) relation feeds BOTH the
    // df-cap build and the screened probe join — one shuffle-heavy
    // distinct however many plan branches read it
    val tagged = SessionMemo.persist("training:span-distinct", s, dir) {
      spanRelation(s, dir)
        .withColumn("split", splitCol(col("doc_id")))
        .select(col("doc_id"), col("split"), col("h64")).distinct()
    }
    // the df-cap-screened relation is itself a corpus-snapshot artifact
    // (like the signature index): build the cap aggregate + join once
    // per (session, dir), not once per pass
    val screened = SessionMemo.persist("training:span-screened", s, dir) {
      val capped = tagged.groupBy(col("h64"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") <= AttribDfCap)
        .select(col("h64"))
      // df-cap counts ALL splits (the oracle's sw includes test), but
      // only eval/train rows are ever probed — test rows (~5% of docs)
      // would ride the cache and both join-side scans dead (r16)
      tagged.join(capped, Seq("h64")).filter(col("split") =!= lit("test"))
    }
    // (r15 note: a grouped collect-then-cross-in-row variant was
    // measured WORSE — the collect aggregates doc lists for every
    // hash, matching or not, while this join only moves hashes both
    // splits share. Left as the join.)
    val ev = screened.filter(col("split") === "eval")
      .select(col("h64"), col("doc_id").as("eval_doc"))
    val tr = screened.filter(col("split") === "train")
      .select(col("h64"), col("doc_id").as("train_doc"))
    ev.join(tr, Seq("h64"))
      .groupBy(col("eval_doc"), col("train_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("eval_doc"), col("train_doc"))
  }

  val qContaminationReportOracle: String = s"""
    WITH f AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '') AS words
      FROM documents),
    g AS (SELECT doc_id, words, LEN(words) AS n FROM f WHERE LEN(words) >= $SpanL),
    sp AS (
      SELECT DISTINCT doc_id, MD5(ARRAY_TO_STRING(words[i:i + $SpanL - 1], ' ')) AS h
      FROM (SELECT doc_id, words, UNNEST(RANGE(1, n - $SpanL + 2)) AS i FROM g)),
    sw AS (
      SELECT doc_id, h,
             CASE WHEN b < 13 THEN 'test' WHEN b < 39 THEN 'eval' ELSE 'train' END AS split
      FROM (SELECT *, CAST(CONCAT('0x', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) AS b
            FROM sp)),
    capped AS (
      SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM sw GROUP BY h)
      WHERE df <= $AttribDfCap),
    sc AS (SELECT sw.* FROM sw JOIN capped USING (h))
    SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM sc e JOIN sc t ON e.h = t.h
    WHERE e.split = 'eval' AND t.split = 'train'
    GROUP BY eval_doc, train_doc
    ORDER BY eval_doc, train_doc"""

  /** Chunk-level boilerplate dedup (t63): CCNet-style paragraph-hash
    * dedup with t57's windows as the unit — a chunk whose hash appears
    * in MORE THAN ONE document is boilerplate (shared headers, quoted
    * runs, templated spans), reported per document as a count and
    * fraction. Pure composition of t57 (same builder, same oracle
    * nested as a CTE): one hash-count aggregate over the chunk
    * relation + one re-join, both on the chunk hash — corpus-scale
    * work is two shuffles of chunk-hash-sized rows.
    */
  def qChunkDedup(s: SparkSession, dir: String): DataFrame = {
    // r15: no chunk-sized join back. Pre-aggregate to (hash, doc)
    // occurrence counts (map-side combinable), learn docs_with as a
    // hash-partitioned window count over that reduced relation — rows
    // per hash = distinct docs, so the count IS countDistinct without
    // the Expand doubling — and roll up per doc. The old shape joined
    // the full chunk relation against the hash aggregate, shuffling
    // chunk occurrences twice.
    val perDoc = chunkRelation(s, dir)
      .groupBy(col("chunk_hash"), col("doc_id"))
      .agg(count(lit(1)).as("k"))
    val wh = Window.partitionBy(col("chunk_hash"))
    perDoc
      .withColumn("docs_with", count(lit(1)).over(wh))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_chunks"),
        sum(when(col("docs_with") > 1, col("k")).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        col("n_boiler").cast("double") / col("n_chunks"))
      .orderBy(col("doc_id"))
  }

  val qChunkDedupOracle: String = s"""
    WITH c AS ($qChunkDocsOracle),
    hd AS (
      SELECT chunk_hash, COUNT(DISTINCT doc_id) AS docs_with
      FROM c GROUP BY chunk_hash),
    d AS (
      SELECT c.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(CASE WHEN hd.docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
      FROM c JOIN hd ON hd.chunk_hash = c.chunk_hash
      GROUP BY c.doc_id)
    SELECT doc_id, n_chunks, n_boiler,
           CAST(n_boiler AS DOUBLE) / n_chunks AS boiler_frac
    FROM d
    ORDER BY doc_id"""

  val all: Seq[GateQuery] = Seq(
    GateQuery("t33_split", qSplit, Some(qSplitOracle)),
    GateQuery("t34_source_mix", qSourceMix, Some(qSourceMixOracle)),
    GateQuery("t64_temperature_mix", qTemperatureMix, Some(qTemperatureMixOracle)),
    GateQuery("t70_unimax_mix", qUnimaxMix, Some(qUnimaxMixOracle)),
    GateQuery("t49_mix_epochs", qMixEpochs, Some(qMixEpochsOracle)),
    GateQuery("t35_decontaminate", qDecontaminate, Some(qDecontaminateOracle)),
    // same statistic, bloom-prefiltered layout; exact after verify, so
    // it shares t35's oracle — the gate proves the sketch lost nothing
    GateQuery("t46_bloom_decontaminate", qBloomDecontaminate, Some(qDecontaminateOracle)),
    GateQuery("t36_repetition_filter", qRepetitionFilter, Some(qRepetitionFilterOracle)),
    GateQuery("t39_seq_pack", qSeqPack, Some(qSeqPackOracle)),
    GateQuery("t53_token_budget", qTokenBudget, Some(qTokenBudgetOracle)),
    GateQuery("t57_chunk_docs", qChunkDocs, Some(qChunkDocsOracle)),
    GateQuery("t63_chunk_dedup", qChunkDedup, Some(qChunkDedupOracle)),
    GateQuery("t65_repeated_spans", qRepeatedSpans, Some(qRepeatedSpansOracle)),
    GateQuery("t67_chunk_retrieval", qChunkRetrieval, Some(qChunkRetrievalOracle)),
    GateQuery("t68_span_decontaminate", qSpanDecontaminate, Some(qSpanDecontaminateOracle)),
    GateQuery("t82_exact_substring", qExactSubstring, Some(qExactSubstringOracle)),
    GateQuery("t83_self_repetition", qSelfRepetition, Some(qSelfRepetitionOracle)),
    GateQuery("t87_self_repetition_sampled", qSelfRepetitionSampled,
      Some(qSelfRepetitionSampledOracle)),
    GateQuery("t84_substring_cut_plan", qSubstringCutPlan, Some(qSubstringCutPlanOracle)),
    GateQuery("t85_substring_apply", qSubstringApply, Some(qSubstringApplyOracle)),
    GateQuery("t76_contamination_report", qContaminationReport, Some(qContaminationReportOracle)),
    GateQuery("t78_cluster_split", qClusterSplit, Some(qClusterSplitOracle)),
  )
}
