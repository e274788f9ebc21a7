package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Similarity search over the `embeddings` table (Array[Float], 64-d):
  * the ANN operators from the project north star.
  *
  *  - brute-force cosine top-k — the exact baseline (query-set ×
  *    corpus, fine when the query set is small/broadcastable);
  *  - multi-band sign-LSH ANN — the scale path: each vector gets
  *    bands×bits sign bits against fixed hyperplanes, sliced into
  *    banded signatures (MinHash-style banding), so candidate
  *    generation is an equi-join on (band, signature) with a hot-bucket
  *    cap — no cross join anywhere and no O(N²/buckets) stage;
  *  - per-label vector stats (decimal-exact norm aggregation).
  *
  * All vector math routes through the codegen'd
  * [[graft.functions.DotProduct]] expression — a strictly sequential
  * accumulation, which both Spark and the DuckDB oracle's
  * `LIST_DOT_PRODUCT` evaluate in identical IEEE order, so cosines are
  * engine-exact without any rounding (r7: same order as the interpreted
  * `aggregate(zip_with(…))` folds it replaced, minus the per-element
  * lambda overhead).
  */
object VectorOps {

  /** embedding cast float→double (exact widening). */
  private val vec: Column = expr("transform(embedding, x -> cast(x as double))")

  /** Sequential dot product — the codegen'd [[graft.functions.DotProduct]]
    * expression (r7; previously an interpreted `aggregate(zip_with(…))`
    * fold — identical IEEE operation order, so every oracle hash is
    * unchanged, but the loop now runs inside whole-stage codegen).
    * Sessions register the function in [[embs]]/[[qVectorStats]], the
    * entry points of every plan built here.
    */
  private def dot(a: String, b: String): Column =
    expr(s"dot_product($a, $b)")

  /** (vec_id, label, v, nv = ‖v‖): the norm is a per-vector constant, so
    * compute it ONCE at load instead of per candidate pair — the scoring
    * joins then do one dot product per pair instead of three. sqrt of
    * the same left-fold is bit-identical to the oracle's per-row
    * SQRT(LIST_DOT_PRODUCT(v, v)), so cosines are unchanged.
    */
  private def embs(s: SparkSession, dir: String): DataFrame = {
    graft.sql.GraftExtensions.register(s)
    SessionMemo.persist("vec:embs", s, dir) {
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), vec.as("v"))
        .withColumn("nv", sqrt(dot("v", "v")))
    }
  }

  /** The materialized (vec_id, band_id, sig) signature index — computed
    * once per (session, dir) and shared by every probing query, exactly
    * as a 100 TB deployment would materialize it instead of recomputing
    * signatures per plan branch.
    */
  private[graft] def bandSigs(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("vec:bands", s, dir) {
      withBandSigs(embs(s, dir).select(col("vec_id"), col("v")))
        .select(col("vec_id"), col("band_id"), col("sig"))
    }

  /** Brute-force cosine top-k: 10 query vectors against the corpus.
    * cosine = dot / (sqrt(na) * sqrt(nb)) — parenthesization mirrored
    * exactly in the oracle.
    */
  def qAnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("v"), col("nv"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("qnv"))
    val joined = broadcast(q).crossJoin(e)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot("qv", "v") / (col("qnv") * col("nv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val qAnnBruteForceOracle: String = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
      SELECT query_id, vec_id,
             LIST_DOT_PRODUCT(qv, v) /
               (SQRT(LIST_DOT_PRODUCT(qv, qv)) * SQRT(LIST_DOT_PRODUCT(v, v))) AS cosine
      FROM q CROSS JOIN e
      WHERE vec_id <> query_id),
    ranked AS (
      SELECT query_id, vec_id AS neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
    SELECT query_id, rank, neighbor_id, cosine
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank"""

  /** Multi-band sign-LSH blocking — the 100 TB path (r4: replaces the
    * single 8-bit bucket, whose 256 values made within-bucket all-pairs
    * O(N²/256) at a billion vectors). MinHash-style banding over sign
    * bits: `LshBands` bands of `LshBits` sign bits each; a pair is a
    * candidate iff it agrees on ALL bits of SOME band. With 4×12 the
    * per-band key space is 4096 buckets and the bucket-size cap bounds
    * the worst case outright; at 100 TB you'd raise bits with log N
    * (16–24 per band) and re-tune bands for the recall target — both
    * are plain parameters here, and the cap turns any residual hot
    * bucket into dropped candidates instead of a quadratic stage.
    *
    * Hyperplanes are the first bands×bits corpus vectors (a fixed,
    * data-derived model parameter, joined as a broadcast side — no
    * driver collect). All bits fold IN-ROW into one long from a single
    * broadcast plane array (no explode-per-plane shuffle); band
    * signatures are shift/mask slices of that long. Bit sums are
    * order-independent integers, so signatures are engine-exact.
    */
  private[graft] val LshBands = 4
  private[graft] val LshBits = 12
  private[graft] val LshCap = 100 // max vectors per (band, sig) bucket

  // ---- The sign-LSH kernel: vectors → packed sign bits → band
  // slices. v34/v35 (batch) and IncrementalAnn (drop fold) both sign
  // through these two functions; what differs on purpose stays with
  // the callers — the planes (corpus-derived here, written once by the
  // index) and the bucket cap (window here, folded occupancy there).

  /** Adds `bucket`: the sign bit of `v` · `pv` for every (plane_id, pv)
    * row of `planes`, packed into one long (bit `plane_id`) against a
    * single broadcast plane array. */
  private[graft] def signBuckets(df: DataFrame, planes: DataFrame): DataFrame = {
    val planesArr = planes
      .agg(collect_list(struct(col("plane_id"), col("pv"))).as("ps"))
    df.crossJoin(broadcast(planesArr))
      .withColumn("bucket", expr(
        """aggregate(ps, 0L, (acc, p) -> acc +
             if(dot_product(v, p.pv) >= 0,
                shiftleft(1L, p.plane_id), 0L))"""))
      .drop("ps")
  }

  /** Replaces `bucket` by `bands` rows (band_id, sig): band b's
    * signature is bits [b·bits, (b+1)·bits) of the bucket. */
  private[graft] def bandSlices(df: DataFrame, bands: Int, bits: Int): DataFrame =
    df.select(col("*"), explode(expr(s"sequence(0, ${bands - 1})")).as("band_id"))
      .withColumn("sig",
        expr(s"shiftright(bucket, $bits * band_id) & ${(1 << bits) - 1}"))
      .drop("bucket")

  private def withBandSigs(e: DataFrame): DataFrame = {
    val planes = e.filter(col("vec_id") < LshBands * LshBits)
      .select(col("vec_id").cast("int").as("plane_id"), col("v").as("pv"))
    val banded = bandSlices(signBuckets(e, planes), LshBands, LshBits)
    // Hot-bucket guard: a degenerate signature (e.g. the all-zeros region
    // of a skewed embedding space) would reintroduce the quadratic stage;
    // cap membership and drop that bucket's candidates instead.
    val w = Window.partitionBy(col("band_id"), col("sig"))
    banded.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= LshCap).drop("bn")
  }

  def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("v"), col("nv"))
    val banded = bandSigs(s, dir)
    val q = banded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("band_id").as("qband"),
        col("sig").as("qsig"))
    // candidates = distinct (query, neighbor) id pairs sharing ANY band;
    // the wide exchange moves only ids, vectors re-attach afterwards
    val cand = q.join(banded,
        col("band_id") === col("qband") && col("sig") === col("qsig") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nv").as("qnv")), Seq("query_id"))
      .join(e, Seq("vec_id"))
      .withColumn("cosine", dot("qv", "v") / (col("qnv") * col("nv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val qAnnLshOracle: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    planes AS (SELECT vec_id AS plane_id, v AS pv FROM e
               WHERE vec_id < ${LshBands * LshBits}),
    bb AS (
      SELECT e.vec_id, plane_id // $LshBits AS band_id,
             CAST(SUM(CASE WHEN LIST_DOT_PRODUCT(v, pv) >= 0
                           THEN 1 << (plane_id % $LshBits) ELSE 0 END) AS BIGINT) AS sig
      FROM e CROSS JOIN planes
      GROUP BY e.vec_id, plane_id // $LshBits),
    capped AS (
      SELECT vec_id, band_id, sig FROM
        (SELECT *, COUNT(*) OVER (PARTITION BY band_id, sig) AS bn FROM bb)
      WHERE bn <= $LshCap),
    q AS (SELECT vec_id AS query_id, band_id, sig FROM capped WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id
      FROM q JOIN capped c ON c.band_id = q.band_id AND c.sig = q.sig
       AND c.vec_id <> q.query_id),
    scored AS (
      SELECT query_id, cand.vec_id AS neighbor_id,
             LIST_DOT_PRODUCT(qe.v, ce.v) /
               (SQRT(LIST_DOT_PRODUCT(qe.v, qe.v)) * SQRT(LIST_DOT_PRODUCT(ce.v, ce.v))) AS cosine
      FROM cand
      JOIN e qe ON qe.vec_id = cand.query_id
      JOIN e ce ON ce.vec_id = cand.vec_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, rank, neighbor_id, cosine
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank"""

  /** Embedding-cosine near-dup detection (dedup family): all candidate
    * pairs sharing any sign-LSH band with cosine ≥ 0.3. Same banded
    * blocking as qAnnLsh — the candidate join moves only id pairs, the
    * exact-cosine verify re-attaches vectors by key, and the bucket cap
    * bounds the worst bucket, so the plan stays join-shaped at 100 TB.
    */
  def qCosineDedup(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("v"), col("nv"))
    val banded = bandSigs(s, dir)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.sig") === col("y.sig") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nv").as("na")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nv").as("nb")), Seq("id_b"))
      .withColumn("cosine", dot("va", "vb") / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.3)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val qCosineDedupOracle: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    planes AS (SELECT vec_id AS plane_id, v AS pv FROM e
               WHERE vec_id < ${LshBands * LshBits}),
    bb AS (
      SELECT e.vec_id, plane_id // $LshBits AS band_id,
             CAST(SUM(CASE WHEN LIST_DOT_PRODUCT(v, pv) >= 0
                           THEN 1 << (plane_id % $LshBits) ELSE 0 END) AS BIGINT) AS sig
      FROM e CROSS JOIN planes
      GROUP BY e.vec_id, plane_id // $LshBits),
    capped AS (
      SELECT vec_id, band_id, sig FROM
        (SELECT *, COUNT(*) OVER (PARTITION BY band_id, sig) AS bn FROM bb)
      WHERE bn <= $LshCap),
    cand AS (
      SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      FROM capped x JOIN capped y
        ON x.band_id = y.band_id AND x.sig = y.sig AND x.vec_id < y.vec_id),
    pairs AS (
      SELECT id_a, id_b,
             LIST_DOT_PRODUCT(a.v, b.v) /
               (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))) AS cosine
      FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b)
    SELECT id_a, id_b, cosine
    FROM pairs WHERE cosine >= 0.3
    ORDER BY id_a, id_b"""

  /** Per-label vector statistics: counts and decimal-exact norm
    * aggregation (per-row norms are engine-identical doubles; the
    * decimal cast makes the cross-row sum order-independent).
    */
  def qVectorStats(s: SparkSession, dir: String): DataFrame = {
    graft.sql.GraftExtensions.register(s)
    Tables.embeddings(s, dir)
      .withColumn("v", vec)
      .withColumn("norm", sqrt(dot("v", "v")))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("norm").cast(DecimalType(18, 6))).cast("double").as("sum_norm6"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"))
      .withColumn("avg_norm6", col("sum_norm6") / col("n"))
      .orderBy(col("label"))
  }

  val qVectorStatsOracle: String = """
    WITH e AS (SELECT label, SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
                                                   CAST(embedding AS DOUBLE[]))) AS norm
               FROM embeddings)
    SELECT label, COUNT(*) AS n,
           CAST(SUM(CAST(norm AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm6,
           MIN(norm) AS min_norm, MAX(norm) AS max_norm,
           CAST(SUM(CAST(norm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_norm6
    FROM e
    GROUP BY label
    ORDER BY label"""

  /** IVF (inverted-file) ANN — the second scale path beside sign-LSH.
    * Coarse quantizer: per-label centroids (the labels stand in for a
    * k-means coarse assignment, which at 100 TB would be trained
    * offline). Centroid coordinates are fixed-point-exact sums / count
    * (see [[ivfCentroids]]) so both engines derive identical doubles;
    * queries probe the top-2
    * centroids by cosine and search only those partitions — candidate
    * generation is an equi-join on label, never a cross join.
    */
  /** Engine-exact per-dimension per-label centroid: posexplode →
    * FIXED-POINT sum (floor(x·10¹²) as integer) → double/count/10¹².
    * Not a decimal cast: embedding coordinates are float-derived
    * doubles with short binary mantissas, so their decimal expansions
    * land on exact .5 rounding boundaries often enough that a
    * decimal(28,12) cast disagrees between Spark (HALF_UP) and DuckDB —
    * measured 5 of 640 (label, dim) sums off by 1e-12 at sf0.1.
    * Flooring the identical double has no rounding decision, and the
    * ≤1e-12 quantization per coordinate is semantically irrelevant for
    * a coarse quantizer. Memoized per (session, dir): centroid training
    * is the offline step of IVF — a serving deployment materializes the
    * quantizer once and every probe (v37) and assignment pass (v39)
    * reuses it, which is exactly this shape.
    */
  private def ivfCentroids(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("vec:ivf-centroids", s, dir) {
      embs(s, dir)
        .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg((sum(floor(col("x") * lit(1e12)).cast("long")).cast("double") /
          count(lit(1)) / lit(1e12)).as("c"))
        .groupBy(col("label"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), p -> p.c)").as("cv"))
        .withColumn("ncv", sqrt(dot("cv", "cv")))
    }

  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val cent = ivfCentroids(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("qnv"))
    val probes = {
      val scored = q.join(broadcast(cent))
        .withColumn("csim", dot("qv", "cv") / (col("qnv") * col("ncv")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("csim").desc, col("label"))
      scored.withColumn("p", row_number().over(w)).filter(col("p") <= 2)
        .select(col("query_id"), col("qv"), col("qnv"), col("label"))
    }
    val joined = probes.join(e, Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot("qv", "v") / (col("qnv") * col("nv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("label"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val qAnnIvfOracle: String = """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dims AS (
      SELECT label, i AS dim, x
      FROM (SELECT label, UNNEST(v) AS x,
                   UNNEST(RANGE(0, LEN(v))) AS i
            FROM e)),
    cdim AS (
      SELECT label, dim,
             CAST(SUM(CAST(FLOOR(x * 1e12) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1e12 AS c
      FROM dims GROUP BY label, dim),
    cent AS (SELECT label, LIST(c ORDER BY dim) AS cv FROM cdim GROUP BY label),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv, label FROM (
        SELECT q.query_id, q.qv, cent.label,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 LIST_DOT_PRODUCT(qv, cv) /
                   (SQRT(LIST_DOT_PRODUCT(qv, qv)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) DESC,
                 cent.label) AS p
        FROM q CROSS JOIN cent)
      WHERE p <= 2),
    scored AS (
      SELECT probes.query_id, e.vec_id AS neighbor_id, e.label,
             LIST_DOT_PRODUCT(qv, v) /
               (SQRT(LIST_DOT_PRODUCT(qv, qv)) * SQRT(LIST_DOT_PRODUCT(v, v))) AS cosine
      FROM probes JOIN e ON probes.label = e.label
      WHERE e.vec_id <> probes.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, label, cosine
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank"""

  /** Scalar-quantized (SQ8) ANN — the memory-bandwidth scale path that
    * complements sign-LSH (recall) and IVF (partitioning): each
    * dimension is affinely mapped to an 8-bit code against the corpus
    * per-dimension min/max, the first-stage scan DEQUANTIZES the codes
    * (x̃ᵢ = dminᵢ + (qᵢ + 0.5)·(dmaxᵢ − dminᵢ)/256 — the reconstruction
    * at the code cell's midpoint) and ranks by the approximate cosine
    * over x̃; only the top `QuantCand` per query are reranked with the
    * exact float cosine. The codes table is what a 100 TB scan READS
    * (4× less memory traffic than float32) — dequantization is
    * register-level arithmetic on top of that stream, which is exactly
    * how FAISS's SQ8 flat scan works. Min/max training is a one-pass
    * distributive aggregate (memoized per session like the IVF
    * centroids). Note the raw INTEGER code dot product is NOT a cosine
    * surrogate — the affine offset (x − dmin) dominates it for
    * uncentered data — which is why the reconstruction carries the
    * dmin/scale correction.
    *
    * Parity notes: min/max over doubles are exact, and both engines
    * evaluate the quantize (`floor`) and dequantize expressions in
    * identical IEEE operand order, so codes, scores and ranks all match
    * bit-for-bit without any decimal rounding.
    */
  private val QuantCand = 20

  private[graft] def quantized(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("vec:sq8", s, dir) {
      val e = embs(s, dir)
      // per-dimension min/max -> one broadcastable row of (mins, maxs)
      val stats = e.select(posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("dim"))
        .agg(min(col("x")).as("dmin"), max(col("x")).as("dmax"))
        .agg(
          expr("transform(array_sort(collect_list(struct(dim, dmin))), p -> p.dmin)").as("mins"),
          expr("transform(array_sort(collect_list(struct(dim, dmax))), p -> p.dmax)").as("maxs"))
      e.crossJoin(broadcast(stats))
        .withColumn("qv", expr(
          """transform(sequence(1, size(v)), i ->
               if(element_at(maxs, i) = element_at(mins, i), 0L,
                  cast(floor((element_at(v, i) - element_at(mins, i)) * 255.999
                             / (element_at(maxs, i) - element_at(mins, i))) as bigint)))"""))
        // midpoint reconstruction from the codes (the only thing a
        // scale scan reads) + its norm, computed once per vector
        .withColumn("dv", expr(
          """transform(sequence(1, size(qv)), i ->
               if(element_at(maxs, i) = element_at(mins, i), element_at(mins, i),
                  element_at(mins, i) + (element_at(qv, i) + 0.5d)
                    * (element_at(maxs, i) - element_at(mins, i)) / 256.0d))"""))
        .withColumn("ndv", sqrt(dot("dv", "dv")))
        .select(col("vec_id"), col("v"), col("nv"), col("qv"), col("dv"), col("ndv"))
    }

  def qAnnQuantized(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("dv").as("qdv"),
        col("ndv").as("qndv"), col("v").as("qfv"), col("nv").as("qnv"))
    // stage 1: approximate-cosine scan over the reconstructed codes;
    // ties broken by vec_id so the candidate cut is deterministic
    val scanned = broadcast(q)
      .crossJoin(e.select(col("vec_id"), col("dv"), col("ndv")))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("qscore", dot("qdv", "dv") / (col("qndv") * col("ndv")))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("qscore").desc, col("vec_id"))
    val cand = scanned.withColumn("crank", row_number().over(w1))
      .filter(col("crank") <= QuantCand)
      .select(col("query_id"), col("qfv"), col("qnv"), col("vec_id"), col("qscore"))
    // stage 2: exact rerank of the small candidate set
    val rer = cand.join(embs(s, dir).select(col("vec_id"), col("v"), col("nv")),
        Seq("vec_id"))
      .withColumn("cosine", dot("qfv", "v") / (col("qnv") * col("nv")))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    rer.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("qscore"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val qAnnQuantizedOracle: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (SELECT UNNEST(RANGE(1, LEN(v) + 1)) AS dim, UNNEST(v) AS x FROM e),
    st AS (SELECT dim, MIN(x) AS dmin, MAX(x) AS dmax FROM d GROUP BY dim),
    arrs AS (SELECT LIST(dmin ORDER BY dim) AS mins, LIST(dmax ORDER BY dim) AS maxs FROM st),
    qz AS (
      SELECT vec_id, v,
             LIST_TRANSFORM(RANGE(1, LEN(v) + 1), i ->
               CASE WHEN maxs[i] = mins[i] THEN 0
                    ELSE CAST(FLOOR((v[i] - mins[i]) * 255.999 / (maxs[i] - mins[i])) AS BIGINT)
               END) AS qv
      FROM e CROSS JOIN arrs),
    dq AS (
      SELECT vec_id, v,
             LIST_TRANSFORM(RANGE(1, LEN(qv) + 1), i ->
               CASE WHEN maxs[i] = mins[i] THEN mins[i]
                    ELSE mins[i] + (qv[i] + 0.5) * (maxs[i] - mins[i]) / 256.0
               END) AS dv
      FROM qz CROSS JOIN arrs),
    q AS (SELECT vec_id AS query_id, dv AS qdv, v AS qfv FROM dq WHERE vec_id < 10),
    scanned AS (
      SELECT query_id, dq.vec_id, qfv,
             LIST_DOT_PRODUCT(qdv, dq.dv) /
               (SQRT(LIST_DOT_PRODUCT(qdv, qdv)) * SQRT(LIST_DOT_PRODUCT(dq.dv, dq.dv))) AS qscore
      FROM q CROSS JOIN dq
      WHERE dq.vec_id <> query_id),
    cand AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY qscore DESC, vec_id) AS crank
        FROM scanned)
      WHERE crank <= $QuantCand),
    rer AS (
      SELECT query_id, cand.vec_id AS neighbor_id, qscore,
             LIST_DOT_PRODUCT(qfv, e.v) /
               (SQRT(LIST_DOT_PRODUCT(qfv, qfv)) * SQRT(LIST_DOT_PRODUCT(e.v, e.v))) AS cosine
      FROM cand JOIN e ON e.vec_id = cand.vec_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rer)
    SELECT query_id, rank, neighbor_id, qscore, cosine
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank"""

  /** The TRAINED coarse quantizer for the composed IVF×SQ8 path: plain
    * k-means over the corpus — seeds are the first `IvfK` corpus
    * vectors (deterministic, spatially spread data points, not label
    * means: label means of a weakly-clustered embedding space all sit
    * near the centroid of mass, making cell assignment arbitrary —
    * measured 0.36 recall@5 with 2 probes vs 0.86 for this quantizer at
    * sf0.01), refined by `IvfIters` Lloyd iterations. Each iteration is
    * one corpus pass against the broadcast centroid set (the E-step
    * shape of v39) followed by a per-cell fixed-point mean (the
    * floor(x·10¹²) trick of [[ivfCentroids]], so both engines derive
    * bit-identical centroids). A cell that loses all members simply
    * disappears — deterministic in both engines. At 100 TB this trains
    * on an offline sample exactly like FAISS; here the memoized frame
    * IS that offline artifact.
    */
  private[graft] val IvfK = 10
  private[graft] val IvfIters = 2

  /** Nearest-centroid assignment of every corpus vector (ties by
    * smallest cell id) — one broadcast pass, the Lloyd E-step. */
  private def assignCells(e: DataFrame, cent: DataFrame): DataFrame = {
    val scored = e.select(col("vec_id"), col("v"), col("nv"))
      .crossJoin(broadcast(cent))
      .withColumn("csim", dot("v", "cv") / (col("nv") * col("ncv")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
  }

  /** First-k-smallest-id seeds + `iters` spherical Lloyd rounds over
    * any (vec_id, v, nv) frame — the trained coarse quantizer shared
    * by v37–v42, reusable on arbitrary vector frames (fixed-point
    * means, deterministic ties; requires distinct ids). The seed
    * top-k plans as TakeOrderedAndProject, not a global sort.
    */
  private[graft] def trainCentroids(e: DataFrame, k: Int, iters: Int): DataFrame = {
    var cent = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
      .withColumn("ncv", sqrt(dot("cv", "cv")))
    for (_ <- 1 to iters) {
      val assign = assignCells(e, cent)
      cent = e.join(assign, Seq("vec_id"))
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg((sum(floor(col("x") * lit(1e12)).cast("long")).cast("double") /
          count(lit(1)) / lit(1e12)).as("c"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), p -> p.c)").as("cv"))
        .withColumn("ncv", sqrt(dot("cv", "cv")))
    }
    cent
  }

  private[graft] def kmeansCentroids(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("vec:kmeans", s, dir) {
      // ids are dense from 0, so smallest-k seeds == the oracle's
      // `vec_id < k` seed set (gates v37–v42 re-verify this each run)
      trainCentroids(embs(s, dir), IvfK, IvfIters)
    }

  /** The IVF-partitioned SQ8 code index: every corpus vector's int8
    * codes keyed by its NEAREST-CENTROID cell under the trained
    * quantizer — the on-disk layout of a production 100 TB ANN serving
    * index (FAISS `IVF…,SQ8`). Building it is the offline indexing
    * pass: one corpus scan against the broadcast centroid set for the
    * assignment joined to the memoized SQ8 codes; serving queries never
    * touch float vectors until the rerank. Memoized per (session, dir)
    * like the centroids and codes it composes.
    */
  private[graft] def ivfCodes(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("vec:ivf-sq8", s, dir) {
      val assign = assignCells(embs(s, dir), kmeansCentroids(s, dir))
      quantized(s, dir).join(assign, Seq("vec_id"))
        .select(col("vec_id"), col("cid").as("ivf_cell"), col("qv"),
          col("dv"), col("ndv"))
    }

  /** IVF × SQ8 composed ANN — the full production shape: the trained
    * coarse quantizer prunes the corpus to the top-2 probed cells (an
    * equi-join on `ivf_cell`, never a scan), the pruned cells are
    * scanned over the SQ8 midpoint reconstruction with the EXACT float
    * query (asymmetric distance computation, the FAISS default — the
    * query is never quantized, only the corpus stream is), and the top
    * `QuantCand` per query are reranked with the exact float cosine.
    * This closes v38's one scale gap: its stage 1 flat-scanned the
    * whole corpus per query; here stage 1 reads only the probed cells'
    * codes. Every arithmetic step reuses a parity-established building
    * block (fixed-point centroid means, assignment ties by cell id,
    * floor-quantized codes, left-fold dot products), so the oracle
    * composes v38's CTEs with the unrolled Lloyd iterations verbatim.
    */
  def qAnnIvfSq8(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val cent = kmeansCentroids(s, dir)
    val codes = ivfCodes(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qfv"), col("nv").as("qnv"))
    val probes = {
      val scored = q.join(broadcast(cent))
        .withColumn("csim", dot("qfv", "cv") / (col("qnv") * col("ncv")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("csim").desc, col("cid"))
      scored.withColumn("p", row_number().over(w)).filter(col("p") <= 2)
        .select(col("query_id"), col("qfv"), col("qnv"),
          col("cid").as("ivf_cell"))
    }
    // stage 1: SQ8 scan restricted to the probed cells — an equi-join
    // on ivf_cell feeding the quantized scoring, no full-corpus stage
    val scanned = probes.join(codes, Seq("ivf_cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("qscore", dot("qfv", "dv") / (col("qnv") * col("ndv")))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("qscore").desc, col("vec_id"))
    val cand = scanned.withColumn("crank", row_number().over(w1))
      .filter(col("crank") <= QuantCand)
      .select(col("query_id"), col("qfv"), col("qnv"), col("vec_id"),
        col("ivf_cell"), col("qscore"))
    // stage 2: exact rerank of the small candidate set
    val rer = cand.join(e.select(col("vec_id"), col("v"), col("nv")), Seq("vec_id"))
      .withColumn("cosine", dot("qfv", "v") / (col("qnv") * col("nv")))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    rer.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("ivf_cell"), col("qscore"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Shared coarse-quantizer training CTEs (`e` → trained `cent`,
    * corpus assignment `asg`) — the unrolled first-$IvfK-seeds +
    * 2-Lloyd-round k-means both composed ANN oracles (v40, v41) sit
    * on. Kept as one string so the two oracles cannot train different
    * coarse quantizers.
    */
  private val coarseOracleCtes: String = s"""e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfK),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 LIST_DOT_PRODUCT(v, cv) /
                   (SQRT(LIST_DOT_PRODUCT(v, v)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) DESC,
                 cid) AS rn
        FROM e CROSS JOIN c0)
      WHERE rn = 1),
    c1dim AS (
      SELECT cid, dim,
             CAST(SUM(CAST(FLOOR(x * 1e12) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1e12 AS c
      FROM (SELECT a1.cid, i AS dim, x
            FROM (SELECT vec_id, UNNEST(v) AS x, UNNEST(RANGE(0, LEN(v))) AS i FROM e) ex
            JOIN a1 ON a1.vec_id = ex.vec_id)
      GROUP BY cid, dim),
    c1 AS (SELECT cid, LIST(c ORDER BY dim) AS cv FROM c1dim GROUP BY cid),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 LIST_DOT_PRODUCT(v, cv) /
                   (SQRT(LIST_DOT_PRODUCT(v, v)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) DESC,
                 cid) AS rn
        FROM e CROSS JOIN c1)
      WHERE rn = 1),
    c2dim AS (
      SELECT cid, dim,
             CAST(SUM(CAST(FLOOR(x * 1e12) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1e12 AS c
      FROM (SELECT a2.cid, i AS dim, x
            FROM (SELECT vec_id, UNNEST(v) AS x, UNNEST(RANGE(0, LEN(v))) AS i FROM e) ex
            JOIN a2 ON a2.vec_id = ex.vec_id)
      GROUP BY cid, dim),
    cent AS (SELECT cid, LIST(c ORDER BY dim) AS cv FROM c2dim GROUP BY cid),
    asg AS (
      SELECT vec_id, cid AS ivf_cell FROM (
        SELECT e.vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 LIST_DOT_PRODUCT(v, cv) /
                   (SQRT(LIST_DOT_PRODUCT(v, v)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) DESC,
                 cid) AS rn
        FROM e CROSS JOIN cent)
      WHERE rn = 1)"""

  val qAnnIvfSq8Oracle: String = s"""
    WITH $coarseOracleCtes,
    d AS (SELECT UNNEST(RANGE(1, LEN(v) + 1)) AS dim, UNNEST(v) AS x FROM e),
    st AS (SELECT dim, MIN(x) AS dmin, MAX(x) AS dmax FROM d GROUP BY dim),
    arrs AS (SELECT LIST(dmin ORDER BY dim) AS mins, LIST(dmax ORDER BY dim) AS maxs FROM st),
    qz AS (
      SELECT vec_id, v,
             LIST_TRANSFORM(RANGE(1, LEN(v) + 1), i ->
               CASE WHEN maxs[i] = mins[i] THEN 0
                    ELSE CAST(FLOOR((v[i] - mins[i]) * 255.999 / (maxs[i] - mins[i])) AS BIGINT)
               END) AS qv
      FROM e CROSS JOIN arrs),
    dq AS (
      SELECT vec_id,
             LIST_TRANSFORM(RANGE(1, LEN(qv) + 1), i ->
               CASE WHEN maxs[i] = mins[i] THEN mins[i]
                    ELSE mins[i] + (qv[i] + 0.5) * (maxs[i] - mins[i]) / 256.0
               END) AS dv
      FROM qz CROSS JOIN arrs),
    codes AS (
      SELECT dq.vec_id, asg.ivf_cell, dq.dv
      FROM dq JOIN asg ON asg.vec_id = dq.vec_id),
    q AS (SELECT vec_id AS query_id, v AS qfv FROM e WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qfv, cid AS ivf_cell FROM (
        SELECT q.query_id, q.qfv, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 LIST_DOT_PRODUCT(qfv, cv) /
                   (SQRT(LIST_DOT_PRODUCT(qfv, qfv)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) DESC,
                 cent.cid) AS p
        FROM q CROSS JOIN cent)
      WHERE p <= 2),
    scanned AS (
      SELECT probes.query_id, codes.vec_id, codes.ivf_cell, qfv,
             LIST_DOT_PRODUCT(qfv, dv) /
               (SQRT(LIST_DOT_PRODUCT(qfv, qfv)) * SQRT(LIST_DOT_PRODUCT(dv, dv))) AS qscore
      FROM probes JOIN codes ON codes.ivf_cell = probes.ivf_cell
      WHERE codes.vec_id <> probes.query_id),
    cand AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY qscore DESC, vec_id) AS crank
        FROM scanned)
      WHERE crank <= $QuantCand),
    rer AS (
      SELECT query_id, cand.vec_id AS neighbor_id, cand.ivf_cell, qscore,
             LIST_DOT_PRODUCT(qfv, e.v) /
               (SQRT(LIST_DOT_PRODUCT(qfv, qfv)) * SQRT(LIST_DOT_PRODUCT(e.v, e.v))) AS cosine
      FROM cand JOIN e ON e.vec_id = cand.vec_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rer)
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, ivf_cell, qscore, cosine
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank"""

  // ---- Product quantization (v41): the FAISS IVF,PQ shape ----

  private val PqM = 4        // subspaces
  private val PqSubDim = 16  // dims per subspace (64-dim corpus)
  private val PqK = 16       // centroids per subspace → 4-bit codes
  private val PqIters = 2
  // PQ's 16-bit codes rank far more coarsely than SQ8's 64 bytes, so the
  // exact-rerank pool is deeper (the FAISS IVF,PQ default shape: small
  // codes, big rerank). Shared by the Spark build and the oracle.
  private val PqCand = 50

  /** (vec_id, j, sv, nsv): the corpus split into PqM contiguous
    * subvectors — the product-quantizer training relation. In-row
    * slicing, one explode; memoized like every other index input.
    */
  private def subVecs(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("vec:pq-sub", s, dir) {
      embs(s, dir)
        .select(col("vec_id"), explode(expr(
          s"""transform(sequence(0, ${PqM - 1}),
                j -> struct(j AS j, slice(v, j * $PqSubDim + 1, $PqSubDim) AS sv))"""))
          .as("p"))
        .select(col("vec_id"), col("p.j").as("j"), col("p.sv").as("sv"))
        .withColumn("nsv", sqrt(dot("sv", "sv")))
    }

  /** Per-(vec, subspace) nearest-codebook-entry assignment (spherical:
    * by subvector cosine, ties to the smallest entry id) — the PQ
    * E-step, all subspaces in one pass against the broadcast books.
    */
  private def assignSub(sub: DataFrame, books: DataFrame): DataFrame = {
    val scored = sub.join(broadcast(books), Seq("j"))
      .withColumn("csim", dot("sv", "cv") / (col("nsv") * col("ncv")))
    val w = Window.partitionBy(col("vec_id"), col("j"))
      .orderBy(col("csim").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("j"), col("cid"))
  }

  /** Per-subspace codebooks (j, cid, cv, ncv): first-PqK seeds +
    * PqIters spherical Lloyd rounds, all PqM subspaces trained in ONE
    * loop (assignment windows and fixed-point mean aggregates carry
    * the subspace id). Codebook training is corpus-pass-bounded per
    * round exactly like the coarse quantizer's.
    */
  private[graft] def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("vec:pq-books", s, dir) {
      val sub = subVecs(s, dir)
      var books = sub.filter(col("vec_id") < PqK)
        .select(col("j"), col("vec_id").as("cid"), col("sv").as("cv"))
        .withColumn("ncv", sqrt(dot("cv", "cv")))
      for (_ <- 1 to PqIters) {
        val assign = assignSub(sub, books)
        books = sub.join(assign, Seq("vec_id", "j"))
          .select(col("j"), col("cid"), posexplode(col("sv")).as(Seq("dim", "x")))
          .groupBy(col("j"), col("cid"), col("dim"))
          .agg((sum(floor(col("x") * lit(1e12)).cast("long")).cast("double") /
            count(lit(1)) / lit(1e12)).as("c"))
          .groupBy(col("j"), col("cid"))
          .agg(expr("transform(array_sort(collect_list(struct(dim, c))), p -> p.c)").as("cv"))
          .withColumn("ncv", sqrt(dot("cv", "cv")))
      }
      books
    }

  /** The IVF-partitioned PQ index (vec_id, ivf_cell, rv, nrv): each
    * corpus vector stored as its PQ RECONSTRUCTION — the concatenation
    * of its PqM nearest sub-centroids — keyed by the trained coarse
    * cell. A production layout stores the PqM 4-bit codes (2 bytes a
    * vector, 32× smaller than SQ8) plus the shared codebooks; the
    * reconstruction is materialized here so the ADC scan reuses the
    * same parity-established dot product as v38's dequantized scan.
    */
  private[graft] def pqIndex(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persist("vec:pq-index", s, dir) {
      val books = pqCodebooks(s, dir)
      val recon = assignSub(subVecs(s, dir), books)
        .join(books.select(col("j"), col("cid"), col("cv")), Seq("j", "cid"))
        .groupBy(col("vec_id"))
        .agg(expr(
          "flatten(transform(array_sort(collect_list(struct(j, cv))), p -> p.cv))")
          .as("rv"))
        .withColumn("nrv", sqrt(dot("rv", "rv")))
      val cells = assignCells(embs(s, dir), kmeansCentroids(s, dir))
      recon.join(cells, Seq("vec_id"))
        .select(col("vec_id"), col("cid").as("ivf_cell"), col("rv"), col("nrv"))
    }

  /** IVF × PQ composed ANN (the FAISS `IVF10,PQ4` shape — the memory
    * format of billion-scale serving): the trained coarse quantizer
    * prunes to the top-2 probed cells (equi-join on `ivf_cell`), the
    * pruned cells are scanned by ADC — the EXACT float query against
    * each vector's PQ reconstruction (asymmetric distance; the query
    * is never quantized) — and the top QuantCand rerank exactly.
    * Complements v40: SQ8 keeps one byte per dimension, PQ keeps
    * PqM log₂(PqK)-bit codes per vector, the 32× smaller index that
    * fits 10⁹ vectors in RAM.
    */
  def qAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val cent = kmeansCentroids(s, dir)
    val idx = pqIndex(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qfv"), col("nv").as("qnv"))
    val probes = {
      val scored = q.join(broadcast(cent))
        .withColumn("csim", dot("qfv", "cv") / (col("qnv") * col("ncv")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("csim").desc, col("cid"))
      scored.withColumn("p", row_number().over(w)).filter(col("p") <= 2)
        .select(col("query_id"), col("qfv"), col("qnv"),
          col("cid").as("ivf_cell"))
    }
    val scanned = probes.join(idx, Seq("ivf_cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", dot("qfv", "rv") / (col("qnv") * col("nrv")))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val cand = scanned.withColumn("crank", row_number().over(w1))
      .filter(col("crank") <= PqCand)
      .select(col("query_id"), col("qfv"), col("qnv"), col("vec_id"),
        col("ivf_cell"), col("adc"))
    val rer = cand.join(e.select(col("vec_id"), col("v"), col("nv")), Seq("vec_id"))
      .withColumn("cosine", dot("qfv", "v") / (col("qnv") * col("nv")))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    rer.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("ivf_cell"), col("adc"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val qAnnIvfPqOracle: String = s"""
    WITH $coarseOracleCtes,
    js AS (SELECT UNNEST(RANGE(0, $PqM)) AS j),
    sub AS (
      SELECT vec_id, j,
             v[(j * $PqSubDim + 1):((j + 1) * $PqSubDim)] AS sv
      FROM e CROSS JOIN js),
    pc0 AS (SELECT j, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < $PqK),
    pa1 AS (
      SELECT vec_id, j, cid FROM (
        SELECT sub.vec_id, sub.j, pc0.cid,
               ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.j ORDER BY
                 LIST_DOT_PRODUCT(sv, cv) /
                   (SQRT(LIST_DOT_PRODUCT(sv, sv)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) DESC,
                 pc0.cid) AS rn
        FROM sub JOIN pc0 ON sub.j = pc0.j)
      WHERE rn = 1),
    pc1dim AS (
      SELECT sx.j, pa1.cid, i AS dim,
             CAST(SUM(CAST(FLOOR(x * 1e12) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1e12 AS c
      FROM (SELECT vec_id, j, UNNEST(sv) AS x, UNNEST(RANGE(0, LEN(sv))) AS i FROM sub) sx
      JOIN pa1 ON pa1.vec_id = sx.vec_id AND pa1.j = sx.j
      GROUP BY sx.j, pa1.cid, i),
    pc1 AS (SELECT j, cid, LIST(c ORDER BY dim) AS cv FROM pc1dim GROUP BY j, cid),
    pa2 AS (
      SELECT vec_id, j, cid FROM (
        SELECT sub.vec_id, sub.j, pc1.cid,
               ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.j ORDER BY
                 LIST_DOT_PRODUCT(sv, cv) /
                   (SQRT(LIST_DOT_PRODUCT(sv, sv)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) DESC,
                 pc1.cid) AS rn
        FROM sub JOIN pc1 ON sub.j = pc1.j)
      WHERE rn = 1),
    pc2dim AS (
      SELECT sx.j, pa2.cid, i AS dim,
             CAST(SUM(CAST(FLOOR(x * 1e12) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1e12 AS c
      FROM (SELECT vec_id, j, UNNEST(sv) AS x, UNNEST(RANGE(0, LEN(sv))) AS i FROM sub) sx
      JOIN pa2 ON pa2.vec_id = sx.vec_id AND pa2.j = sx.j
      GROUP BY sx.j, pa2.cid, i),
    pbooks AS (SELECT j, cid, LIST(c ORDER BY dim) AS cv FROM pc2dim GROUP BY j, cid),
    pasg AS (
      SELECT vec_id, j, cid FROM (
        SELECT sub.vec_id, sub.j, pbooks.cid,
               ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.j ORDER BY
                 LIST_DOT_PRODUCT(sv, cv) /
                   (SQRT(LIST_DOT_PRODUCT(sv, sv)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) DESC,
                 pbooks.cid) AS rn
        FROM sub JOIN pbooks ON sub.j = pbooks.j)
      WHERE rn = 1),
    recon AS (
      SELECT pasg.vec_id, FLATTEN(LIST(cv ORDER BY pasg.j)) AS rv
      FROM pasg JOIN pbooks ON pasg.j = pbooks.j AND pasg.cid = pbooks.cid
      GROUP BY pasg.vec_id),
    pidx AS (
      SELECT recon.vec_id, asg.ivf_cell, rv
      FROM recon JOIN asg ON asg.vec_id = recon.vec_id),
    q AS (SELECT vec_id AS query_id, v AS qfv FROM e WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qfv, cid AS ivf_cell FROM (
        SELECT q.query_id, q.qfv, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 LIST_DOT_PRODUCT(qfv, cv) /
                   (SQRT(LIST_DOT_PRODUCT(qfv, qfv)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) DESC,
                 cent.cid) AS p
        FROM q CROSS JOIN cent)
      WHERE p <= 2),
    scanned AS (
      SELECT probes.query_id, pidx.vec_id, pidx.ivf_cell, qfv,
             LIST_DOT_PRODUCT(qfv, rv) /
               (SQRT(LIST_DOT_PRODUCT(qfv, qfv)) * SQRT(LIST_DOT_PRODUCT(rv, rv))) AS adc
      FROM probes JOIN pidx ON pidx.ivf_cell = probes.ivf_cell
      WHERE pidx.vec_id <> probes.query_id),
    cand AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc DESC, vec_id) AS crank
        FROM scanned)
      WHERE crank <= $PqCand),
    rer AS (
      SELECT query_id, cand.vec_id AS neighbor_id, cand.ivf_cell, adc,
             LIST_DOT_PRODUCT(qfv, e.v) /
               (SQRT(LIST_DOT_PRODUCT(qfv, qfv)) * SQRT(LIST_DOT_PRODUCT(e.v, e.v))) AS cosine
      FROM cand JOIN e ON e.vec_id = cand.vec_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rer)
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, ivf_cell, adc, cosine
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank"""

  // ---- SemDeDup (v42): cluster-bounded semantic dedup ----

  /** Pairwise-cosine threshold above which two same-cluster vectors
    * count as semantic duplicates — v35's near-dup threshold, so the
    * two dedup families agree on what "duplicate" means.
    */
  private val SemDedupTau = 0.3

  /** SemDeDup (Abbas et al. 2023): cluster the corpus with the trained
    * coarse quantizer, then look for duplicate pairs ONLY within each
    * cluster — the published trick that turns all-pairs semantic dedup
    * into K disjoint small problems. Within a cluster, a vector is
    * REMOVED when a same-cluster vector exceeds [[SemDedupTau]] cosine
    * against it and sits FARTHER from the centroid in keep-priority —
    * the paper keeps the member with the LOWEST centroid cosine (ties
    * to the smaller vec_id), so each duplicate group survives as its
    * most boundary-hugging representative.
    *
    * Scale shape: the pair join is an equi-join on the cell id, so
    * candidate generation is Σ|cell|² not N² — K grows with the corpus
    * (cells stay bounded), exactly the IVF partitioning the serving
    * index already maintains; reuses the memoized centroids/assignment,
    * and the keep rule needs only the (vec_id, cell, ccos) relation —
    * vectors are re-attached by key for the pair cosine.
    */
  /** The keep/remove computation over an (vec_id, v, nv) frame and a
    * trained centroid frame: returns (vec_id, cell, ccos, removed)
    * with raw centroid cosines (callers quantize for hash gates).
    */
  private def semDedupCore(e: DataFrame, cent: DataFrame, tau: Double): DataFrame = {
    val cc = e.join(assignCells(e, cent), Seq("vec_id"))
      .join(broadcast(cent), Seq("cid"))
      .withColumn("ccos", dot("v", "cv") / (col("nv") * col("ncv")))
      .select(col("vec_id"), col("cid"), col("v"), col("nv"), col("ccos"))
    val removed = cc.as("a").join(cc.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("pcos", dot("a.v", "b.v") / (col("a.nv") * col("b.nv")))
      .filter(col("pcos") > tau &&
        (col("b.ccos") < col("a.ccos") ||
         (col("b.ccos") === col("a.ccos") && col("b.vec_id") < col("a.vec_id"))))
      .select(col("a.vec_id").as("vec_id"))
      .distinct()
      .withColumn("removed", lit(true))
    cc.join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").as("cell"), col("ccos"),
        coalesce(col("removed"), lit(false)).as("removed"))
  }

  def qSemDedup(s: SparkSession, dir: String): DataFrame =
    semDedupCore(embs(s, dir), kmeansCentroids(s, dir), SemDedupTau)
      .select(col("vec_id"), col("cell"),
        floor(col("ccos") * lit(1e12)).cast("long").as("ccos_fp"), col("removed"))
      .orderBy(col("vec_id"))

  /** Library-surface SemDeDup over ANY (id, vector) frame — e.g. the
    * output of `LlmOperators.embed` on a text corpus: trains its own
    * coarse quantizer (k smallest-id seeds + spherical Lloyd rounds,
    * the gate quantizer's procedure) and applies the
    * keep-lowest-centroid-cosine rule. Returns one row per input id
    * with (cell, ccos, removed); callers keep `!removed`. Requires
    * distinct numeric ids; identical vectors always share a cell, so
    * each group of exact-duplicate vectors survives as exactly its
    * smallest id.
    */
  def semDedup(vectors: DataFrame, idCol: String, vecCol: String,
      tau: Double = SemDedupTau, k: Int = IvfK, iters: Int = IvfIters): DataFrame = {
    graft.sql.GraftExtensions.register(vectors.sparkSession)
    val e = vectors.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", sqrt(dot("v", "v")))
    semDedupCore(e, trainCentroids(e, k, iters), tau)
      .withColumnRenamed("vec_id", idCol)
      .orderBy(col(idCol))
  }

  val qSemDedupOracle: String = s"""
    WITH $coarseOracleCtes,
    cc AS (
      SELECT asg.vec_id, asg.ivf_cell AS cid,
             LIST_DOT_PRODUCT(e.v, cent.cv) /
               (SQRT(LIST_DOT_PRODUCT(e.v, e.v)) * SQRT(LIST_DOT_PRODUCT(cent.cv, cent.cv))) AS ccos
      FROM asg JOIN e ON e.vec_id = asg.vec_id JOIN cent ON cent.cid = asg.ivf_cell),
    rem AS (
      SELECT DISTINCT a.vec_id
      FROM cc a JOIN cc b ON a.cid = b.cid AND a.vec_id <> b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE LIST_DOT_PRODUCT(ea.v, eb.v) /
              (SQRT(LIST_DOT_PRODUCT(ea.v, ea.v)) * SQRT(LIST_DOT_PRODUCT(eb.v, eb.v))) > $SemDedupTau
        AND (b.ccos < a.ccos OR (b.ccos = a.ccos AND b.vec_id < a.vec_id))),
    r AS (SELECT vec_id, TRUE AS removed FROM rem)
    SELECT cc.vec_id, cc.cid AS cell,
           CAST(FLOOR(cc.ccos * 1e12) AS BIGINT) AS ccos_fp,
           COALESCE(r.removed, FALSE) AS removed
    FROM cc LEFT JOIN r ON r.vec_id = cc.vec_id
    ORDER BY cc.vec_id"""

  /** Nearest-centroid cluster assignment — the k-means E-step and the
    * IVF coarse assignment in one operator, plus the purity diagnostic a
    * corpus release wants (how well do embedding clusters track source
    * labels?). Centroids ride the same memoized decimal-exact frame as
    * v37; each vector scores against the broadcast centroid set in one
    * pass (no shuffle of the corpus — the Lloyd-iteration shape that
    * scales to any corpus size), ties broken by centroid label. The
    * per-cell mean similarity aggregates in FIXED POINT — floor(csim ×
    * 10¹²) as an integer — because a decimal(18,12) cast can land on a
    * .5 rounding boundary where Spark (HALF_UP) and DuckDB disagree by
    * one ulp of the last decimal; flooring the identical double is
    * boundary-free and the integer sum is order-independent.
    */
  def qClusterAssign(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val cent = ivfCentroids(s, dir)
    val scored = e.crossJoin(broadcast(
        cent.select(col("label").as("cl"), col("cv"), col("ncv"))))
      .withColumn("csim", dot("v", "cv") / (col("nv") * col("ncv")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cl"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label"), col("cl").as("assigned_label"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("csim") * lit(1e12)).cast("long")).cast("double") /
          count(lit(1)) / lit(1e12)).as("mean_sim12"))
      .orderBy(col("label"), col("assigned_label"))
  }

  /** Shared oracle prefix: label-mean centroids + per-(vector,
    * centroid) cosine + the rank window — ONE Scala string read by the
    * v39 and v45 oracles, so the two can never train different
    * centroid models (the v40/v41 discipline).
    */
  private val clusterScoreCtes: String = """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dims AS (
      SELECT label, i AS dim, x
      FROM (SELECT label, UNNEST(v) AS x,
                   UNNEST(RANGE(0, LEN(v))) AS i
            FROM e)),
    cdim AS (
      SELECT label, dim,
             CAST(SUM(CAST(FLOOR(x * 1e12) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1e12 AS c
      FROM dims GROUP BY label, dim),
    cent AS (SELECT label AS cl, LIST(c ORDER BY dim) AS cv FROM cdim GROUP BY label),
    scored AS (
      SELECT vec_id, label, cl,
             LIST_DOT_PRODUCT(v, cv) /
               (SQRT(LIST_DOT_PRODUCT(v, v)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) AS csim
      FROM e CROSS JOIN cent),
    asg AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cl) AS rn
      FROM scored)"""

  val qClusterAssignOracle: String = clusterScoreCtes + """
    SELECT label, cl AS assigned_label, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(csim * 1e12) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 1e12 AS mean_sim12
    FROM asg WHERE rn = 1
    GROUP BY label, cl
    ORDER BY label, assigned_label"""

  /** Cluster-quality report (v45) — the silhouette-lite table a
    * clustering deployment reads before trusting its partitions: per
    * assigned cluster, COHESION (mean cosine of members to their own
    * centroid) and MARGIN (mean gap between the best and second-best
    * centroid cosine — low margin = vectors sitting on a boundary,
    * the cells SemDeDup/IVF probing degrade on). Completes the vector
    * pack's evaluation trio: recall (v43), sketch error (t73),
    * cluster quality (v45).
    *
    * Scale shape: the same memoized centroid broadcast + one window
    * as the v39 assignment; per-vector statistics reduce to #clusters
    * rows. Fixed-point (floor micro-12) sums keep both means exact
    * bigint arithmetic until one trailing division.
    */
  def qClusterQuality(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val cent = ivfCentroids(s, dir)
    val scored = e.crossJoin(broadcast(
        cent.select(col("label").as("cl"), col("cv"), col("ncv"))))
      .withColumn("csim", dot("v", "cv") / (col("nv") * col("ncv")))
    // ONE window yields both the winner and the runner-up (lead over
    // the same ordering) — no rn<=2 self-join, no second copy of the
    // cross-join branch in the plan
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cl"))
    scored
      .withColumn("c2", lead(col("csim"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cl").as("assigned"),
        col("csim").as("c1"), col("c2"))
      .groupBy(col("assigned"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("c1") * lit(1e12)).cast("long")).cast("double") /
          count(lit(1)) / lit(1e12)).as("mean_cohesion"),
        (sum(floor((col("c1") - col("c2")) * lit(1e12)).cast("long")).cast("double") /
          count(lit(1)) / lit(1e12)).as("mean_margin"))
      .orderBy(col("assigned"))
  }

  /** Centroid-overlap matrix (v46) — the companion to v45's margin:
    * pairwise cosine between cluster centroids (upper triangle). Two
    * centroids above ~0.9 are candidates for MERGING (their members
    * interleave, IVF probes straddle them, SemDeDup under-dedups
    * across the boundary); the matrix is the artifact a re-clustering
    * decision reads. #clusters² rows regardless of corpus size — the
    * centroids are the already-memoized broadcast model; quantized
    * fixed-point cosines (v39's micro-12 pattern).
    */
  def qCentroidOverlap(s: SparkSession, dir: String): DataFrame = {
    val cent = ivfCentroids(s, dir)
      .select(col("label"), col("cv"), col("ncv"))
    cent.as("a").crossJoin(broadcast(cent.as("b")))
      .filter(col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        (floor((dot("a.cv", "b.cv") / (col("a.ncv") * col("b.ncv"))) * lit(1e12))
          .cast("long")).as("ccos_micro12"))
      .orderBy(col("label_a"), col("label_b"))
  }

  val qCentroidOverlapOracle: String = clusterScoreCtes + """
    SELECT a.cl AS label_a, b.cl AS label_b,
           CAST(FLOOR((LIST_DOT_PRODUCT(a.cv, b.cv) /
             (SQRT(LIST_DOT_PRODUCT(a.cv, a.cv)) * SQRT(LIST_DOT_PRODUCT(b.cv, b.cv)))) * 1e12) AS BIGINT) AS ccos_micro12
    FROM cent a JOIN cent b ON a.cl < b.cl
    ORDER BY label_a, label_b"""

  val qClusterQualityOracle: String = clusterScoreCtes + """,
    best AS (SELECT vec_id, cl AS assigned, csim AS c1 FROM asg WHERE rn = 1),
    second AS (SELECT vec_id, csim AS c2 FROM asg WHERE rn = 2)
    SELECT assigned, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(c1 * 1e12) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 1e12 AS mean_cohesion,
           CAST(SUM(CAST(FLOOR((c1 - c2) * 1e12) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 1e12 AS mean_margin
    FROM best LEFT JOIN second USING (vec_id)
    GROUP BY assigned
    ORDER BY assigned"""

  /** ANN evaluation harness: recall@k of every approximate method
    * against the exact brute-force ranking — the report a deployment
    * tunes its LSH bits / IVF probes / SQ8 candidate budget with. Each
    * method is compared at its own k (the gate configurations); one
    * row per method: (method, k, n_queries, recall). Joins are
    * id-only; the heavy per-method work is the already-memoized
    * operators themselves.
    */
  def annRecallReport(s: SparkSession, dir: String): DataFrame = {
    val exactAll = qAnnBruteForce(s, dir)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    def recall(name: String, df: DataFrame, k: Int): DataFrame = {
      val truth = exactAll.filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"))
      val got = df.select(col("query_id"), col("neighbor_id"))
      val hits = got.join(truth, Seq("query_id", "neighbor_id")).count()
      val nq = got.select(col("query_id")).distinct().count()
      import s.implicits._
      Seq((name, k, nq, if (nq == 0) 0.0 else hits.toDouble / (nq * k)))
        .toDF("method", "k", "n_queries", "recall")
    }
    recall("lsh", qAnnLsh(s, dir), 3)
      .unionByName(recall("ivf", qAnnIvf(s, dir), 3))
      .unionByName(recall("sq8", qAnnQuantized(s, dir), 5))
      .unionByName(recall("ivf_sq8", qAnnIvfSq8(s, dir), 5))
      .unionByName(recall("ivf_pq", qAnnIvfPq(s, dir), 5))
      .orderBy(col("method"))
  }

  /** Declarative per-query recall gate (v43): the LSH leg of
    * [[annRecallReport]] as a pure plan — exact top-3 LEFT-joined
    * against the approximate answer on (query, neighbor) ids, hit
    * counting by the join's null contract. Unlike the report (which
    * drives `.count()` actions for its 5-method table), this is one
    * id-only join + aggregation the optimizer sees whole, so the
    * evaluation itself scales like any other query — at 100 TB you
    * evaluate recall on a sampled query set with exactly this plan.
    * Counts are integers and the one division is a single IEEE op, so
    * the gate is engine-exact.
    */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val truth = qAnnBruteForce(s, dir).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val got = qAnnLsh(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("m"))
    truth.join(got, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("m")).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
      .orderBy(col("query_id"))
  }

  val qAnnRecallOracle: String = s"""
    WITH ex0 AS ($qAnnBruteForceOracle),
    ap AS ($qAnnLshOracle),
    ex AS (SELECT query_id, neighbor_id FROM ex0 WHERE rank <= 3),
    cnt AS (
      SELECT ex.query_id,
             CAST(COUNT(*) AS BIGINT) AS n_exact,
             CAST(COUNT(ap.neighbor_id) AS BIGINT) AS n_hit
      FROM ex LEFT JOIN ap
        ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
      GROUP BY ex.query_id)
    SELECT query_id, n_exact, n_hit,
           CAST(n_hit AS DOUBLE) / n_exact AS recall
    FROM cnt
    ORDER BY query_id"""

  // ---- Binary-quantization ANN (v44) ----

  /** Binary quantization — the 1-bit-per-dimension memory format the
    * current vector-DB generation ships (64 dims → ONE long, 32×
    * smaller than SQ8's byte codes and 256× smaller than floats):
    * code bit i = sign(v[i]), coarse score = Hamming distance
    * (`bit_count(xor)` — one codegen'd instruction pair per
    * comparison), exact cosine rerank of the top-50 coarse candidates (the
    * 10x oversampled rescoring pool binary indexes standardly pair
    * with 1-bit codes; measured recall@5 0.68 vs 0.50 at a 20 pool - the
    * honest ceiling of 1 bit/dim on 64 dims; raise dims or pool for
    * more).
    * Complements the pack's other quantizers (SQ8 v38, PQ v41) at the
    * extreme-compression end: the flat binary scan is the shape that
    * keeps a billion codes in RAM on a handful of executors.
    *
    * Scale shape: codes are built IN-ROW (one higher-order fold per
    * vector, memoized with the session's other index artifacts); the
    * scan broadcasts the 10-query code set against the corpus codes —
    * 8 bytes per row — and only the 50 survivors per query ever touch
    * a float vector again.
    */
  /** (vec_id, code_lo, code_hi) 64-bit sign codes as two 32-bit halves
    * (DuckDB's checked shift rejects bit 63) — the binary-sketch index
    * artifact, memoized and shared by v44's Hamming scan and v47's
    * fusion backend.
    */
  private def binaryCodes(s: SparkSession, dir: String): DataFrame = {
    def half(lo: Int): String =
      s"""aggregate(sequence($lo, ${lo + 31}), 0L, (acc, i) ->
            acc + if(element_at(v, i + 1) >= cast(0 as double),
                     shiftleft(1L, i - $lo), 0L))"""
    SessionMemo.persist("vec:bq-codes", s, dir) {
      embs(s, dir).select(col("vec_id"), expr(half(0)).as("code_lo"),
        expr(half(32)).as("code_hi"))
    }
  }

  def qAnnBinary(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("v"), col("nv"))
    val coded = binaryCodes(s, dir)
    val q = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("code_lo").as("qlo"),
        col("code_hi").as("qhi"))
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("vec_id"))
    val cands = broadcast(q).crossJoin(coded)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("hamming",
        (bit_count(col("qlo").bitwiseXOR(col("code_lo"))) +
         bit_count(col("qhi").bitwiseXOR(col("code_hi")))).cast("long"))
      .withColumn("hrank", row_number().over(wH))
      .filter(col("hrank") <= 50)
      .select(col("query_id"), col("vec_id"), col("hamming"))
    val qv = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("qnv"))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cands
      .join(e, Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine", dot("qv", "v") / (col("qnv") * col("nv")))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("hamming"))
      .orderBy(col("query_id"), col("rank"))
  }

  val qAnnBinaryOracle: String = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    coded AS (
      SELECT vec_id, v,
             CAST(LIST_SUM(LIST_TRANSFORM(RANGE(32),
               i -> CASE WHEN v[i + 1] >= 0 THEN (CAST(1 AS BIGINT) << i)
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS code_lo,
             CAST(LIST_SUM(LIST_TRANSFORM(RANGE(32),
               i -> CASE WHEN v[i + 33] >= 0 THEN (CAST(1 AS BIGINT) << i)
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS code_hi
      FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, code_lo AS qlo, code_hi AS qhi
          FROM coded WHERE vec_id < 10),
    ham AS (
      SELECT query_id, vec_id,
             CAST(BIT_COUNT(XOR(qlo, code_lo)) + BIT_COUNT(XOR(qhi, code_hi)) AS BIGINT) AS hamming
      FROM q CROSS JOIN coded
      WHERE vec_id <> query_id),
    cand AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY hamming, vec_id) AS hrank
      FROM ham),
    scored AS (
      SELECT c.query_id, c.vec_id, c.hamming,
             LIST_DOT_PRODUCT(q.qv, e.v) /
               (SQRT(LIST_DOT_PRODUCT(q.qv, q.qv)) * SQRT(LIST_DOT_PRODUCT(e.v, e.v))) AS cosine
      FROM cand c
      JOIN q ON c.query_id = q.query_id
      JOIN e ON c.vec_id = e.vec_id
      WHERE c.hrank <= 50),
    ranked AS (
      SELECT query_id, vec_id AS neighbor_id, cosine, hamming,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
    SELECT query_id, rank, neighbor_id, cosine, hamming
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank"""

  /** Fusion list depth and the standard RRF constant (Cormack &
    * Clarke 2009, "Reciprocal Rank Fusion outperforms Condorcet");
    * 1/(60+rank) is quantized to ⌊10⁶/(60+rank)⌋ so fusion scores are
    * exact bigints — rank arithmetic, like t50's quantized idf, never
    * floats.
    */
  private val RrfDepth = 20
  private val RrfScale = 1000000L

  /** Hybrid retrieval via reciprocal-rank fusion (v47) — the standard
    * way production search fuses heterogeneous backends (lexical +
    * dense, or here exact-cosine + binary-Hamming: two rankers over
    * the same corpus with different geometry): each backend
    * contributes ⌊10⁶/(60+rank)⌋ for its top-[[RrfDepth]] items, a
    * full-outer join unions the candidate sets (an item one backend
    * misses simply contributes 0 from that list), and the fused
    * ranking re-sorts by summed score. RRF needs only RANKS — no score
    * calibration across backends — which is why it composes backends
    * whose raw scores are incomparable (cosine ∈ [−1,1] vs Hamming ∈
    * [0,64]).
    *
    * Scale shape: both backends are the EXISTING production paths
    * (v33's broadcast scan, v44's memoized 64-bit codes); the fusion
    * itself touches only queries × depth rank rows — at any corpus
    * size the fusion stage is broadcast-sized, so the operator's cost
    * IS its backends' cost. Output pins the fused order AND each
    * backend's rank per item (0 = not in that backend's top-20), so
    * the gate catches a regression in either constituent ranking.
    */
  def qHybridFusion(s: SparkSession, dir: String): DataFrame = {
    // r15: each backend's top-[[RrfDepth]] comes from the bounded
    // [[graft.functions.TopKAgg]] (the q31 discipline) instead of a
    // query-partitioned row_number window: the window shape shuffles
    // and sorts EVERY candidate row per query through one reducer —
    // corpus-sized per query at scale — while the aggregate's partial
    // buffers carry at most k pairs per (task, query). Tie semantics
    // are identical by TopKAgg's contract ((value desc, id asc) ==
    // row_number over (cosine desc, vec_id) / (hamming asc, vec_id) —
    // hamming enters negated), so ranks and the gate hash are
    // unchanged — verified at sf0.01 + sf0.1.
    graft.sql.GraftExtensions.register(s)
    val e = embs(s, dir).select(col("vec_id"), col("v"), col("nv"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nv").as("qnv"))
    val cosR = broadcast(q).crossJoin(e)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot("qv", "v") / (col("qnv") * col("nv")))
      .groupBy(col("query_id"))
      .agg(expr(s"top_k_by_value(cosine, vec_id, $RrfDepth)").as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p0", "p")))
      .select(col("query_id"), col("p.id").as("vec_id"),
        (col("p0") + 1).cast("long").as("crank"))
    val coded = binaryCodes(s, dir)
    val qc = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("code_lo").as("qlo"),
        col("code_hi").as("qhi"))
    val hamR = broadcast(qc).crossJoin(coded)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("hamming",
        (bit_count(col("qlo").bitwiseXOR(col("code_lo"))) +
         bit_count(col("qhi").bitwiseXOR(col("code_hi")))).cast("long"))
      .groupBy(col("query_id"))
      .agg(expr(s"top_k_by_value(cast(-hamming as double), vec_id, $RrfDepth)")
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p0", "p")))
      .select(col("query_id"), col("p.id").as("vec_id"),
        (col("p0") + 1).cast("long").as("hrank"))
    // fusion as union + one grouped max per (query, item) — row-for-row
    // the full-outer join (max over {rank, null} = rank; both-absent
    // rows don't exist), but ONE query-keyed exchange serves the
    // fusion aggregate AND the final rank window (subset rule) where
    // the full_outer SMJ re-exchanged both rank lists
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("vec_id"))
    cosR.withColumn("hrank", lit(null).cast("long"))
      .unionByName(hamR.withColumn("crank", lit(null).cast("long")))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(max(col("crank")).as("crank"), max(col("hrank")).as("hrank"))
      .withColumn("rrf_score",
        expr(s"coalesce($RrfScale div (60 + crank), 0L) + " +
          s"coalesce($RrfScale div (60 + hrank), 0L)"))
      .withColumn("rank", row_number().over(wF).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("rrf_score"), coalesce(col("crank"), lit(0L)).as("cos_rank"),
        coalesce(col("hrank"), lit(0L)).as("ham_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val qHybridFusionOracle: String = s"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    cosr AS (
      SELECT query_id, vec_id, crank FROM (
        SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 LIST_DOT_PRODUCT(q.qv, e.v) /
                   (SQRT(LIST_DOT_PRODUCT(q.qv, q.qv)) * SQRT(LIST_DOT_PRODUCT(e.v, e.v))) DESC,
                 e.vec_id) AS crank
        FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id)
      WHERE crank <= $RrfDepth),
    coded AS (
      SELECT vec_id,
             CAST(LIST_SUM(LIST_TRANSFORM(RANGE(32),
               i -> CASE WHEN v[i + 1] >= 0 THEN (CAST(1 AS BIGINT) << i)
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS code_lo,
             CAST(LIST_SUM(LIST_TRANSFORM(RANGE(32),
               i -> CASE WHEN v[i + 33] >= 0 THEN (CAST(1 AS BIGINT) << i)
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS code_hi
      FROM e),
    qc AS (SELECT vec_id AS query_id, code_lo AS qlo, code_hi AS qhi
           FROM coded WHERE vec_id < 10),
    hamr AS (
      SELECT query_id, vec_id, hrank FROM (
        SELECT qc.query_id, coded.vec_id,
               ROW_NUMBER() OVER (PARTITION BY qc.query_id ORDER BY
                 BIT_COUNT(XOR(qc.qlo, coded.code_lo)) +
                 BIT_COUNT(XOR(qc.qhi, coded.code_hi)),
                 coded.vec_id) AS hrank
        FROM qc CROSS JOIN coded WHERE coded.vec_id <> qc.query_id)
      WHERE hrank <= $RrfDepth),
    fused AS (
      SELECT query_id, vec_id,
             CAST(COALESCE($RrfScale // (60 + crank), 0) +
                  COALESCE($RrfScale // (60 + hrank), 0) AS BIGINT) AS rrf_score,
             CAST(COALESCE(crank, 0) AS BIGINT) AS cos_rank,
             CAST(COALESCE(hrank, 0) AS BIGINT) AS ham_rank
      FROM cosr FULL JOIN hamr USING (query_id, vec_id)),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY rrf_score DESC, vec_id) AS rank
      FROM fused)
    SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id,
           rrf_score, cos_rank, ham_rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank"""

  val all: Seq[GateQuery] = Seq(
    GateQuery("v33_ann_bruteforce", qAnnBruteForce, Some(qAnnBruteForceOracle)),
    GateQuery("v44_ann_binary", qAnnBinary, Some(qAnnBinaryOracle)),
    GateQuery("v47_hybrid_fusion", qHybridFusion, Some(qHybridFusionOracle)),
    GateQuery("v34_ann_lsh", qAnnLsh, Some(qAnnLshOracle)),
    GateQuery("v35_cosine_dedup", qCosineDedup, Some(qCosineDedupOracle)),
    GateQuery("v36_vector_stats", qVectorStats, Some(qVectorStatsOracle)),
    GateQuery("v37_ann_ivf", qAnnIvf, Some(qAnnIvfOracle)),
    GateQuery("v38_ann_quantized", qAnnQuantized, Some(qAnnQuantizedOracle)),
    GateQuery("v39_cluster_assign", qClusterAssign, Some(qClusterAssignOracle)),
    GateQuery("v45_cluster_quality", qClusterQuality, Some(qClusterQualityOracle)),
    GateQuery("v46_centroid_overlap", qCentroidOverlap, Some(qCentroidOverlapOracle)),
    GateQuery("v40_ann_ivf_sq8", qAnnIvfSq8, Some(qAnnIvfSq8Oracle)),
    GateQuery("v41_ann_ivf_pq", qAnnIvfPq, Some(qAnnIvfPqOracle)),
    GateQuery("v42_semdedup", qSemDedup, Some(qSemDedupOracle)),
    GateQuery("v43_ann_recall", qAnnRecall, Some(qAnnRecallOracle)),
  )
}
