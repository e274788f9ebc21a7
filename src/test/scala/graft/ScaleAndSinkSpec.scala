package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fic.{FicLookup, FicSchema, FicShredder, FicTransform}
import graft.load.JdbcSink
import graft.operators.{Scale, SessionMemo, VectorOps}
import graft.quality.{ReliabilityReport, Validation}
import graft.sources.FicSources

/** Scale utilities, quality side-outputs and the JDBC sink (embedded
  * Derby standing in for Postgres).
  */
class ScaleAndSinkSpec extends AnyFunSuite {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("wh").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", warehouse)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val transformed = {
    spark.sparkContext.setLogLevel("WARN")
    val raw = spark.read.option("multiLine", true).schema(FicSchema.raw)
      .json(s"${ReferenceCorpus.RawJson}/*.json")
      .withColumn("filename", regexp_extract(input_file_name(), "([^/]+)$", 1))
    FicTransform(raw, FicLookup(Nil))
  }

  test("multi-band sign-LSH blocking bounds bucket occupancy and candidate volume") {
    // The scale contract of v34/v35 (VERDICT r3 #2): candidate generation
    // must stay join-shaped, which requires (a) no bucket larger than the
    // cap and (b) the banded blocking actually pruning the pair space —
    // measured here on the full sf0.1 embeddings corpus.
    val dir = "/root/testdata/sf0.1"
    val banded = VectorOps.bandSigs(spark, dir)
    val occ = banded.groupBy(col("band_id"), col("sig")).count()
    val maxBucket = occ.agg(max(col("count"))).head().getLong(0)
    assert(maxBucket <= VectorOps.LshCap,
      s"bucket of $maxBucket exceeds cap ${VectorOps.LshCap}")
    val n = banded.select(col("vec_id")).distinct().count()
    val allPairs = n * (n - 1) / 2.0
    val candPairs = occ.agg(sum(expr("count * (count - 1) / 2"))).head().getDouble(0)
    assert(candPairs < 0.10 * allPairs,
      s"banded blocking generated $candPairs of $allPairs possible pairs — not pruning")
    SessionMemo.release(spark)
  }

  test("distributed rank matches the window rank and splits a dominant source across tasks") {
    import org.apache.spark.sql.expressions.{Window => W}
    // Skewed corpus: one source holds 80% of the rows — the exact shape
    // whose per-source window rank becomes a single-reducer straggler
    // at 100 TB (VERDICT r4 #1). doc_ids interleave across sources so
    // range boundaries fall inside the big source, not between sources.
    val docs = spark.range(0, 20000).select(
      col("id").as("doc_id"),
      when(col("id") % 5 < 4, "big")
        .otherwise(concat(lit("small"), col("id") % 3)).as("source"))

    // Correctness: the two-phase prefix-offset rank must equal the
    // single-reducer window formulation exactly.
    var mat: org.apache.spark.sql.DataFrame = null
    val ranked = Scale.distributedRank(docs, "source", "doc_id", "rn",
      numPartitions = Some(8),
      materialize = df => { mat = df.persist(); mat })
    val windowed = docs.withColumn("rn_w",
      row_number().over(W.partitionBy(col("source")).orderBy(col("doc_id"))))
    assert(ranked.join(windowed, Seq("doc_id", "source"))
      .filter(col("rn") =!= col("rn_w")).count() == 0)

    // Scale contract: no single task ranks the dominant source — its
    // largest per-(task, source) slice must be strictly smaller than
    // the source itself (range partitioning balances by volume, so the
    // 16k-row source must span several of the 8 slices).
    val maxSlice = mat.filter(col("source") === "big")
      .groupBy(col("__pid")).count()
      .agg(max(col("count"))).head().getLong(0)
    val total = docs.filter(col("source") === "big").count()
    assert(maxSlice < total,
      s"single task ranks the whole dominant source ($maxSlice of $total rows)")

    // And the ranking plan itself must window on (task, source) slices,
    // never on source alone.
    val plan = ranked.queryExecution.executedPlan.toString
    assert(plan.contains("__pid"), s"expected slice-local window in:\n$plan")
    mat.unpersist()
  }

  test("distributed prefix sum matches the window cumsum and never totals in one task") {
    import org.apache.spark.sql.expressions.{Window => W}
    val df = spark.range(0, 20000).select(
      col("id").as("k"), (col("id") % 97 + 1).as("v"))
    var mat: org.apache.spark.sql.DataFrame = null
    val summed = Scale.distributedPrefixSum(df, "k", "v", "off",
      numPartitions = Some(8),
      materialize = d => { mat = d.persist(); mat })
    val windowed = df.withColumn("off_w", coalesce(
      sum(col("v")).over(W.partitionBy(pmod(col("k"), lit(1))).orderBy(col("k"))
        .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
    assert(summed.join(windowed, Seq("k", "v"))
      .filter(col("off") =!= col("off_w")).count() == 0)
    // every slice holds a strict subset of the rows
    val maxSlice = mat.groupBy(col("__pid")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(maxSlice < 20000, s"one task holds all $maxSlice rows")
    mat.unpersist()
  }

  test("keyed prefix sum matches the per-group window cumsum and splits a dominant group") {
    import org.apache.spark.sql.expressions.{Window => W}
    // group "hot" holds 90% of rows — the skew the two-phase form exists for
    val df = spark.range(0, 20000).select(
      when(col("id") % 10 === 0, concat(lit("g"), col("id") % 7))
        .otherwise(lit("hot")).as("g"),
      col("id").as("k"), (col("id") % 53 + 1).as("v"))
    var mat: org.apache.spark.sql.DataFrame = null
    val summed = Scale.distributedKeyedPrefixSum(df, "g", Seq("k"), "v", "cum",
      numPartitions = Some(8),
      materialize = d => { mat = d.persist(); mat })
    val windowed = df.withColumn("cum_w",
      sum(col("v")).over(W.partitionBy(col("g")).orderBy(col("k"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
    assert(summed.join(windowed, Seq("g", "k", "v"))
      .filter(col("cum") =!= col("cum_w")).count() == 0)
    // the hot group's rows span multiple range slices — no single-task funnel
    val hotSlices = mat.filter(col("g") === "hot")
      .select(countDistinct(col("__pid"))).head().getLong(0)
    assert(hotSlices > 1, s"hot group funneled through $hotSlices slice(s)")
    mat.unpersist()
  }

  test("two-phase rank and prefix sum equal their window forms on randomized data") {
    import org.apache.spark.sql.expressions.{Window => W}
    // seeded random shapes: group counts, sizes and value ranges vary;
    // order keys stay unique (ties make row_number itself ill-defined)
    val rnd = new scala.util.Random(20260812L)
    (1 to 3).foreach { round =>
      val n = 1000 + rnd.nextInt(4000)
      val nGroups = 1 + rnd.nextInt(6)
      val perm = rnd.shuffle((0L until n.toLong).toVector)
      val rows = perm.map(k =>
        (k, s"g${rnd.nextInt(nGroups)}", (rnd.nextInt(1000) + 1).toLong))
      import spark.implicits._
      val df = rows.toDF("k", "g", "v")

      var mat1: org.apache.spark.sql.DataFrame = null
      val ranked = Scale.distributedRank(df, "g", "k", "rn",
        numPartitions = Some(1 + rnd.nextInt(12)),
        materialize = d => { mat1 = d.persist(); mat1 })
      val rankedW = df.withColumn("rn_w",
        row_number().over(W.partitionBy(col("g")).orderBy(col("k"))))
      assert(ranked.join(rankedW, Seq("k", "g"))
        .filter(col("rn") =!= col("rn_w")).count() == 0, s"rank round $round")
      mat1.unpersist()

      var mat2: org.apache.spark.sql.DataFrame = null
      val summed = Scale.distributedPrefixSum(df, "k", "v", "off",
        numPartitions = Some(1 + rnd.nextInt(12)),
        materialize = d => { mat2 = d.persist(); mat2 })
      val summedW = df.withColumn("off_w", coalesce(
        sum(col("v")).over(W.partitionBy(pmod(col("k"), lit(1))).orderBy(col("k"))
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      assert(summed.join(summedW, Seq("k", "v"))
        .filter(col("off") =!= col("off_w")).count() == 0, s"sum round $round")
      mat2.unpersist()
    }
  }

  test("plan shapes: no windows in t38, broadcast dims in q3, no cartesian anywhere") {
    val dir = "/root/testdata/sf0.01"
    // t38: the df cap must stay a blacklist anti-join + in-row pair
    // expansion — a Window here would mean the r4 full-exchange
    // formulation regressed back in
    val t38 = graft.operators.TextOps.qJaccardDfCap(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!t38.contains("Window"), s"t38 regressed to a window plan:\n$t38")
    // q3: dimension tables must ride broadcast joins, and no gate
    // query may plan an unbounded cartesian product
    val q3 = graft.operators.Relational.q3TopOrders(spark, dir)
      .queryExecution.executedPlan.toString
    assert(q3.contains("BroadcastHashJoin"), s"q3 lost its broadcast dims:\n$q3")
    // t46: the bloom path's only join is the broadcast EQUI-join of the
    // exact verify (inverted-index on the shingle, r7) — the corpus must
    // not shuffle against anything, and the verify must never regress to
    // the candidates × benchmark-arrays nested-loop of r6
    val t46 = graft.operators.TrainingOps.qBloomDecontaminate(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!t46.contains("SortMergeJoin") && !t46.contains("ShuffledHashJoin"),
      s"t46 corpus side gained a shuffled join:\n$t46")
    assert(t46.contains("BroadcastHashJoin"),
      s"t46 verify stage lost its broadcast equi-join:\n$t46")
    assert(!t46.contains("BroadcastNestedLoopJoin"),
      s"t46 verify regressed to a nested-loop crossJoin:\n$t46")
    // v39: one corpus pass against broadcast centroids
    val v39 = graft.operators.VectorOps.qClusterAssign(spark, dir)
      .queryExecution.executedPlan.toString
    assert(v39.contains("BroadcastNestedLoopJoin"),
      s"v39 centroids no longer broadcast:\n$v39")
    // v40: the SQ8 scan must be fed by an EQUI-join on the probed IVF
    // cell — the composed path exists precisely so stage 1 stops
    // flat-scanning the corpus per query (v38's one scale gap)
    val v40 = graft.operators.VectorOps.qAnnIvfSq8(spark, dir)
      .queryExecution.executedPlan.toString
    assert(v40.contains("ivf_cell"),
      s"v40 lost its IVF-cell equi-join:\n$v40")
    assert(v40.contains("BroadcastHashJoin") || v40.contains("SortMergeJoin") ||
      v40.contains("ShuffledHashJoin"),
      s"v40 candidate generation is not an equi-join:\n$v40")
    Seq("t38" -> t38, "q3" -> q3, "t46" -> t46, "v39" -> v39, "v40" -> v40)
      .foreach {
      case (n, p) =>
        assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
    }
    SessionMemo.release(spark)
  }

  test("large-star/small-star components converge logarithmically on a path graph") {
    import spark.implicits._
    // a 200-node path is the adversarial case for plain min-label
    // propagation (needs ~199 rounds — past the old 50-round cap);
    // the alternating algorithm must finish in O(log n) rounds
    val n = 200
    val path = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("u", "v")
    val (labels, rounds) = Scale.connectedComponents(path)
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == n)
    assert(out.forall(_._2 == 0L), "every path node must label to the minimum")
    val budget = math.ceil(math.log(n) / math.log(2)).toInt + 4
    assert(rounds <= budget, s"took $rounds rounds, budget $budget")
    // two disjoint components + an isolated pair stay separate
    val multi = (Seq((10L, 11L), (11L, 12L), (20L, 21L)) ++
      Seq((30L, 31L))).toDF("u", "v")
    val (ml, _) = Scale.connectedComponents(multi)
    val m = ml.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(10L) == 10L && m(11L) == 10L && m(12L) == 10L)
    assert(m(20L) == 20L && m(21L) == 20L && m(30L) == 30L && m(31L) == 30L)
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val left = (1 to 10000).map(i => (i % 5, i)).toDF("k", "v")  // 5 hot keys
    val right = (0 to 4).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = left.join(right, "k")
    val salted = Scale.saltedJoin(left, right, "k", saltFactor = 8)
    assert(salted.count() == plain.count())
    val a = plain.groupBy("k").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val b = salted.groupBy("k").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("salting spreads a hot key that a plain shuffle funnels into one task") {
    // the measured benefit behind q38's deliberate demonstration: on a
    // corpus with ONE dominant key, the plain key-hash exchange lands
    // every hot row in a single partition (the 100 TB straggler), while
    // the (key, salt) exchange splits it. Row-distribution assertion,
    // not timing, so it is deterministic; AQE is disabled for the
    // measurement because it would coalesce these tiny test shuffles.
    import spark.implicits._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // salting is the tool for when the build side is NOT broadcastable;
    // force the shuffle-join regime the technique exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // enough partitions that 8 salt values don't clump into one bucket
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val hot = (1 to 40000).map(i => (1, i)) // one hot key...
      val cold = (1 to 100).map(i => (1 + i % 7, i)) // ...7 cool ones
      val left = (hot ++ cold).toDF("k", "v")
      val right = (1 to 8).map(k => (k, s"dim$k")).toDF("k", "name")
      def maxPartition(df: org.apache.spark.sql.DataFrame): Long =
        df.withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
          .groupBy("pid").count()
          .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
      val plainMax = maxPartition(left.join(right, Seq("k")))
      val saltedMax = maxPartition(Scale.saltedJoin(left, right, "k", saltFactor = 8))
      assert(plainMax >= 40000L, s"hot key must funnel the plain join: $plainMax")
      assert(saltedMax <= plainMax / 2,
        s"salting must split the hot partition: salted=$saltedMax plain=$plainMax")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.shuffle.partitions", prevSp)
    }
  }

  test("adaptive salted join: detects the hot key, splits it, equals plain join") {
    // q38's operator. Two fixtures: one with a planted hot key (the
    // salted path must activate AND preserve row identity) and a
    // uniform one (the hot set must be empty so the exchange is the
    // plain join's). Distribution assertions, not timing; AQE off so
    // tiny test shuffles aren't coalesced. The internal broadcast(hot)
    // HINT survives autoBroadcastJoinThreshold=-1, which is the point:
    // the technique exists for when the BUILD side is too big to
    // broadcast, yet the hot-KEY set is always bounded.
    import spark.implicits._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val skewed = ((1 to 40000).map(i => (1, i)) ++
        (1 to 100).map(i => (1 + i % 7, i))).toDF("k", "v")
      // THREE build rows per key: hot-key replication must fan each
      // probe row out to all three matches exactly once per salt —
      // a single-row build side (like orders' unique key) would let a
      // duplicate-or-drop bug in the explode-based replication pass
      val right = (for { k <- 1 to 8; j <- 1 to 3 }
        yield (k, s"dim$k-$j")).toDF("k", "name")
      // detection: exactly the planted key qualifies
      val hot = Scale.heavyKeys(skewed, "k", minRows = 1000L)
        .collect().map(_.getInt(0)).toSeq
      assert(hot == Seq(1), s"hot set must be exactly the planted key: $hot")
      // identity: per-key row counts match the plain join on both fixtures
      val adaptive = Scale.adaptiveSaltedJoin(skewed, right, "k",
        saltFactor = 8, skewThreshold = 1000L)
      val plain = skewed.join(right, Seq("k"))
      val a = adaptive.groupBy("k").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val p = plain.groupBy("k").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(a == p, "adaptive salting must be a pure partitioning change")
      // the hot key's rows actually split across reducers
      def maxPartition(df: org.apache.spark.sql.DataFrame): Long =
        df.withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
          .groupBy("pid").count()
          .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
      val plainMax = maxPartition(plain)
      val adaptiveMax = maxPartition(adaptive)
      assert(plainMax >= 40000L, s"hot key must funnel the plain join: $plainMax")
      assert(adaptiveMax <= plainMax / 2,
        s"adaptive salting must split the hot partition: $adaptiveMax vs $plainMax")
      // sampled detection (the production form): deterministic under
      // the fixed seed; the 40k-row hot key survives a 25% sample
      // against the scaled threshold, and the join output is STILL the
      // plain join's regardless of what detection classified
      val sampled = Scale.adaptiveSaltedJoin(skewed, right, "k",
        saltFactor = 8, skewThreshold = 1000L, detectSampleRate = 0.25)
        .groupBy("k").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(sampled == p)
      assert(maxPartition(Scale.adaptiveSaltedJoin(skewed, right, "k",
        saltFactor = 8, skewThreshold = 1000L, detectSampleRate = 0.25))
        <= plainMax / 2, "sampled detection must still catch the hot key")
      // uniform fixture: nothing qualifies, identity still holds
      val uniform = (1 to 4000).map(i => (1 + i % 8, i)).toDF("k", "v")
      assert(Scale.heavyKeys(uniform, "k", minRows = 1000L).isEmpty,
        "uniform corpus must detect no hot keys")
      val au = Scale.adaptiveSaltedJoin(uniform, right, "k",
        saltFactor = 8, skewThreshold = 1000L)
        .groupBy("k").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val pu = uniform.join(right, Seq("k")).groupBy("k").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(au == pu)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.shuffle.partitions", prevSp)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS bt_orders")
    spark.sql("DROP TABLE IF EXISTS bt_lines")
    // the suite may share a session whose warehouse dir carries stale
    // managed-table locations from an earlier JVM — clear them
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("bt_orders", "bt_lines").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    val orders = (1 to 1000).map(i => (i.toLong, s"o$i")).toDF("id", "o")
    val lines = (1 to 5000).map(i => ((i % 1000 + 1).toLong, i)).toDF("id", "ln")
    Scale.writeBucketed(orders, "bt_orders", "id", 8)
    Scale.writeBucketed(lines, "bt_lines", "id", 8)
    // force a non-broadcast join so the bucket layout is what avoids
    // the shuffle (at real scale neither side broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("bt_orders").join(spark.table("bt_lines"), "id")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucket join:\n$plan")
      assert(j.count() == 5000)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("sum warnings flag out-of-range percentage lists") {
    ReferenceCorpus.assumeRawJson()
    val w = Validation.sumWarnings(transformed)
    val rows = w.collect()
    // the reference logs these same warnings for its own corpus
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Double]("suma") < 0.95 || r.getAs[Double]("suma") > 1.05))
    val campos = rows.map(_.getAs[String]("campo")).toSet
    assert(campos.contains("plazo_duracion") || campos.exists(_.startsWith("por_")))
  }

  test("date-vs-folder check flags only true mismatches, skip list written") {
    ReferenceCorpus.assumeRawJson()
    val v = Validation.dateFolderCheck(transformed, "json_raw_2025_07")
    val bad = v.filter(!col("fecha_valida")).collect()
    // progresion_globalVista has fecha_corte 2025-01-31 in a 2025_07 folder
    assert(bad.map(_.getString(0)).toSet ==
      Set("progresion_globalVista_raw.json"))
    val out = java.nio.file.Files.createTempDirectory("skip")
      .resolve("skip_list.txt").toString
    Validation.writeSkipList(v, out)
    val content = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    assert(content.contains("progresion_globalVista_raw"))
    assert(content.startsWith("#"))
  }

  test("date-vs-folder check keeps an unparseable fecha_corte valid under ANSI casts") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val fechas = Seq(
      "desconocida_raw.json" -> Some("fecha desconocida"),
      "vacia_raw.json" -> Some(""),
      "nula_raw.json" -> None,
      "julio_raw.json" -> Some("2025-07-31"),
      "enero_raw.json" -> Some("2025-01-31"))
    val docs = spark.read.schema(FicSchema.transformed.add("filename", "string"))
      .json(fechas.map { case (f, fecha) =>
        val v = fecha.fold("null")(d => s""""$d"""")
        s"""{"filename": "$f", "fic": {"fecha_corte": $v}}"""
      }.toDS())
    // the transform stage's tally, evaluated by its JSON writer
    val tally = Validation.Tally(spark)
    FicSources.writePerDocumentJson(docs,
      java.nio.file.Files.createTempDirectory("tally").toString,
      Validation.Tally.columns("json_raw_2025_07"))(tally.add)
    val summary = tally.summary
    assert(summary.docs == 5 && summary.skipped == Seq("enero_raw.json"))
    val valid = Validation.dateFolderCheck(docs, "json_raw_2025_07").collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(valid == fechas.map { case (f, _) => f -> (f != "enero_raw.json") }.toMap)
  }

  test("jdbc sink: transactional upsert into Derby, idempotent on rerun") {
    ReferenceCorpus.assumeRawJson()
    val url = s"jdbc:derby:memory:ficdb;create=true"
    val sh = FicShredder(transformed)
    JdbcSink.loadShredded(sh.all, url, partitions = 4)

    def count(table: String): Int = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next(); rs.getInt(1)
      } finally c.close()
    }
    assert(count("fic") == 7)
    assert(count("caracteristicas") == 7)
    assert(count("composicion_portafolio") > 20)

    // rerun: delete+insert by fic_id keeps counts identical (idempotent)
    JdbcSink.loadShredded(sh.all, url, partitions = 4)
    assert(count("fic") == 7)
    assert(count("composicion_portafolio") ==
      sh.composicionPortafolio.count().toInt)
  }

  test("jdbc sink: created_at audit column, chunked streaming, distributed delete") {
    import spark.implicits._
    val url = s"jdbc:derby:memory:chunkdb;create=true"
    // multi-row fic_ids so tiny chunks MUST extend past the batch size
    // to the fic_id boundary: fic 1 has 5 rows, fic 2 has 3, fic 3 has 1
    val rows = (1 to 5).map(i => (1L, s"a$i")) ++
      (1 to 3).map(i => (2L, s"b$i")) ++ Seq((3L, "c1"))
    val df = rows.toDF("fic_id", "payload").repartition(2, col("fic_id"))
    JdbcSink.upsertByFicId(df, url, "chunked", batchSize = 2)
    JdbcSink.upsertByFicId(df, url, "chunked", batchSize = 2) // idempotent rerun
    val back = JdbcSink.readTable(spark, url, "chunked").get
    assert(back.count() == 9) // a split fic_id would lose rows to a later chunk's delete
    assert(back.groupBy("fic_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 5L, 2L -> 3L, 3L -> 1L))

    // created_at audit column rides along via loadShredded (reference
    // parity: server_default NOW() on every model)
    JdbcSink.loadShredded(Seq("audited" -> df), url, partitions = 2)
    val audited = JdbcSink.readTable(spark, url, "audited").get
    assert(audited.columns.map(_.toLowerCase).contains("created_at")) // Derby uppercases
    assert(audited.filter(col("created_at").isNull).count() == 0)

    // distributed cascade delete: ids arrive as a DataFrame, no collect
    JdbcSink.deleteByIds(url, "chunked", Seq(1L, 3L).toDF("fic_id"))
    assert(JdbcSink.readTable(spark, url, "chunked").get
      .select("fic_id").distinct().collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("reliability report: four CSV sheets mirror the reference workbook") {
    import spark.implicits._
    val expected = Seq(
      ("BancoA_Fondo1_raw_transformed.json", "x", 1.0),
      ("BancoA_Fondo2_raw_transformed.json", "y", 2.0),
      ("BancoB_Fondo1_raw_transformed.json", "z", 3.0)
    ).toDF("filename", "nombre", "valor")
    val actual = Seq(
      ("BancoA_Fondo1_raw_transformed.json", "x", 1.0), // identical
      ("BancoA_Fondo2_raw_transformed.json", "y", 2.5), // one numeric diff
      ("BancoB_Fondo1_raw_transformed.json", "w", 3.0)  // one string diff
    ).toDF("filename", "nombre", "valor")
    val out = java.nio.file.Files.createTempDirectory("report").toString
    ReliabilityReport.writeCsv(actual, expected, "filename", out)
    Seq("Diferencias_Detalladas", "Confiabilidad", "Resumen_Campos",
      "Resumen_Bancos").foreach { s =>
      assert(new java.io.File(s"$out/$s").exists(), s)
    }
    // each doc flattens to 2 leaves, so one diff => 50% confiabilidad
    val conf = spark.read.option("header", "true").csv(s"$out/Confiabilidad")
    assert(conf.count() == 3)
    val f2 = conf.filter(col("fondo") === "Fondo2").head()
    assert(f2.getAs[String]("diferencias") == "1")
    assert(f2.getAs[String]("confiabilidad").toDouble == 50.0)
    val bancos = spark.read.option("header", "true").csv(s"$out/Resumen_Bancos")
    assert(bancos.count() == 2)
    val ba = bancos.filter(col("Banco") === "BancoA").head()
    assert(ba.getAs[String]("Cantidad_Fondos") == "2")
    assert(ba.getAs[String]("Confiabilidad_Promedio").toDouble == 75.0)
    val campos = spark.read.option("header", "true").csv(s"$out/Resumen_Campos")
    assert(campos.select("campo").collect().map(_.getString(0)).toSet ==
      Set("nombre", "valor"))
  }

  test("reliability report: .xlsx workbook is a valid OOXML package with 4 sheets") {
    import spark.implicits._
    val expected = Seq(
      ("BancoA_Fondo1_raw_transformed.json", "x", 1.0),
      ("BancoA_Fondo2_raw_transformed.json", "y", 2.0)
    ).toDF("filename", "nombre", "valor")
    val actual = Seq(
      ("BancoA_Fondo1_raw_transformed.json", "x", 1.0),
      ("BancoA_Fondo2_raw_transformed.json", "y", 2.5)
    ).toDF("filename", "nombre", "valor")
    val path = java.nio.file.Files.createTempDirectory("xlsx")
      .resolve("comparacion_resultados.xlsx").toString
    ReliabilityReport.writeXlsx(actual, expected, "filename", path)

    val zip = new java.util.zip.ZipFile(path)
    try {
      def read(name: String): String = {
        val e = zip.getEntry(name)
        assert(e != null, s"missing zip part $name")
        new String(zip.getInputStream(e).readAllBytes(), "UTF-8")
      }
      // the package parses as XML (JDK parser — what any reader runs first)
      val db = javax.xml.parsers.DocumentBuilderFactory.newInstance()
        .newDocumentBuilder()
      Seq("[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
        "xl/_rels/workbook.xml.rels") ++ (1 to 4).map(i =>
        s"xl/worksheets/sheet$i.xml") foreach { part =>
        db.parse(new java.io.ByteArrayInputStream(read(part).getBytes("UTF-8")))
      }
      val wb = read("xl/workbook.xml")
      Seq("Diferencias_Detalladas", "Confiabilidad", "Resumen_Campos",
        "Resumen_Bancos").foreach(s => assert(wb.contains(s"""name="$s""""), s))
      // Confiabilidad (sheet 2): header row + the 50% score as a NUMBER cell
      val conf = read("xl/worksheets/sheet2.xml")
      assert(conf.contains("<t xml:space=\"preserve\">confiabilidad</t>"))
      assert(conf.contains("""t="n"><v>50.0</v>"""))
      // Diferencias (sheet 1): the one numeric diff appears
      val dif = read("xl/worksheets/sheet1.xml")
      assert(dif.contains("""<v>2.5</v>""") && dif.contains("""<v>2.0</v>"""))
    } finally zip.close()
  }
}
