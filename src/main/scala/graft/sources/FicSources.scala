package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.fic.{FicLookup, FicSchema}

/** Sources and sinks for the FIC pipeline (SURVEY §2.1).
  *
  * Scan-time pruning is pushed into the source wherever the reference
  * filtered file lists by hand: `pathGlobFilter` replaces the glob
  * (script_extract.py:77), filename predicates replace the
  * `_transformed.json` exclusion (script_transform.py:231-232) — both
  * are evaluated at file-listing time, before any bytes are read.
  */
object FicSources {

  /** S1: folder-of-PDFs scan with partition-friendly path metadata.
    * Adds banco/anio/mes parsed from the `<banco>_<año>/<mes>/x.pdf`
    * layout (load.py:33-50) when present.
    */
  def pdfFolder(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.pdf")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .withColumn("filename", regexp_extract(col("path"), "([^/]+)$", 1))
      .withColumn("banco", regexp_extract(col("path"), "([^/_]+)_\\d{4}/", 1))
      .withColumn("anio", regexp_extract(col("path"), "_(\\d{4})/", 1))
      .withColumn("mes", regexp_extract(col("path"), "_\\d{4}/(\\d{1,2})/", 1))

  /** `input_file_name()` returns the file URI, which percent-encodes
    * spaces and friends; the reference keys documents by the REAL
    * filesystem name (Path.name), and fic_id hashes the filename — so
    * decode before extracting (a space-named PDF otherwise lands in
    * the DB as `%20`). PERCENT-ONLY decoding: `url_decode` follows
    * x-www-form-urlencoded rules and would also turn a literal `+`
    * into a space, but URI path encoding leaves `+` as-is — escape it
    * first so `report+2025.json` survives.
    */
  private[graft] def percentDecode(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    url_decode(regexp_replace(c, "\\+", "%2B"))

  private def fileNameCol: org.apache.spark.sql.Column =
    regexp_extract(percentDecode(input_file_name()), "([^/]+)$", 1)

  /** S4: raw FIC JSON folder scan — one document per file (multiLine),
    * explicit schema (never inferred), `*_transformed.json` excluded at
    * listing time.
    */
  def rawJsonFolder(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("multiLine", true)
      .option("pathGlobFilter", "*.json")
      .schema(FicSchema.raw)
      .json(dir)
      .withColumn("filename", fileNameCol)
      .filter(!col("filename").endsWith("_transformed.json"))

  /** S5: transformed-JSON folder scan (inverted glob). */
  def transformedJsonFolder(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("multiLine", true)
      .option("pathGlobFilter", "*_transformed.json")
      .schema(FicSchema.transformed)
      .json(dir)
      .withColumn("filename", fileNameCol)

  /** S7: skip-list scan (script_load.py:154-187): '#' comments and
    * blanks dropped, names canonicalized to `*_transformed.json`.
    * Returned as a DataFrame for a broadcast anti-join (F2):
    * {{{ docs.join(broadcast(skips), Seq("filename"), "left_anti") }}}
    */
  def skipList(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(trim(col("value")).as("name"))
      .filter(col("name") =!= "" && !col("name").startsWith("#"))
      .select(
        when(col("name").endsWith("_transformed.json"), col("name"))
          .when(col("name").endsWith(".json"),
            regexp_replace(col("name"), "\\.json$", "_transformed.json"))
          .otherwise(concat(col("name"), lit("_transformed.json")))
          .as("filename"))
      .distinct()

  /** S6: bank→fund→URL lookup file (`fics.json`). JSON-object key order
    * is the reference's scan order, so parse with Jackson (insertion
    * order preserved) into the ordered [[FicLookup]]. One small driver
    * read — the result travels to executors inside UDF closures
    * (broadcast by the task serializer).
    */
  def ficsLookup(path: String): FicLookup = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path))
    val banks = root.properties().asScala.toSeq.map { e =>
      val funds = e.getValue.properties().asScala.toSeq
        .map(f => f.getKey -> f.getValue.asText())
      e.getKey -> funds
    }
    FicLookup(banks)
  }

  /** S8/S9: partitioned JSON sink — documents written under
    * anio=/mes= directories (the reference's `json_raw_<año>_<mes>/`
    * layout as proper partition columns).
    */
  def writePartitionedJson(df: DataFrame, outDir: String): Unit =
    df.write.mode("overwrite")
      .partitionBy("anio", "mes")
      .json(outDir)

  /** Extract-stage raw sink: one `<pdfStem>_raw.json` file per
    * successfully extracted document (the reference's
    * save_json_to_file naming, load.py:52-62), written per partition —
    * the folder it produces is directly consumable by
    * [[rawJsonFolder]], so the staged commands compose.
    *
    * Overwrite semantics: the output folder is truncated first (the
    * contract the previous `write.mode("overwrite")` sink had) — a
    * re-run against a shrunk source must not leave ghost documents
    * for downstream stages. Failed rows (null json) land as JSONL
    * under `_errors/` — underscore-prefixed, so Spark's hidden-file
    * rule keeps them invisible to [[rawJsonFolder]].
    */
  def writeRawJson(docs: DataFrame, outDir: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val rootFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (rootFs.exists(outPath)) rootFs.delete(outPath, true)
    rootFs.mkdirs(outPath)
    docs.filter(col("error").isNotNull)
      .select(col("path"), col("error"))
      .write.mode("overwrite").json(s"$outDir/_errors")
    val payload = docs.filter(col("json").isNotNull)
      .select(
        concat(regexp_replace(regexp_extract(col("path"), "([^/]+)$", 1),
          "\\.pdf$", ""), lit("_raw.json")).as("__name"),
        col("json").as("__json"))
      .as[(String, String)]
    payload.foreachPartition { (rows: Iterator[(String, String)]) =>
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(hadoopConf.value)
      rows.foreach { case (name, json) =>
        val out = fs.create(new org.apache.hadoop.fs.Path(outDir, name), true)
        try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    }
  }

  /** S9 byte-layout parity: one `<stem>_transformed.json` file per
    * document (the reference's per-record naming,
    * script_transform.py:144-146). Executed per partition through the
    * Hadoop FileSystem API, so it works on file:// and hdfs:// alike and
    * stays fully distributed — each task writes only its own rows.
    */
  def writePerDocumentJson(df: DataFrame, outDir: String): Unit =
    writePerDocumentJson(df, outDir, struct(lit(null)))(_ => ())

  /** [[writePerDocumentJson]] that also evaluates the struct `tally` over
    * each document and hands its value to `seen`, in the task that
    * writes the document — bookkeeping without a pass of its own.
    */
  def writePerDocumentJson(df: DataFrame, outDir: String, tally: Column)(
      seen: Row => Unit): Unit = {
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val payload = df.select(
      regexp_replace(col("filename"), "\\.json$", ""),
      to_json(struct(df.columns.toIndexedSeq.filter(_ != "filename").map(col): _*)),
      tally)
    payload.foreachPartition { (rows: Iterator[Row]) =>
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(hadoopConf.value)
      rows.foreach { r =>
        val out = fs.create(
          new org.apache.hadoop.fs.Path(outDir, s"${r.getString(0)}_transformed.json"), true)
        try out.write(r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        seen(r.getStruct(2))
      }
    }
  }
}
