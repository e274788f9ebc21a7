package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one persisted-state protocol of every incremental root: the five
  * monthly-drop indexes (dedup, cluster, span, ANN, quality) and the
  * three streaming sketches (StreamingCms / StreamingHll /
  * StreamingQuantile). Every root commits through [[fold]] alone, so
  * opening, replay detection, commit and report read-back are written
  * once.
  *
  * ATOMIC COMMIT. A fold writes the epoch's relations into a fresh
  * `<root>/epoch-<id>/` directory, which no reader resolves yet, then
  * publishes it with ONE atomic operation: creating the zero-byte
  * marker `<root>/commits/<id>` with overwrite=false. Crash before the
  * marker → readers still resolve the previous epoch and the retry
  * rewrites the orphan directory; crash after it → the commit is
  * complete and the retry finds the marker and computes nothing. This
  * is the commit-log discipline of Structured Streaming's own
  * offset/commit logs: an append-only directory of monotonically named
  * entries whose reader state is "highest committed id".
  *
  * REPLAY DETECTION rests on the marker alone, which [[fold]] never
  * deletes: a batch id is applied iff `commits/<id>` exists. Markers
  * grow by one zero-byte file per batch. Sketch roots written before
  * the sketches folded here kept only their two newest markers (and an
  * `applied` ledger relation, grown by one row and rewritten whole
  * every batch, which is no longer read); Structured Streaming only
  * ever replays the newest batch, so that replay is still caught, but a
  * hand-applied id older than those two is not.
  *
  * RELATIONS. A fold's relations are of two kinds:
  *  - DELTA relations hold only this epoch's new rows; the index is the
  *    union of every committed epoch's delta ([[readCommittedDeltas]]),
  *    folded into one copy by [[compactDeltas]]. Per-batch reports
  *    (pairs, spans, neighbors, …) are delta relations read by batch id.
  *  - FULL-STATE relations (the sketches' cells/registers/bins, the span
  *    index's `caps`, the ANN index's `occ`) are rewritten whole each
  *    epoch, each copy superseding the last: read through
  *    [[readCurrent]], pruned to the two newest epochs after each
  *    commit (the previous one stays for frames handed out earlier).
  *
  * Every root is checked by [[open]] before it is read or written, and
  * every existence probe resolves through Hadoop's `FileSystem` API
  * (`path.getFileSystem(hadoopConf)`), as the parquet reader does, so
  * HDFS/S3 roots are seen as they are.
  */
object StreamingState {

  def fsFor(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, p: String): Boolean =
    fsFor(spark, p).exists(new Path(p))

  private def commitsDir(root: String) = s"$root/commits"

  def epochRel(root: String, epoch: Long, rel: String): String =
    s"$root/epoch-$epoch/$rel"

  /** Ids of the markers under `dir`, ascending (none if it does not exist). */
  private def markerIds(fs: FileSystem, dir: String): Seq[Long] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.flatMap(_.getPath.getName.toLongOption).sorted
  }

  /** Highest committed epoch id, or -1 if nothing was ever committed. */
  def currentEpoch(spark: SparkSession, root: String): Long =
    committedEpochs(spark, root).lastOption.getOrElse(-1L)

  /** Current contents of one full-state relation: its copy in the
    * newest committed epoch, or an empty frame if there is none.
    */
  def readCurrent(spark: SparkSession, root: String, rel: String,
      schema: StructType): DataFrame = {
    val e = currentEpoch(spark, root)
    val p = epochRel(root, e, rel)
    if (e >= 0L && exists(spark, p)) spark.read.schema(schema).parquet(p)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Create the zero-byte marker `marker` — the commit point. A create
    * that fails because the marker already exists (a replay racing an
    * earlier publish) is success; any other failure (full disk, broken
    * parent, object-store error) leaves the epoch unpublished and is
    * rethrown, so no caller reads an uncommitted epoch as committed.
    */
  private def publish(fs: FileSystem, marker: Path): Unit =
    try fs.create(marker, false).close()
    catch { case e: java.io.IOException => if (!fs.exists(marker)) throw e }

  /** Has epoch `epoch` been published at `root`? */
  def isCommitted(spark: SparkSession, root: String, epoch: Long): Boolean =
    fsFor(spark, root).exists(new Path(s"${commitsDir(root)}/$epoch"))

  /** All committed epoch ids at `root`, ascending. */
  def committedEpochs(spark: SparkSession, root: String): Seq[Long] =
    markerIds(fsFor(spark, root), commitsDir(root))

  /** Write the relations of epoch `epoch` and publish them atomically
    * (the commit step of [[fold]]). Nothing is pruned here: delta
    * relations stay live in every epoch, because the committed index IS
    * their union — rewriting a 100 TB window index per monthly drop
    * would be a corpus-sized write.
    */
  def commitAppend(spark: SparkSession, root: String, epoch: Long,
      rels: Map[String, DataFrame]): Unit = {
    val fs = fsFor(spark, root)
    // create the (possibly empty) commit log BEFORE any relation write:
    // a crash mid-first-epoch must leave a root that reads as "epoch
    // layout, nothing committed", not one [[open]] mistakes for a
    // pre-epoch legacy index and refuses to recover
    fs.mkdirs(new Path(commitsDir(root)))
    rels.foreach { case (rel, df) =>
      df.write.mode("overwrite").parquet(epochRel(root, epoch, rel))
    }
    publish(fs, new Path(s"${commitsDir(root)}/$epoch"))
  }

  /** Data files of a written relation directory (hidden and `_`-prefixed
    * bookkeeping files excluded, as the parquet reader excludes them).
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Row count of relation `rel` of epoch `epoch`, summed from its
    * parquet footers — no Spark job, so a caller can report what a
    * commit wrote without re-reading its rows.
    */
  def committedRows(spark: SparkSession, root: String, epoch: Long,
      rel: String): Long = {
    val dir = new Path(epochRel(root, epoch, rel))
    val fs = fsFor(spark, dir.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(fs, dir).map { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Publish relation `rel` of the COMMITTED epoch `epoch` at `target`
    * by copying its files — the rows the commit already wrote, with no
    * Spark read or rewrite. The target is deleted first, so a replay
    * replaces a torn earlier copy instead of adding to it.
    */
  def copyCommitted(spark: SparkSession, root: String, epoch: Long,
      rel: String, target: String): Unit = {
    val src = new Path(epochRel(root, epoch, rel))
    val dst = new Path(target)
    val fs = fsFor(spark, target)
    val conf = spark.sparkContext.hadoopConfiguration
    fs.delete(dst, true)
    fs.mkdirs(dst)
    dataFiles(fsFor(spark, src.toString), src).foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(st.getPath.getFileSystem(conf), st.getPath,
        fs, new Path(dst, st.getPath.getName), false, conf)
      ()
    }
  }

  private def checkpointsDir(root: String) = s"$root/checkpoints"
  private def compactRel(root: String, cp: Long, rel: String) =
    s"$root/compact-$cp/$rel"

  /** Highest published checkpoint id, or -1 if never checkpointed. */
  def currentCheckpoint(spark: SparkSession, root: String): Long =
    markerIds(fsFor(spark, root), checkpointsDir(root)).lastOption.getOrElse(-1L)

  /** Union of one relation across the committed epochs (the reader of
    * the [[commitAppend]] layout): the newest checkpoint's compacted
    * copy plus every committed delta AFTER it. Uncommitted/partial
    * epoch or compact dirs are invisible by construction — only
    * marker-published paths are read.
    */
  def readCommittedDeltas(spark: SparkSession, root: String, rel: String,
      schema: StructType): DataFrame = {
    val cp = currentCheckpoint(spark, root)
    val paths = ((if (cp >= 0L) Seq(compactRel(root, cp, rel)) else Seq.empty) ++
      committedEpochs(spark, root).filter(_ > cp).map(e => epochRel(root, e, rel)))
      .filter(p => exists(spark, p))
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  /** Compact the delta log (r12) — the epoch-layout analogue of a log
    * checkpoint: after years of monthly drops the committed union
    * reads one fragment per drop, so fold everything committed so far
    * into ONE `compact-<id>/` copy per relation and publish it with a
    * single atomic marker under `checkpoints/<id>`. Readers switch
    * atomically: before the marker the orphan compact dir is invisible
    * (a retried compaction overwrites it); after it they read the
    * compacted copy plus only the deltas newer than it. Epoch MARKERS
    * are never deleted — replay detection by batch id keeps working
    * for the whole history — and the superseded delta DIRS are removed
    * by [[vacuum]], a separate lazily-run step, so no crash point can
    * lose data. Returns the checkpoint id (-1 if nothing committed).
    *
    * `fold` (r14, VERDICT #1): what the compacted copy of each relation
    * holds. The default writes the delta union verbatim — correct for
    * APPEND relations where every row is live (dedup signatures, span
    * windows, ANN buckets). For RESOLVE-keyed relations
    * (latest-epoch-wins, e.g. the cluster members/survivors) the
    * verbatim union carries every superseded relabel and tombstone row
    * into every future compacted copy forever — state grows with
    * lifetime churn, not current size — so their owners pass the
    * resolver here and the compacted copy holds only the CURRENT row
    * per key (epoch column retained, so post-compaction reads resolve
    * exactly as before).
    *
    * A root already checkpointed at its newest epoch is left as it is
    * (the call returns that checkpoint id).
    */
  def checkpointDeltas(spark: SparkSession, root: String,
      rels: Map[String, StructType],
      fold: (String, DataFrame) => DataFrame = (_, df) => df): Long = {
    val cp = currentEpoch(spark, root)
    // nothing committed, or nothing committed since the last
    // checkpoint: re-folding would overwrite compact-<cp> while reading it
    if (cp < 0L || cp == currentCheckpoint(spark, root)) return cp
    rels.foreach { case (rel, schema) =>
      fold(rel, readCommittedDeltas(spark, root, rel, schema))
        .write.mode("overwrite").parquet(compactRel(root, cp, rel))
    }
    val fs = fsFor(spark, root)
    fs.mkdirs(new Path(checkpointsDir(root)))
    publish(fs, new Path(s"${checkpointsDir(root)}/$cp"))
    cp
  }

  /** Delete the delta copies superseded by the newest checkpoint (the
    * heavy content; tiny epoch markers and any non-listed relations —
    * per-batch reports — stay). Safe to run any time after
    * [[checkpointDeltas]]; a crash mid-vacuum just leaves some
    * already-superseded dirs for the next run. Prior checkpoints'
    * compact dirs are removed too.
    */
  def vacuum(spark: SparkSession, root: String, rels: Seq[String]): Unit = {
    val cp = currentCheckpoint(spark, root)
    if (cp < 0L) return
    val fs = fsFor(spark, root)
    committedEpochs(spark, root).filter(_ <= cp).foreach { e =>
      rels.foreach { rel => fs.delete(new Path(epochRel(root, e, rel)), true); () }
    }
    markerIds(fs, checkpointsDir(root)).filter(_ < cp).foreach { old =>
      fs.delete(new Path(s"$root/compact-$old"), true)
      fs.delete(new Path(s"${checkpointsDir(root)}/$old"), false)
      ()
    }
  }

  /** Drop a FULL-STATE relation (one rewritten per epoch, each copy
    * superseding the last — e.g. the span index's folded df-cap
    * aggregate) from all but the `keep` newest committed epochs. The
    * delta relations of those epochs stay untouched.
    */
  def pruneRel(spark: SparkSession, root: String, rel: String,
      keep: Int = 2): Unit = {
    val fs = fsFor(spark, root)
    committedEpochs(spark, root).dropRight(keep).foreach { e =>
      fs.delete(new Path(epochRel(root, e, rel)), true)
      ()
    }
  }

  /** Compact the delta log of `root` (opened as a reader): checkpoint
    * `rels` ([[checkpointDeltas]], folding each with `fold`), then, if
    * `vacuumDeltas`, delete the delta copies the checkpoint supersedes
    * ([[vacuum]]). Epoch markers and per-batch reports stay, so replay
    * detection and report reads keep working for the whole history.
    */
  def compactDeltas(spark: SparkSession, root: String, format: Format,
      rels: Map[String, StructType], vacuumDeltas: Boolean = true,
      fold: (String, DataFrame) => DataFrame = (_, df) => df): Unit = {
    open(spark, root, format)
    checkpointDeltas(spark, root, rels, fold)
    if (vacuumDeltas) vacuum(spark, root, rels.keys.toSeq)
  }

  private val StampFile = "_graft_format_version"

  /** What a state root must hold to be opened (see [[open]]). A STAMPED
    * root (`stamp` set) records its format version in the hidden file
    * `_graft_format_version`: its writer requires `stamp` itself, its
    * readers accept `stamp` or any of `reads`, and `hint` ends the
    * writer's mismatch message. Unstamped roots are recognised by their
    * `commits/` log alone.
    */
  final case class Format(what: String, stamp: Option[String] = None,
      reads: Set[String] = Set.empty, hint: String = "")

  /** The one open-time check of a state root. It refuses
    *  - a stamp other than this build's (`write`: exactly `stamp`;
    *    readers: `stamp` or `reads`) — mixed signature schemes or
    *    layouts silently miss or mis-resolve rows instead of failing;
    *  - content that predates the root's format: non-hidden entries but
    *    no `commits/` log, or (stamped roots) no stamp. Read as committed
    *    deltas such a root would silently look EMPTY.
    * The writer (`write`) stamps a stamped root that holds nothing yet.
    * Readers create nothing: a mistyped path or read-only storage is
    * left as it is.
    */
  def open(spark: SparkSession, root: String, format: Format,
      write: Boolean = false): Unit = {
    val fs = fsFor(spark, root)
    val dir = new Path(root)
    val stampFile = new Path(dir, StampFile)
    val stamped = format.stamp.isDefined && fs.exists(stampFile)
    if (stamped) {
      val in = fs.open(stampFile)
      val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val wanted = if (write) format.stamp.toSet else format.reads ++ format.stamp
      if (!wanted(v))
        throw new IllegalStateException(
          s"${format.what} at $root has format version $v but this build " +
          (if (write) s"writes version ${format.stamp.get}${format.hint}"
           else s"reads version ${wanted.toSeq.sorted.mkString(" or ")}") +
          ". Rebuild it (delete the directory and re-run the drops).")
    }
    val missing = Seq(StampFile -> (format.stamp.isDefined && !stamped),
      "commits/ log" -> !fs.exists(new Path(commitsDir(root)))).collect { case (m, true) => m }
    if (missing.nonEmpty && fs.exists(dir) && fs.listStatus(dir).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      throw new IllegalStateException(
        s"${format.what} at $root predates its format (no ${missing.mkString(", no ")}); " +
        "read as committed epochs it would silently look empty. Rebuild it " +
        "(delete the directory and re-run the drops).")
    if (write && format.stamp.isDefined && !stamped) {
      fs.mkdirs(dir)
      val out = fs.create(stampFile, true)
      try out.write(format.stamp.get.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Open `root` as a reader and read relation `rel` across its
    * committed epochs ([[readCommittedDeltas]]).
    */
  def read(spark: SparkSession, root: String, format: Format, rel: String,
      schema: StructType): DataFrame = {
    open(spark, root, format)
    readCommittedDeltas(spark, root, rel, schema)
  }

  /** One epoch of a drop index — the fold path (see the object doc):
    *  1. open `root` as its writer ([[open]]);
    *  2. if `batchId` is already committed (a replay), compute nothing;
    *  3. otherwise build the epoch's relations (`deltas`), commit them
    *     as one atomic epoch ([[commitAppend]]), prune the `fullState`
    *     relations among them to the two newest epochs ([[pruneRel]])
    *     and release any the caller persisted;
    *  4. return the `reports` relations, read lazily from the committed
    *     epoch — the same rows on a first run and on a replay.
    */
  def fold(spark: SparkSession, root: String, format: Format, batchId: Long,
      reports: Map[String, StructType], fullState: Seq[String] = Nil)
      (deltas: => Map[String, DataFrame]): Map[String, DataFrame] = {
    open(spark, root, format, write = true)
    if (!isCommitted(spark, root, batchId)) {
      val rels = deltas
      commitAppend(spark, root, batchId, rels)
      fullState.foreach(pruneRel(spark, root, _))
      rels.values.foreach(_.unpersist())
    }
    reports.map { case (rel, schema) =>
      rel -> spark.read.schema(schema).parquet(epochRel(root, batchId, rel))
    }
  }

  /** Write `df` once at `path` and publish it with a marker, outside any
    * epoch log (the ANN hyperplane model). Spark creates `path` when the
    * write job starts, so only the marker — created after every data
    * file committed — tells a complete copy from a killed write.
    */
  def writePublished(spark: SparkSession, path: String, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(path)
    publish(fsFor(spark, path), new Path(path, PublishedMarker))
  }

  /** Was the relation at `path` published by [[writePublished]]? */
  def isPublished(spark: SparkSession, path: String): Boolean =
    exists(spark, s"$path/$PublishedMarker")

  private val PublishedMarker = "_graft_published"
}
