package graft.load

import java.sql.{DriverManager, SQLException}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, current_timestamp}
import org.apache.spark.sql.types._
import graft.fic.FicUpsert

/** Relational (JDBC) sink for the 9-table star schema — the reference's
  * Postgres load stage (/root/reference/src/etl/load.py:76-151,
  * /root/reference/src/config/db.py:250-257) re-shaped for distributed
  * execution:
  *
  *  - DDL bootstrap once, before the write job (S12): each table, plus an
  *    index on `fic_id` so a chunk's deletes touch only its own rows;
  *  - one writer: a task streams its partition, each fic_id's rows
  *    adjacent, in CHUNKS of whole documents (≥ `batchSize` rows, never
  *    splitting a fic_id). Each chunk is one connection and one
  *    transaction (U9):
  *    delete the chunk's fic_ids — and the fic_ids of the versions they
  *    supersede — from every table, only then batch-insert every
  *    table's rows, commit. No insert precedes the chunk's last delete,
  *    so concurrent chunks never wait on each other's inserts. Because
  *    the delete+insert is keyed by deterministic fic_id (natural-key
  *    hash), Spark's at-least-once task retries are safe — a retried
  *    task rewrites the same keys (SURVEY §7.4.5). Memory per task is
  *    O(chunk), not O(partition);
  *  - [[loadDocuments]] feeds it one row per document (the per-document
  *    form of [[graft.fic.FicShredder.nested]]), so ALL tables of one
  *    fic_id land in the same chunk and commit together: a replaced
  *    document is never missing from the database. It routes every
  *    version of one upsert key (url, nombre_fic) to one task, which
  *    applies latest-wins ([[graft.fic.FicUpsert.latestWins]]) against
  *    the [[readSnapshot]] the driver read before the job, so deciding
  *    what to write costs no Spark job of its own. [[upsertByFicId]],
  *    [[loadShredded]] and [[deleteByIds]] are single-table calls into
  *    the same writer;
  *  - a chunk is retried only on a transaction-rollback error
  *    ([[transient]]); any other SQL error fails the task at once;
  *  - every table carries a `created_at` audit timestamp, mirroring the
  *    reference's `server_default NOW()` on each model (db.py:59,100).
  *
  * Tested against embedded Derby; the SQL is deliberately vanilla
  * (VARCHAR/DOUBLE/BIGINT/CLOB + parameterized inserts) so a Postgres
  * URL drops in unchanged.
  */
object JdbcSink {

  /** Load tasks, and rows per chunk transaction and per JDBC batch. */
  private val Partitions = 8
  private val BatchSize = 500

  private def sqlType(f: StructField): String = f.dataType match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case BooleanType => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    // the full document rides in raw_json.json_data (JSONB in the
    // reference, db.py:204) — unbounded, so LOB storage, not VARCHAR
    case _ if f.name == "json_data" => "CLOB"
    case _ => "VARCHAR(32000)"
  }

  /** S12: CREATE TABLE IF NOT EXISTS from the DataFrame schema; a table
    * it creates with a `fic_id` column also gets `<table>_fic_id`, an
    * index on it, so the writer's keyed deletes never scan the table.
    */
  def ensureTable(url: String, table: String, schema: StructType): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val cols = schema.fields
        .map(f => s"${f.name} ${sqlType(f)}").mkString(", ")
      val st = conn.createStatement()
      try {
        val created =
          try { st.executeUpdate(s"CREATE TABLE $table ($cols)"); true }
          catch { case _: SQLException => false /* exists */ }
        if (created && schema.fieldNames.contains("fic_id"))
          st.executeUpdate(s"CREATE INDEX ${table}_fic_id ON $table (fic_id)")
      } finally st.close()
    } finally conn.close()
  }

  /** One target table of the writer: name and insert column order. */
  private final case class Target(name: String, schema: StructType) {
    def insertSql: String =
      s"INSERT INTO $name (${schema.fieldNames.mkString(",")}) " +
        s"VALUES (${schema.fieldNames.map(_ => "?").mkString(",")})"
  }

  /** The writer's unit: a document's key, the key of the version it
    * supersedes (if any) and its rows per target, each row in the
    * target's column order.
    */
  private final case class Doc(ficId: Long, oldFicId: Option[Long],
      rows: Array[Seq[Row]]) {
    def size: Int = rows.map(_.size).sum
  }

  /** Group a partition's documents into chunks of ≥ chunkSize rows that
    * never split a fic_id (the documents of one fic_id must be adjacent
    * in the partition): a chunk owns every row of its fic_ids, so its
    * delete+insert transaction is independently idempotent — a later
    * chunk's delete can never erase an earlier chunk's inserts.
    */
  private def chunks(docs: Iterator[Doc], chunkSize: Int): Iterator[Seq[Doc]] =
    new Iterator[Seq[Doc]] {
      private val it = docs.buffered
      def hasNext: Boolean = it.hasNext
      def next(): Seq[Doc] = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Doc]
        var rows = 0
        while (it.hasNext && rows < chunkSize) {
          buf += it.next(); rows += buf.last.size
        }
        while (it.hasNext && it.head.ficId == buf.last.ficId) buf += it.next()
        buf.toSeq
      }
    }

  /** SQLState class 40, transaction rollback — deadlock, lock timeout,
    * serialization failure (Derby 40001, 40XL1, 40XL2; Postgres 40001,
    * 40P01) — anywhere in `e`'s next-exception chain, where a
    * `BatchUpdateException` carries the statement's own error. Only
    * these are retried: a permanent error (22001, value too long) would
    * replay the same failure.
    */
  private[graft] def transient(e: SQLException): Boolean =
    Iterator.iterate(e)(_.getNextException).takeWhile(_ != null).take(16)
      .exists(x => Option(x.getSQLState).exists(_.startsWith("40")))

  /** The one writer: per chunk of `docs`, one transaction over all
    * `targets`, retried whole on a [[transient]] conflict; `committed`
    * sees each chunk after its commit.
    */
  private def writeDocs(docs: Iterator[Doc], url: String,
      targets: Seq[Target], batchSize: Int)(committed: Seq[Doc] => Unit): Unit =
    chunks(docs, batchSize).foreach { chunk =>
      // Transient-conflict retry: concurrent chunk transactions can
      // deadlock / hit serialization failures (Derby table-lock
      // escalation, Postgres 40P01). The transaction is idempotent
      // (delete+insert by key), so retrying whole is safe, and at
      // chunk granularity the replay cost is bounded by batchSize.
      var attempt = 0
      var done = false
      while (!done) {
        attempt += 1
        try {
          writeTxn(url, targets, chunk, batchSize)
          done = true
        } catch {
          case e: SQLException if attempt < 5 && transient(e) =>
            Thread.sleep(50L * attempt * attempt)
        }
      }
      committed(chunk)
    }

  private def writeTxn(url: String, targets: Seq[Target], chunk: Seq[Doc],
      batchSize: Int): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val ids = chunk.flatMap(d => d.ficId +: d.oldFicId.toSeq).distinct
      targets.foreach { t =>
        val del = conn.prepareStatement(s"DELETE FROM ${t.name} WHERE fic_id = ?")
        try {
          ids.foreach { id => del.setLong(1, id); del.addBatch() }
          del.executeBatch()
        } finally del.close()
      }
      targets.zipWithIndex.foreach { case (t, ti) =>
        if (chunk.exists(_.rows(ti).nonEmpty)) {
          val ins = conn.prepareStatement(t.insertSql)
          try {
            var inBatch = 0
            chunk.foreach(_.rows(ti).foreach { row =>
              bind(ins, t.schema, row)
              ins.addBatch(); inBatch += 1
              if (inBatch >= batchSize) { ins.executeBatch(); inBatch = 0 }
            })
            if (inBatch > 0) ins.executeBatch()
          } finally ins.close()
        }
      }
      conn.commit()
    } catch {
      case e: Throwable => conn.rollback(); throw e
    } finally conn.close()
  }

  private def bind(ins: java.sql.PreparedStatement, schema: StructType,
      row: Row): Unit = {
    var i = 0
    while (i < schema.length) {
      val v = row.get(i)
      if (v == null) ins.setObject(i + 1, null)
      else schema.fields(i).dataType match {
        case LongType => ins.setLong(i + 1, row.getLong(i))
        case IntegerType => ins.setInt(i + 1, row.getInt(i))
        case DoubleType => ins.setDouble(i + 1, row.getDouble(i))
        case BooleanType => ins.setBoolean(i + 1, row.getBoolean(i))
        case TimestampType => ins.setTimestamp(i + 1, row.getTimestamp(i))
        case _ => ins.setString(i + 1, String.valueOf(v))
      }
      i += 1
    }
  }

  /** Transactional, idempotent overwrite-by-key append of one table:
    * per fic_id-aligned chunk, one transaction that deletes the chunk's
    * fic_ids then batch-inserts its rows. The partition streams — only
    * the current chunk is materialized.
    */
  def upsertByFicId(df: DataFrame, url: String, table: String,
      batchSize: Int = BatchSize): Unit = {
    val sorted = df.sortWithinPartitions(df.col("fic_id"))
    val target = Target(table, sorted.schema)
    ensureTable(url, table, target.schema)
    val ficIdx = target.schema.fieldIndex("fic_id")
    sorted.foreachPartition { (rows: Iterator[Row]) =>
      val docs = rows.map(r => Doc(r.getLong(ficIdx), None, Array(Seq(r))))
      writeDocs(docs, url, Seq(target), batchSize)(_ => ())
    }
  }

  /** Load the per-document rows of [[graft.fic.FicShredder.nested]]
    * (`fic_id` and one `array<struct>` column per table of `tables`, the
    * first being `fic`) latest-wins against `prior`, in ONE Spark job:
    * repartition on the upsert key (url, nombre_fic), so each key's
    * versions meet in one task and a fic_id never spans two; per task,
    * [[graft.fic.FicUpsert.latestWins]] picks the documents to write and
    * the versions they supersede, and one chunk-transaction writer
    * writes every table, each row stamped with the load-time
    * `created_at`. `prior` rides in the task closure. Returns (documents
    * written, superseded versions replaced), counted once per committed
    * chunk.
    */
  def loadDocuments(docs: DataFrame, url: String, tables: Seq[String],
      prior: FicUpsert.Snapshot): (Long, Long) = {
    val fic = col("fic").getItem(0)
    val frame = docs
      .select(col("fic_id") +: fic.getField("url").as("url") +:
        fic.getField("nombre_fic").as("nombre_fic") +:
        fic.getField("fecha_corte").as("fecha_corte") +:
        current_timestamp().as("created_at") +: tables.map(col): _*)
      .repartition(Partitions, col("url"), col("nombre_fic"))
      .sortWithinPartitions(col("url"), col("nombre_fic"), col("fic_id"))
    val first = 5 // the first table column of `frame`
    val targets = tables.map { t =>
      val cols = frame.schema(t).dataType.asInstanceOf[ArrayType]
        .elementType.asInstanceOf[StructType]
      Target(t, StructType(StructField("fic_id", LongType) +: cols.fields :+
        StructField("created_at", TimestampType)))
    }
    targets.foreach(t => ensureTable(url, t.name, t.schema))

    val sc = docs.sparkSession.sparkContext
    val written = sc.longAccumulator("jdbc.documents_written")
    val replaced = sc.longAccumulator("jdbc.documents_replaced")
    frame.foreachPartition { (rows: Iterator[Row]) =>
      val applied = FicUpsert.latestWins(rows, prior)(
        r => (r.getString(1), r.getString(2)),
        r => FicUpsert.Version(r.getLong(0), r.getString(3)))
      val ds = applied.map { case (r, old) =>
        val id = r.getLong(0)
        val createdAt = r.get(4)
        Doc(id, old, Array.tabulate(targets.size) { i =>
          if (r.isNullAt(first + i)) Nil
          else r.getSeq[Row](first + i).map(e => Row.fromSeq(id +: e.toSeq :+ createdAt))
        })
      }
      writeDocs(ds, url, targets, BatchSize) { chunk =>
        written.add(chunk.size)
        replaced.add(chunk.count(_.oldFicId.isDefined))
      }
    }
    (written.value, replaced.value)
  }

  /** Undefined table: Derby 42X05, Postgres 42P01. */
  private val UndefinedTable = Set("42X05", "42P01")

  /** The latest existing version per (url, nombre_fic) of the `fic`
    * table, read on the driver with one plain JDBC query before the load
    * job mutates the table. An absent table is an empty snapshot; any
    * other error fails the load, since an empty snapshot would insert
    * every document as a duplicate.
    */
  def readSnapshot(url: String): FicUpsert.Snapshot = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery("SELECT url, nombre_fic, fic_id, fecha_corte FROM fic")
        FicUpsert.snapshot(Iterator.continually(rs).takeWhile(_.next()).map(r =>
          (r.getString(1), r.getString(2), FicUpsert.Version(r.getLong(3), r.getString(4)))))
      } catch {
        case e: SQLException if UndefinedTable(e.getSQLState) => Map.empty
      } finally st.close()
    } finally conn.close()
  }

  private def tableExists(url: String, table: String): Boolean = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try { st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0"); true }
      catch { case _: SQLException => false }
      finally st.close()
    } finally conn.close()
  }

  /** Read an existing table as a DataFrame, or None if absent. */
  def readTable(spark: org.apache.spark.sql.SparkSession, url: String,
      table: String): Option[DataFrame] =
    if (!tableExists(url, table)) None
    else Some(spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load())

  /** Distributed cascade delete (r4, VERDICT #4): per partition of the
    * id frame, the writer deletes its ids from `table` in one
    * transaction — no collect, no one-statement-at-a-time replay. A
    * missing table is left alone.
    */
  def deleteByIds(url: String, table: String, ids: DataFrame): Unit =
    if (tableExists(url, table)) {
      val idIdx = ids.schema.fieldIndex("fic_id")
      val target = Target(table, new StructType())
      ids.foreachPartition { (rows: Iterator[Row]) =>
        val docs = rows.map(r => Doc(r.getLong(idIdx), None, Array(Nil)))
        writeDocs(docs, url, Seq(target), Int.MaxValue)(_ => ())
      }
    }

  /** Load a whole shredded document set: parents and children
    * partitioned on fic_id so each document's rows share a transaction
    * per table, each stamped with the load-time `created_at` audit
    * column (reference parity: server_default NOW() on every model).
    */
  def loadShredded(tables: Seq[(String, DataFrame)], url: String,
      partitions: Int = Partitions): Unit = {
    tables.foreach { case (name, df) =>
      val stamped =
        if (df.columns.contains("created_at")) df
        else df.withColumn("created_at", current_timestamp())
      upsertByFicId(stamped.repartition(partitions, df.col("fic_id")), url, name)
    }
  }
}
