package graft.vintage.connector

import java.util.UUID

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.vintage.{RowTracking, Snapshot, VintageTable}

/** Native Catalyst row-level operations (`SupportsRowLevelOperations` +
  * `SupportsDelta`) for SQL `DELETE` / `UPDATE` / `MERGE INTO` on
  * vintage tables — the DELTA-BASED flavor of Spark's row-level
  * framework, which is exactly the merge-on-read architecture this
  * engine already uses for its fluent row-level ops:
  *
  *  - Spark's analyzer rewrites (`RewriteUpdateTable`,
  *    `RewriteMergeIntoTable`, `RewriteDeleteFromTable`) plan the
  *    operation over the table's own [[VintageNativeScan]], which
  *    serves the position row-id (`_vintage_file`, `_vintage_pos` —
  *    the canonical file key and physical row index the
  *    deletion-vector machinery is built on) next to the data and
  *    drops deleted rows in its reader: the target scan is the same
  *    single scan every SQL read uses, with no join below the write;
  *  - the delta write receives per-row verdicts (DELETE id / INSERT
  *    row / UPDATE id→row) on EXECUTORS: deleted positions stream into
  *    per-task parquet files (never the driver), inserted rows stream
  *    through the same native parquet writer as DSv2 INSERT (footer
  *    stats, CHECK constraints, dynamic partitions included);
  *  - the driver folds both into ONE optimistic log commit that grows
  *    deletion vectors (inline under the cap, sidecar past it) and
  *    adds the new files — commit cost O(changed rows), never
  *    O(touched bytes), at any condition complexity.
  *
  * Versus the previous injected-resolution-rule design, the gains are
  * plan-level: UPDATE/MERGE are planned by Spark's own row-level
  * rules (`WriteDelta` appears in EXPLAIN), WHEN NOT MATCHED BY SOURCE
  * works, and no session extension is needed for DML (the extension
  * still carries OPTIMIZE/VACUUM parsing and SQL function
  * registration). Filter-translatable SQL DELETE keeps taking the
  * metadata path (`SupportsDeleteV2` → [[VintageTable.delete]]), which
  * Spark's `OptimizeMetadataOnlyDeleteFromTable` prefers — row-level
  * plans engage exactly when the condition is beyond filters.
  */
object VintageRowLevel {

  /** Row-id column names (hidden metadata columns of the SQL table). */
  val FileCol = "_vintage_file"
  val PosCol = "_vintage_pos"

  /** Third row-id column on ROW-TRACKED tables: the row's stable
    * tracking id (see [[graft.vintage.RowTracking]]), non-nullable with
    * `-1` standing in for "no id" (pre-enablement rows) because Spark
    * rejects nullable row-id attributes. Riding the row-id projection
    * is what carries a survivor's id from the scan to the delta
    * writer's update verdict, closing the former SQL-path divergence:
    * SQL UPDATE/MERGE now preserves ids exactly like fluent rewrites.
    */
  val TrackIdCol = RowTracking.MaterializedCol

  def isRowIdCol(name: String): Boolean =
    name == FileCol || name == PosCol || name == TrackIdCol

  /** The row-id columns of `snap` with their type and comment, in the
    * order the row-level operation declares them and the delta writer
    * reads them: file key and position, plus the tracking id on
    * row-tracked tables.
    */
  def rowIdCols(snap: Snapshot): Seq[(String, DataType, String)] =
    Seq((FileCol, StringType, "canonical data file key of the row"),
      (PosCol, LongType, "physical row position inside its file")) ++
    (if (!RowTracking.enabled(snap.properties)) Nil
     else Seq((TrackIdCol, LongType,
       "stable row-tracking id (-1 for rows written before enablement)")))
}

/** One row-level operation instance: shared between the scan side and
  * the write side of a single DELETE/UPDATE/MERGE statement.
  */
class VintageRowLevelOperation(table: VintageSqlTable, cmd: Command)
    extends RowLevelOperation with SupportsDelta {

  private val tablePath = table.tablePath
  private val snap = table.snapshot

  override def command(): Command = cmd

  /** Row-tracked tables carry the tracking id as a third row-id column
    * so the delta writer can re-materialize it into updated rows.
    */
  private val tracked = RowTracking.enabled(snap.properties)

  override def rowId(): Array[NamedReference] =
    VintageRowLevel.rowIdCols(snap).map(c => Expressions.column(c._1)).toArray

  /** The target scan is the table's own: [[VintageNativeScan]] serves
    * the row-id columns next to the data, deletion vectors dropped.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite
          with RequiresDistributionAndOrdering {
        // bucketed table: request the bucket clustering so Spark plans
        // the same HashPartitioning the bucketed scan assumes — each
        // write task's partition index is then the bucket id its
        // re-inserted rows' files carry. DELETE verdict rows hash on
        // NULL data columns into one fixed partition; their output is
        // position files keyed by source path, which need no
        // alignment (a mass-delete skew trade the metadata-path SQL
        // DELETE avoids entirely).
        private val bucketing = graft.vintage.Bucketing.spec(snap.properties)
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          bucketing match {
            case Some((cols, _)) =>
              org.apache.spark.sql.connector.distributions.Distributions
                .clustered(cols.map(c => Expressions.identity(c)
                  : org.apache.spark.sql.connector.expressions.Expression)
                  .toArray)
            case None =>
              org.apache.spark.sql.connector.distributions.Distributions
                .unspecified()
          }
        override def requiredNumPartitions(): Int =
          bucketing.map(_._2).getOrElse(0)
        // Mirror VintageNativeWrite: files written by the delta path
        // carry bucket-id names, and the read-side BucketSpec declares
        // sortColumnNames — if the delta path skipped the in-bucket
        // sort, a bucket whose only live file came from UPDATE/MERGE
        // would be consumed as sorted (merge join → wrong rows) under
        // bucketedTableScan.outputOrdering. DELETE verdict rows carry
        // NULL data columns and sort harmlessly to one end.
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          graft.vintage.Bucketing.sortCols(snap.properties).map { c =>
            Expressions.sort(Expressions.identity(c),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
          }.toArray
        override def toBatch: DeltaBatchWrite = {
          val spark = SparkSession.active
          // reuse the native INSERT machinery wholesale for the row
          // side: same parquet writer, footer stats, constraints,
          // dynamic partition routing. On row-tracked tables the
          // physical write schema grows a nullable `_vintage_row_id`
          // column (invisible to schema-driven readers, same shape the
          // fluent rewrites write): updated rows materialize their
          // preserved id there, inserted rows carry null and fall back
          // to the file's fresh base range.
          val writeSchema =
            if (tracked) StructType(snap.schema.fields :+
              org.apache.spark.sql.types.StructField(
                VintageRowLevel.TrackIdCol, LongType, nullable = true))
            else snap.schema
          val insertBatch = new org.apache.spark.sql.graftshim.VintageWrite(
              tablePath, writeSchema, snap.partitionColumns,
              overwrite = false, snap.properties)
            .toBatch
          new VintageDeltaBatchWrite(tablePath, snap.version, opName,
            insertBatch,
            new SerializableConfiguration(
              spark.sessionState.newHadoopConf()), tracked)
        }
      }
    }

  private def opName: String = cmd match {
    case Command.DELETE => "DELETE"
    case Command.UPDATE => "UPDATE"
    case Command.MERGE => "MERGE"
  }
}

private[connector] case class VintageDeltaCommitMessage(
    inner: WriterCommitMessage,
    positionFile: Option[String],
    counts: Map[String, Long]) extends WriterCommitMessage

/** Driver side of the delta write: fold per-task messages into one
  * merge-on-read commit through [[VintageTable.commitDeltaRowLevel]].
  */
class VintageDeltaBatchWrite(
    tablePath: String, scanVersion: Long, op: String,
    insertBatch: BatchWrite, conf: SerializableConfiguration,
    tracked: Boolean = false)
    extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val innerFactory = insertBatch.createBatchWriterFactory(info)
    new VintageDeltaWriterFactory(tablePath, innerFactory, conf, tracked)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.collect { case m: VintageDeltaCommitMessage => m }
    val insertAdds = msgs.flatMap(_.inner match {
      case org.apache.spark.sql.graftshim.VintageCommitMessage(adds, _) => adds
      case _ => Nil
    })
    val posFiles = msgs.flatMap(_.positionFile)
    val counts = msgs.flatMap(_.counts.toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _)
    val spark = SparkSession.active
    try VintageTable.forPath(spark, tablePath)
      .commitDeltaRowLevel(scanVersion, op, insertAdds, posFiles, counts)
    finally VintageDeltaWriter.deletePositionFiles(posFiles, conf)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.collect { case m: VintageDeltaCommitMessage => m }
    insertBatch.abort(msgs.map(_.inner).toArray)
    VintageDeltaWriter.deletePositionFiles(msgs.flatMap(_.positionFile), conf)
  }
}

class VintageDeltaWriterFactory(
    tablePath: String, innerFactory: DataWriterFactory,
    conf: SerializableConfiguration, tracked: Boolean = false)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new VintageDeltaWriter(tablePath,
      innerFactory.createWriter(partitionId, taskId), conf, tracked)
}

/** Task-side delta writer. Inserted/updated rows stream into the
  * wrapped native parquet writer; deleted row ids stream into ONE
  * per-task parquet position file under `.tmp-delta/` — the driver
  * never holds the position set, which is what lets an arbitrarily
  * wide DELETE commit as deletion vectors instead of a rewrite.
  */
class VintageDeltaWriter(
    tablePath: String, inner: DataWriter[InternalRow],
    conf: SerializableConfiguration, tracked: Boolean = false)
    extends DeltaWriter[InternalRow] {

  private var posWriter: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _
  private var posPath: Option[String] = None
  private val counts = scala.collection.mutable.Map[String, Long]()
  private lazy val factory = new SimpleGroupFactory(VintageDeltaWriter.PosSchema)
  // row-tracked tables: the inner writer's schema has one extra
  // trailing `_vintage_row_id` slot; both holders are reused per row
  // (the inner writer consumes the row before the next call)
  private val extraId =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
  private val joined =
    new org.apache.spark.sql.catalyst.expressions.JoinedRow

  private def ensurePosWriter() = {
    if (posWriter == null) {
      val p = new HPath(tablePath,
        s".tmp-delta/${UUID.randomUUID().toString}.parquet")
      p.getFileSystem(conf.value).mkdirs(p.getParent)
      posWriter = ExampleParquetWriter.builder(p)
        .withConf(conf.value)
        .withType(VintageDeltaWriter.PosSchema)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .build()
      posPath = Some(p.toString)
    }
    posWriter
  }

  /** `id` carries the rowId projection in declared order:
    * (_vintage_file string, _vintage_pos long).
    */
  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val key = id.getUTF8String(0).toString
    ensurePosWriter().write(factory.newGroup()
      .append("file_key", key).append("pos", id.getLong(1)))
    counts(key) = counts.getOrElse(key, 0L) + 1L
  }

  /** On row-tracked tables the row-id projection carries the tracking
    * id as field 2 ([[VintageRowLevel.TrackIdCol]], `-1` = no id):
    * updated rows re-insert with their id materialized — the SQL-path
    * stability contract — while fresh inserts materialize null and
    * fall back to the new file's base range.
    */
  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(metadata, id)
    if (tracked) {
      val rid = id.getLong(2)
      if (rid >= 0L) extraId.update(0, rid) else extraId.update(0, null)
      inner.write(joined(row, extraId))
    } else inner.write(row)
  }

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
    insert(row)

  override def insert(row: InternalRow): Unit =
    if (tracked) {
      extraId.update(0, null)
      inner.write(joined(row, extraId))
    } else inner.write(row)

  override def commit(): WriterCommitMessage = {
    if (posWriter != null) posWriter.close()
    VintageDeltaCommitMessage(inner.commit(), posPath, counts.toMap)
  }

  override def abort(): Unit = {
    try if (posWriter != null) posWriter.close()
    catch { case _: Exception => () }
    VintageDeltaWriter.deletePositionFiles(posPath.toSeq, conf)
    inner.abort()
  }

  override def close(): Unit = inner.close()
}

private object VintageDeltaWriter {
  val PosSchema = MessageTypeParser.parseMessageType(
    """message vintage_delta_positions {
      |  required binary file_key (UTF8);
      |  required int64 pos;
      |}""".stripMargin)

  /** Best-effort removal of per-task position files. */
  def deletePositionFiles(paths: Seq[String], conf: SerializableConfiguration): Unit =
    paths.foreach { p =>
      val hp = new HPath(p)
      try hp.getFileSystem(conf.value).delete(hp, false)
      catch { case _: java.io.IOException => () }
    }
}
