package graft.vintage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** Parquet serialization of checkpoint snapshots.
  *
  * A checkpoint at 100k commits carries the whole live file list — at
  * that scale a line-per-action JSON file costs O(list) uncompressed
  * driver text; Parquet gives column compression (paths and stats
  * share long prefixes) and a splittable container other engines and
  * distributed readers can scan (Delta's checkpoint format choice, for
  * the same reason). Schema: one row per action, with the exact
  * action JSON (the log's canonical, tested codec) plus typed columns
  * for the hot AddFile fields so a columnar consumer can read the
  * file list without touching JSON.
  *
  * Checkpoints are rewritable metadata, not commits, so writes go
  * temp-file + rename (readers never observe a partial file) rather
  * than through the LogStore's exclusive-publish protocol.
  */
private[vintage] object CheckpointCodec {

  private val schema = MessageTypeParser.parseMessageType(
    """message vintage_checkpoint {
      |  required binary action_type (UTF8);
      |  required binary json (UTF8);
      |  optional binary path (UTF8);
      |  optional int64 size;
      |  optional boolean data_change;
      |}""".stripMargin)

  private def actionType(a: Action): String = a match {
    case _: AddFile => "add"
    case _: RemoveFile => "remove"
    case _: Metadata => "metadata"
    case _: CommitInfo => "commit"
    case _: Txn => "txn"
    case _: IngestedFile => "ingest"
    case _: Protocol => "protocol"
    case _: RowIdHighWaterMark => "rowIdHwm"
  }

  def write(dest: Path, actions: Seq[Action], conf: Configuration): Unit = {
    val fs = dest.getFileSystem(conf)
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val writer = ExampleParquetWriter.builder(tmp)
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try actions.foreach { a =>
      val g = factory.newGroup()
        .append("action_type", actionType(a))
        .append("json", Action.toJsonLine(a))
      a match {
        case f: AddFile =>
          g.append("path", f.path)
            .append("size", f.size)
            .append("data_change", f.dataChange)
        case _ => ()
      }
      writer.write(g)
    } finally writer.close()
    if (fs.exists(dest)) fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"rename $tmp -> $dest failed")
  }

  /** Footer-only row count — the cheap signal [[VintageLog]] uses to
    * decide whether a checkpoint is past the spill threshold, without
    * reading any row.
    */
  def recordCount(src: Path, conf: Configuration): Long = {
    val r = ParquetStats.openFile(src, conf)
    try r.getRecordCount finally r.close()
  }

  /** Non-AddFile actions only (metadata, protocol, commits, txns…) —
    * the driver-sized slice of a spilled checkpoint. Add rows are
    * skipped WITHOUT parsing their JSON (the action_type column is the
    * discriminator), so a million-file checkpoint costs a streaming
    * row walk but no driver allocation.
    */
  def readMeta(src: Path, conf: Configuration): Seq[Action] = {
    val reader = ParquetStats.groupReader(src, conf)
    val out = scala.collection.mutable.ArrayBuffer[Action]()
    try {
      var g = reader.read()
      while (g != null) {
        if (g.getString("action_type", 0) != "add")
          out ++= Action.fromJsonLineLenient(g.getString("json", 0))
        g = reader.read()
      }
    } finally reader.close()
    out.toSeq
  }

  /** Streamed, possibly MULTI-PART checkpoint write for spilled
    * snapshots: fresh meta actions first, then the PREVIOUS
    * checkpoint's add rows (any number of parts) copied row-by-row
    * minus `excludePaths` (removed or re-added since), then the tail's
    * adds — O(1) driver memory at any file count, never materializing
    * the list this format exists to avoid holding.
    *
    * Rolls to a new part whenever the current one reaches
    * `rowsPerPart` ADD rows; all meta actions stay in part 1 (the
    * reader contract [[VintageLog]] relies on to load a spilled
    * snapshot's metadata from the first part alone). The total part
    * count is only known at the end, so parts are written to temp
    * names and renamed to `destFor(part, of)` (1-based) once complete.
    * Returns the part count.
    */
  def writeStreamedParts(destFor: (Int, Int) => Path, metaActions: Seq[Action],
      prevs: Seq[Path], excludePaths: Set[String], tailAdds: Seq[AddFile],
      rowsPerPart: Long, conf: Configuration): Int = {
    val dir = destFor(1, 1).getParent
    val fs = dir.getFileSystem(conf)
    val factory = new SimpleGroupFactory(schema)
    val tmps = scala.collection.mutable.ArrayBuffer[Path]()
    var writer: org.apache.parquet.hadoop.ParquetWriter[
      org.apache.parquet.example.data.Group] = null
    var rowsInPart = 0L
    def roll(): Unit = {
      if (writer != null) writer.close()
      val tmp = new Path(dir,
        s".cppart.${java.util.UUID.randomUUID().toString.take(8)}.${tmps.size}.tmp")
      tmps += tmp
      writer = ExampleParquetWriter.builder(tmp)
        .withConf(conf)
        .withType(schema)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .build()
      rowsInPart = 0L
    }
    def writeAddGroup(json: String, path: String, size: Long,
        dataChange: Boolean): Unit = {
      if (rowsInPart >= rowsPerPart) roll()
      writer.write(factory.newGroup()
        .append("action_type", "add")
        .append("json", json)
        .append("path", path)
        .append("size", size)
        .append("data_change", dataChange))
      rowsInPart += 1
    }
    try {
      roll()
      // meta never rolls: part 1 carries ALL of it (oversized is fine)
      metaActions.foreach { a =>
        writer.write(factory.newGroup()
          .append("action_type", actionType(a))
          .append("json", Action.toJsonLine(a)))
        rowsInPart += 1
      }
      prevs.foreach { prev =>
        val reader = ParquetStats.groupReader(prev, conf)
        try {
          var g = reader.read()
          while (g != null) {
            if (g.getString("action_type", 0) == "add" &&
                !excludePaths(g.getString("path", 0)))
              writeAddGroup(g.getString("json", 0), g.getString("path", 0),
                g.getLong("size", 0), g.getBoolean("data_change", 0))
            g = reader.read()
          }
        } finally reader.close()
      }
      tailAdds.foreach(f =>
        writeAddGroup(Action.toJsonLine(f), f.path, f.size, f.dataChange))
    } finally if (writer != null) writer.close()
    val of = tmps.size
    tmps.zipWithIndex.foreach { case (tmp, i) =>
      val dest = destFor(i + 1, of)
      if (fs.exists(dest)) fs.delete(dest, false)
      if (!fs.rename(tmp, dest))
        throw new java.io.IOException(s"rename $tmp -> $dest failed")
    }
    of
  }

  def read(src: Path, conf: Configuration): Seq[Action] = {
    val reader = ParquetStats.groupReader(src, conf)
    val out = scala.collection.mutable.ArrayBuffer[Action]()
    try {
      var g = reader.read()
      while (g != null) {
        // lenient like the commit reader: the protocol gate in replay
        // makes skipping unknown future actions safe
        out ++= Action.fromJsonLineLenient(g.getString("json", 0))
        g = reader.read()
      }
    } finally reader.close()
    out.toSeq
  }
}
