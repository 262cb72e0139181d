package graft.vintage

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.types._

/** Per-file min/max/null-count extraction from Parquet footers, used to
  * populate `AddFile.stats` at write time and consulted by
  * [[FileSkipping]] at scan/merge time. Runs on executors (one task per
  * written file) so the commit path never serializes footer reads
  * through the driver.
  *
  * Values are stored as strings in the log: integral/date types as
  * decimal strings (dates as epoch days, timestamps as epoch micros),
  * floats as `toString`, strings as raw UTF-8. A column whose footer
  * stats are absent (e.g. oversized binary values) is simply omitted —
  * skipping degrades to "may match", never to wrong answers.
  */
object ParquetStats {

  /** Footer reader over the caller's Hadoop conf. The one-argument
    * `ParquetFileReader.open(inputFile)` builds its read options from a
    * fresh `Configuration`, re-parsing the XML resources on every call.
    */
  private[vintage] def openFile(file: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())

  /** Example-`Group` record reader over the caller's Hadoop conf: the
    * path-based `ParquetReader.builder` builds (and parses) a fresh
    * `Configuration` before `withConf` can replace it.
    */
  private[vintage] def groupReader(file: Path, conf: Configuration,
      filter: FilterCompat.Filter = FilterCompat.NOOP): ParquetReader[Group] =
    new ParquetReader.Builder[Group](HadoopInputFile.fromPath(file, conf),
        new HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport(): ReadSupport[Group] =
        new GroupReadSupport()
    }.withFilter(filter).build()

  /** Top-level columns eligible for stats, capped like Delta's
    * dataSkippingNumIndexedCols so wide tables don't bloat the log.
    */
  def statsColumns(schema: StructType, cap: Int = 32): Seq[(String, DataType)] =
    schema.fields.iterator.collect {
      case f if supported(f.dataType) => (f.name, f.dataType)
    }.take(cap).toSeq

  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Read (numRecords, per-column stats) from one Parquet file footer,
    * aggregating across row groups. Missing row-group stats drop the
    * column entirely (partial stats would be unsound for skipping).
    */
  def read(file: Path, conf: Configuration,
           cols: Seq[(String, DataType)]): (Long, Map[String, ColStats]) = {
    val reader = openFile(file, conf)
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      val wanted = cols.map { case (n, t) => n.toLowerCase -> (n, t) }.toMap
      // per column: (mins, maxs, nullCounts) across row groups
      val acc = scala.collection.mutable.Map[String, (List[String], List[String], Long, Boolean)]()
      for (b <- blocks; c <- b.getColumns.asScala) {
        val p = c.getPath.toArray
        if (p.length == 1) wanted.get(p(0).toLowerCase).foreach { case (name, dt) =>
          val st = c.getStatistics
          val cur = acc.getOrElse(name, (Nil, Nil, 0L, true))
          if (st == null || !st.isNumNullsSet)
            acc(name) = (cur._1, cur._2, cur._3, false)
          else {
            val nulls = st.getNumNulls
            if (!st.hasNonNullValue) {
              // no min/max recorded: sound only if the chunk is all-null
              if (nulls == b.getRowCount)
                acc(name) = (cur._1, cur._2, cur._3 + nulls, cur._4)
              else acc(name) = (cur._1, cur._2, cur._3, false)
            } else (encode(st.genericGetMin.asInstanceOf[AnyRef], dt),
                    encode(st.genericGetMax.asInstanceOf[AnyRef], dt)) match {
              case (Some(mn), Some(mx)) =>
                acc(name) = (mn :: cur._1, mx :: cur._2, cur._3 + nulls, cur._4)
              case _ => acc(name) = (cur._1, cur._2, cur._3, false)
            }
          }
        }
      }
      val stats = acc.iterator.collect {
        case (name, (mins, maxs, nulls, ok)) if ok =>
          val dt = wanted(name.toLowerCase)._2
          val (mnOpt, mxOpt) =
            if (mins.isEmpty) (None, None) // all rows null
            else (Some(mins.reduce((a, b) => if (lt(dt, a, b)) a else b)),
                  Some(maxs.reduce((a, b) => if (lt(dt, a, b)) b else a)))
          // long-string bounds are truncated (widened, still sound) so a
          // text column cannot bloat the log with kilobyte min/max values
          val (mn2, mx2) = dt match {
            case StringType =>
              (mnOpt.map(truncateMinString(_)), mxOpt.flatMap(truncateMaxString(_)))
            case _ => (mnOpt, mxOpt)
          }
          // ColStats cannot express "bounded below, unbounded above":
          // FileSkipping reads (min=Some, max=None) as an all-null file
          // and would WRONGLY prune it. If no finite truncated max
          // exists (a 32-U+10FFFF prefix), drop the column's stats for
          // this file entirely — never prune, always sound.
          val expressible = mn2.isDefined == mx2.isDefined
          if (expressible) Some(name -> ColStats(mn2, mx2, Some(nulls))) else None
      }.flatten.toMap
      (numRecords, stats)
    } finally reader.close()
  }

  /** Build per-FILE bloom filters for the requested columns by reading
    * the file's values back with a column-pruned Group reader — runs
    * in the same executor task wave as [[read]], one extra columnar
    * scan of ONLY the opted-in columns. Columns whose physical type
    * has no canonical rendering ([[StatsBloom.renderLiteral]]'s
    * contract: UTF8 strings, plain/int-annotated INT32/INT64) are
    * silently excluded — no bloom, no pruning, sound.
    */
  def bloomStats(file: Path, conf: Configuration, cols: Seq[String],
      mBits: Int): Map[String, String] = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    if (cols.isEmpty) return Map.empty
    val fileSchema = {
      val r = openFile(file, conf)
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    def renderable(p: PrimitiveType): Boolean = {
      val ann = p.getLogicalTypeAnnotation
      p.getPrimitiveTypeName match {
        case BINARY =>
          ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
        case INT32 | INT64 =>
          ann == null ||
            ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
        case _ => false
      }
    }
    val fields = fileSchema.getFields.asScala.collect {
      case p: PrimitiveType
        if cols.exists(_.equalsIgnoreCase(p.getName)) && renderable(p) => p
    }.toSeq
    if (fields.isEmpty) return Map.empty
    val projection = new MessageType("graft_bloom_projection",
      fields.map(_.asInstanceOf[org.apache.parquet.schema.Type]).asJava)
    val readConf = new Configuration(conf)
    readConf.set(ReadSupport.PARQUET_READ_SCHEMA,
      projection.toString)
    val reader = groupReader(file, readConf)
    val builders = fields.map(f => f.getName -> new StatsBloom.Builder(mBits))
    try {
      var g = reader.read()
      while (g != null) {
        var i = 0
        while (i < fields.size) {
          val f = fields(i)
          val idx = projection.getFieldIndex(f.getName)
          if (g.getFieldRepetitionCount(idx) > 0) {
            val s = f.getPrimitiveTypeName match {
              case BINARY => g.getString(idx, 0)
              case INT64 => g.getLong(idx, 0).toString
              case INT32 => g.getInteger(idx, 0).toString
              case _ => null
            }
            if (s != null) builders(i)._2.add(s)
          }
          i += 1
        }
        g = reader.read()
      }
    } finally reader.close()
    builders.iterator.flatMap { case (n, b) => b.encode().map(n -> _) }.toMap
  }

  /** Type-aware less-than on the string-encoded stat values. */
  private def lt(dt: DataType, a: String, b: String): Boolean = dt match {
    case StringType => cpCompare(a, b) < 0
    case BooleanType => !a.toBoolean && b.toBoolean
    case FloatType | DoubleType => a.toDouble < b.toDouble
    case _ => BigDecimal(a) < BigDecimal(b)
  }

  /** Code-point-wise string compare — matches Parquet's unsigned-byte
    * (UTF-8) stat ordering, which differs from String.compareTo's
    * UTF-16-unit order for supplementary characters.
    */
  /** Prefix of at most `cap` code points — a sound (<=) lower bound. */
  private[vintage] def truncateMinString(s: String, cap: Int = 32): String = {
    val cps = s.codePoints().toArray
    if (cps.length <= cap) s else new String(cps, 0, cap)
  }

  /** Sound upper bound of at most `cap` code points: truncate, then
    * increment the last incrementable code point (skipping the
    * surrogate gap) so the result exceeds every string sharing the
    * prefix. None if no finite bound exists at this cap (a prefix of
    * all-U+10FFFF) — the column then reads as unbounded above.
    */
  private[vintage] def truncateMaxString(s: String, cap: Int = 32): Option[String] = {
    val cps = s.codePoints().toArray
    if (cps.length <= cap) return Some(s)
    var i = cap - 1
    while (i >= 0) {
      if (cps(i) < 0x10FFFF) {
        var next = cps(i) + 1
        if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
        val out = java.util.Arrays.copyOf(cps, i + 1)
        out(i) = next
        return Some(new String(out, 0, out.length))
      }
      i -= 1
    }
    None
  }

  private[vintage] def cpCompare(a: String, b: String): Int = {
    val ai = a.codePoints().iterator(); val bi = b.codePoints().iterator()
    while (ai.hasNext && bi.hasNext) {
      val c = Integer.compare(ai.next(), bi.next())
      if (c != 0) return c
    }
    java.lang.Boolean.compare(ai.hasNext, bi.hasNext)
  }

  /** Encode one footer min/max value as a log string for Spark type `dt`. */
  private def encode(v: AnyRef, dt: DataType): Option[String] =
    (v, dt) match {
      case (i: java.lang.Integer, ByteType | ShortType | IntegerType | DateType) =>
        Some(i.toString)
      case (l: java.lang.Long, LongType | TimestampType | TimestampNTZType) =>
        Some(l.toString)
      case (f: java.lang.Float, FloatType) =>
        if (f.isNaN) None else Some(f.toString)
      case (d: java.lang.Double, DoubleType) =>
        if (d.isNaN) None else Some(d.toString)
      case (b: java.lang.Boolean, BooleanType) => Some(b.toString)
      case (b: Binary, StringType) => Some(b.toStringUsingUTF8)
      case (n, d: DecimalType) => n match {
        case i: java.lang.Integer =>
          Some(BigDecimal(BigInt(i.longValue), d.scale).toString)
        case l: java.lang.Long =>
          Some(BigDecimal(BigInt(l.longValue), d.scale).toString)
        case b: Binary =>
          Some(BigDecimal(BigInt(b.getBytes), d.scale).toString)
        case _ => None
      }
      case _ => None
    }
}
