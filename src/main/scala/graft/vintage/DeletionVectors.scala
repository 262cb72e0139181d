package graft.vintage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Merge-on-read deletion vectors: subtract per-file deleted row
  * positions ([[AddFile.dv]] / [[AddFile.dvRef]]) from a scan WITHOUT
  * rewriting data files.
  *
  * Read-side mechanics (the whole trick): Spark's parquet source
  * exposes `_metadata.row_index` — the physical position of each row
  * inside its file, kept correct under file splits and row-group/page
  * skipping. A table's deletion state is therefore exactly an
  * ANTI-JOIN of the scan against the (file, position) set from the
  * log. The join is a plan-level wrapper: the vectorized parquet
  * reader, pushed filters, and column pruning underneath are untouched.
  * SQL-catalog reads skip the join: the native scan
  * (`connector.VintageNativeScan`) reads the same row index and drops
  * each file's [[DeletedRows]] as rows leave the parquet reader — for
  * plain reads and for the target scans of SQL MERGE INTO, UPDATE and
  * DELETE alike. The join remains for `toDF`, `format("vintage")`,
  * streaming and the fluent DML planners.
  *
  * DV storage is three-tier per file, graded by cardinality:
  *   - INLINE (<= `maxInline` positions AND within the commit-wide
  *     `maxInlineTotal` budget): positions live in the log line; the
  *     lookup side is driver-local and broadcast. Both caps guard the
  *     driver: the per-file cap bounds any one vector, the global
  *     budget bounds the sum a wide sweep could otherwise collect
  *     (overflow demotes to the sidecar tier, smallest vectors kept).
  *     A file whose vector already lives in a sidecar never returns
  *     to the inline tier (sidecar is sticky — its prior positions
  *     exist only distributed).
  *   - SIDECAR (> cap but sparse relative to the file): positions live
  *     in a parquet sidecar under `_vintage_dv/`, read DISTRIBUTED and
  *     never materialized on the driver — the wide-but-sparse GDPR
  *     sweep (1% of every file of a 100 TB table) costs one small
  *     sidecar per commit, not a rewrite of everything. No broadcast
  *     hint on this path: the set's size is data-dependent, so the
  *     join strategy is left to AQE.
  *   - REWRITE (>= `maxDeletedFraction` of the file's rows dead):
  *     copy-on-write — when most of a file dies, rewriting the
  *     survivors is the cheaper plan AND keeps the table small.
  *
  * Capability parity note: the reference's own delete
  * (/root/reference/README.md:281) is copy-on-write via Delta 0.6.1;
  * deletion vectors are the scale path modern Delta added for the
  * identical operation (Delta stores RoaringBitmap sidecars; parquet
  * position-lists here keep the sidecar scannable by the same engine
  * that reads everything else).
  */
object DeletionVectors {

  /** Table property enabling merge-on-read deletes. */
  val EnabledProp = "vintage.deletionVectors.enabled"

  /** Table property bounding the inline DV size per file; a vector
    * past this cap moves to a sidecar file (or a rewrite, when dense
    * enough — see [[MaxDeletedFractionProp]]).
    */
  val MaxInlineProp = "vintage.deletionVectors.maxInline"
  val DefaultMaxInline = 10000

  /** Table property: a row-level op whose total deleted fraction of a
    * file would reach this threshold rewrites the file copy-on-write
    * instead of growing its DV (files with unknown footer counts never
    * rewrite — they take the sidecar path).
    */
  val MaxDeletedFractionProp = "vintage.deletionVectors.maxDeletedFraction"
  val DefaultMaxDeletedFraction = 0.5

  /** Table property bounding the TABLE-WIDE total of inline DV
    * positions. The per-file cap ([[MaxInlineProp]]) bounds each
    * vector, but a wide sparse delete — the GDPR sweep touching 1% of
    * every file — lands every file under the per-file cap while the
    * sum is `nFiles × cap`: at 100k files that is 10⁹ positions on
    * the driver, both at commit time (the inline tier collects new
    * positions) and at every snapshot replay (the log materializes
    * all inline vectors). The budget check therefore counts the
    * UNTOUCHED files' existing inline positions too: when the
    * table-wide total would exceed it, overflow files demote to the
    * sidecar tier, whose write is fully distributed; smallest vectors
    * keep the cheap inline/broadcast path. (Racing commits can
    * transiently overshoot by at most one commit's budget each —
    * bounded, and corrected by the next demotion.)
    */
  val MaxInlineTotalProp = "vintage.deletionVectors.maxInlineTotal"
  val DefaultMaxInlineTotal = 1000000L

  /** Sidecar directory name under the table root. */
  val SidecarDirName = "_vintage_dv"

  def enabled(props: Map[String, String]): Boolean =
    props.get(EnabledProp).exists(_.toBoolean)

  def maxInline(props: Map[String, String]): Int =
    props.get(MaxInlineProp).map(_.toInt).getOrElse(DefaultMaxInline)

  def maxDeletedFraction(props: Map[String, String]): Double =
    props.get(MaxDeletedFractionProp).map(_.toDouble)
      .getOrElse(DefaultMaxDeletedFraction)

  def maxInlineTotal(props: Map[String, String]): Long =
    props.get(MaxInlineTotalProp).map(_.toLong)
      .getOrElse(DefaultMaxInlineTotal)

  /** Split per-file-cap-passing inline candidates into (kept inline,
    * demoted to sidecar) under the global [[MaxInlineTotalProp]]
    * budget. Smallest grown vectors are kept first (ties broken on the
    * key for determinism), maximizing the number of files that stay on
    * the broadcast-lookup path for a given driver-memory budget; the
    * demoted remainder rides the distributed sidecar writer, so driver
    * memory stays bounded regardless of how many files a sweep grazes.
    */
  def applyInlineBudget(inlineKeys: Seq[String], grown: Map[String, Long],
      budget: Long): (Seq[String], Seq[String]) = {
    val sorted = inlineKeys.sortBy(k => (grown(k), k))
    var total = 0L
    val keep = Seq.newBuilder[String]
    val demote = Seq.newBuilder[String]
    sorted.foreach { k =>
      if (total + grown(k) <= budget) { total += grown(k); keep += k }
      else demote += k
    }
    (keep.result(), demote.result())
  }

  /** Remaining table-wide inline budget for one commit: the cap minus
    * the UNTOUCHED files' existing inline positions — snapshot replay
    * materializes every inline vector, so the bound is table-wide, not
    * per-commit. Shared by the fluent and SQL row-level paths so the
    * budget rule cannot diverge between them.
    */
  private[vintage] def remainingInlineBudget(snap: Snapshot,
      touched: Iterable[String], byKey: Map[String, AddFile]): Long = {
    // spilled snapshots sum the table-wide inline total DISTRIBUTED
    // over the checkpoint rows instead of walking a driver file list
    val tableInline = snap.spilled match {
      case Some(ix) =>
        ix.inlineDvTotal(org.apache.spark.sql.SparkSession.active)
      case None => snap.files.iterator.map(_.dv.size.toLong).sum
    }
    val untouchedInline = tableInline -
      touched.iterator.map(k => byKey(k).dv.size.toLong).sum
    math.max(0L, maxInlineTotal(snap.properties) - untouchedInline)
  }

  def hasDvs(files: Seq[AddFile]): Boolean = files.exists(_.hasDv)

  /** Canonical file key used on BOTH join sides — the SQL mirror of
    * [[VintageTable.canonicalKey]]: local-FS URIs reduce to a plain
    * path (`file:///a`, `file:/a`, and authority-carrying
    * `file://host/a` all → `/a`), other schemes pass through — so the
    * log's AddFile paths and the scan's `_metadata.file_path` strings
    * meet on equal terms.
    */
  private[vintage] def fileKeyExpr(filePathCol: Column): Column =
    regexp_replace(
      regexp_replace(filePathCol, "^file://[^/]*/", "/"),
      "^file:/+", "/")

  private[vintage] def fileKey(absPath: String): String =
    VintageTable.canonicalKey(absPath)

  /** The deleted (fileKey, position) set of `files` as a DataFrame
    * named (fileCol, posCol): the inline part is a driver-local
    * broadcast frame (bounded by the per-file cap); sidecar parts are
    * DISTRIBUTED parquet scans of the referenced `_vintage_dv/` dirs,
    * semi-joined to the (sidecar, file) pairs the CURRENT files
    * actually reference — a sidecar may also hold rows for files whose
    * vector was superseded by a later commit, and those stale rows
    * must not apply. When any sidecar is present the combined frame
    * carries no broadcast hint (size is data-dependent; AQE picks).
    */
  private[vintage] def dvLookup(spark: SparkSession, tablePath: String,
      files: Seq[AddFile], fileCol: String, posCol: String): DataFrame = {
    import spark.implicits._
    val inline = files.filter(_.dv.nonEmpty)
      .flatMap(f => f.dv.map(p => (fileKey(f.absolutePath(tablePath)), p)))
      .toDF(fileCol, posCol)
    val refs = files.flatMap(f => f.dvRef.map(r =>
      (fileKey(AddFile.resolve(tablePath, r.path)),
       fileKey(f.absolutePath(tablePath)))))
    if (refs.isEmpty) broadcast(inline)
    else {
      val scCol = s"${fileCol}_sc"
      val valid = refs.toDF(scCol, fileCol)
      // explicit schema makes the read format-flexible: current
      // sidecars are run-length encoded (pos_start, pos_end), sidecars
      // written before the RLE format carry single positions (pos);
      // missing columns read as null and coalesce picks the run bounds
      val scSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file_key",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("pos_start",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("pos_end",
          org.apache.spark.sql.types.LongType)))
      val sidecars = spark.read.schema(scSchema)
        .parquet(refs.map(_._1).distinct: _*)
        .select(
          // parent dir of the part file == the referenced sidecar dir
          fileKeyExpr(regexp_replace(col("_metadata.file_path"), "/[^/]+$", ""))
            .as(scCol),
          col("file_key").as(fileCol),
          coalesce(col("pos"), col("pos_start")).as("__dv_run_s"),
          coalesce(col("pos_end"), col("pos")).as("__dv_run_e"))
        // semi-join on the COMPRESSED rows first, expand runs after
        .join(broadcast(valid), Seq(scCol, fileCol), "left_semi")
        .select(col(fileCol),
          explode(sequence(col("__dv_run_s"), col("__dv_run_e"))).as(posCol))
      inline.unionByName(sidecars)
    }
  }

  /** Longest run one sidecar row may encode. Bounds the array
    * `sequence(pos_start, pos_end)` materializes per row on the read
    * side (8192 longs = 64 KiB) while still collapsing a clustered
    * delete ~8000:1.
    */
  private val MaxRunLength = 8192L

  /** Write the full deletion vector of each file in `positions`
    * (schema: (file_key, pos)) as ONE parquet sidecar dir per commit,
    * returning its table-relative path. Positions are RUN-LENGTH
    * encoded: each row is a contiguous `[pos_start, pos_end]` run, so
    * a clustered delete (a dropped partition's rows, a contiguous
    * ingest batch) costs one row per run instead of one per position —
    * the roaring-bitmap trade expressed in plain parquet, still
    * scannable by the same engine that reads everything else. Sparse
    * vectors degrade gracefully to single-position runs.
    *
    * Distributed end to end — the position set never touches the
    * driver (the sidecar tier exists precisely because it can be too
    * big to collect): one shuffle to cluster by file, an in-order
    * per-partition pass to compress. Rows stay clustered by file for
    * row-group skipping on the read side.
    */
  private[vintage] def writeSidecar(positions: DataFrame, tablePath: String): String = {
    val spark = positions.sparkSession
    import spark.implicits._
    val rel = s"$SidecarDirName/${java.util.UUID.randomUUID().toString}"
    positions
      .select(col("file_key"), col("pos"))
      .as[(String, Long)]
      .repartition(col("file_key"))
      .sortWithinPartitions("file_key", "pos")
      .mapPartitions { it =>
        // streaming run-compressor over the (file_key, pos)-sorted
        // partition: O(1) memory regardless of vector size
        new Iterator[(String, Long, Long)] {
          private var cur: (String, Long) = if (it.hasNext) it.next() else null
          def hasNext: Boolean = cur != null
          def next(): (String, Long, Long) = {
            val (k, start) = cur
            var end = start
            cur = if (it.hasNext) it.next() else null
            while (cur != null && cur._1 == k && cur._2 == end + 1 &&
                   end - start + 1 < MaxRunLength) {
              end = cur._2
              cur = if (it.hasNext) it.next() else null
            }
            (k, start, end)
          }
        }
      }
      .toDF("file_key", "pos_start", "pos_end")
      .write.parquet(s"$tablePath/$rel")
    rel
  }

  /** Read the deleted rows of ONE data file (canonical key `fileKey`)
    * from the sidecar directory `dir`, in the calling task — the
    * in-scan counterpart of [[dvLookup]]'s distributed sidecar scan.
    * Only rows naming `fileKey` apply (a sidecar holds the vectors of
    * every file its commit marked), and both formats
    * read: run-length `(pos_start, pos_end)` and the legacy single
    * `pos`. The file-key predicate is pushed into the parquet reader,
    * so row groups of other files are skipped (sidecar rows are
    * clustered by file).
    */
  private[vintage] def readSidecar(dir: String, fileKey: String,
      conf: org.apache.hadoop.conf.Configuration): DeletedRows = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    val root = new org.apache.hadoop.fs.Path(dir)
    val parts = root.getFileSystem(conf).listStatus(root).iterator
      .map(_.getPath).filter { p =>
        val n = p.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
    val onlyFile = FilterCompat.get(FilterApi.eq(
      FilterApi.binaryColumn("file_key"), Binary.fromString(fileKey)))
    val starts = Array.newBuilder[Long]
    val ends = Array.newBuilder[Long]
    parts.foreach { part =>
      val reader = ParquetStats.groupReader(part, conf, onlyFile)
      try {
        var g = reader.read()
        while (g != null) {
          // the pushed predicate may only prune row groups: re-check
          if (g.getString("file_key", 0) == fileKey) {
            if (g.getType.containsField("pos_start")) {
              starts += g.getLong("pos_start", 0); ends += g.getLong("pos_end", 0)
            } else {
              val p = g.getLong("pos", 0); starts += p; ends += p
            }
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    DeletedRows.fromRuns(starts.result(), ends.result())
  }

  /** Fresh helper-column names per call: a table column named
    * `__dv_file` must not break DV reads.
    */
  private def freshNames(): (String, String) = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    (s"__dv_file_$tag", s"__dv_pos_$tag")
  }

  /** Scan columns + the canonical file key and in-file position. */
  private def withKeys(df: DataFrame, outputCols: Seq[Column],
      fileCol: String, posCol: String): DataFrame =
    df.select(
      (outputCols :+
        fileKeyExpr(col("_metadata.file_path")).as(fileCol) :+
        col("_metadata.row_index").as(posCol)): _*)

  /** Wrap `df` (a scan over exactly `files`, any of which may carry a
    * DV) so deleted positions vanish. No-op when no file has a DV. The
    * input frame must still expose the parquet `_metadata` column —
    * i.e. call this directly on the scan, before projections.
    */
  def applyTo(df: DataFrame, tablePath: String, files: Seq[AddFile],
      outputCols: Seq[Column]): DataFrame = {
    if (!hasDvs(files)) return df.select(outputCols: _*)
    val (fileCol, posCol) = freshNames()
    withKeys(df, outputCols, fileCol, posCol)
      .join(dvLookup(df.sparkSession, tablePath, files, fileCol, posCol),
        Seq(fileCol, posCol), "left_anti")
      .drop(fileCol, posCol)
  }

  /** `(fileKey, position)` of the LIVE rows of `df` matching
    * `condition` — the write-side primitive of a merge-on-read
    * delete/update: rows already in a file's DV (inline or sidecar)
    * are excluded first, so a repeated delete never double-counts a
    * position. Output columns are named `fileCol`/`posCol` (pass fresh
    * names via [[VintageTable]]'s merge-on-read planner).
    */
  private[vintage] def livePositionsMatching(
      df: DataFrame, tablePath: String, files: Seq[AddFile],
      outputCols: Seq[Column], condition: Column,
      fileCol: String, posCol: String): DataFrame = {
    val keyed = withKeys(df, outputCols, fileCol, posCol)
    val live =
      if (!hasDvs(files)) keyed
      else keyed.join(
        dvLookup(df.sparkSession, tablePath, files, fileCol, posCol),
        Seq(fileCol, posCol), "left_anti")
    live.filter(condition).select(col(fileCol), col(posCol))
  }
}

/** The deleted row positions of one data file as sorted, disjoint,
  * closed runs `[starts(i), ends(i)]` — the shape sidecars store, and
  * a compact one for inline vectors (a clustered delete is one run).
  * Membership is a binary search over the run starts.
  */
final class DeletedRows private (starts: Array[Long], ends: Array[Long])
    extends Serializable {
  def contains(pos: Long): Boolean = {
    val i = java.util.Arrays.binarySearch(starts, pos)
    i >= 0 || { val before = -i - 2; before >= 0 && ends(before) >= pos }
  }
}

object DeletedRows {
  val empty: DeletedRows = new DeletedRows(Array.emptyLongArray, Array.emptyLongArray)

  /** Runs from single positions (an inline vector), in any order. */
  def fromPositions(positions: Seq[Long]): DeletedRows = {
    val ps = positions.toArray
    fromRuns(ps, ps)
  }

  /** Runs in any order, possibly overlapping or adjacent: sorted and
    * coalesced so every position belongs to exactly one run.
    */
  def fromRuns(starts: Array[Long], ends: Array[Long]): DeletedRows = {
    val sorted = starts.indices.forall(i => i == 0 || starts(i - 1) <= starts(i))
    val order = if (sorted) starts.indices else starts.indices.sortBy(starts(_))
    val s = Array.newBuilder[Long]
    val e = Array.newBuilder[Long]
    var open = false
    var curS = 0L
    var curE = 0L
    order.foreach { i =>
      if (open && starts(i) <= curE + 1) curE = math.max(curE, ends(i))
      else {
        if (open) { s += curS; e += curE }
        open = true; curS = starts(i); curE = ends(i)
      }
    }
    if (open) { s += curS; e += curE }
    new DeletedRows(s.result(), e.result())
  }
}
