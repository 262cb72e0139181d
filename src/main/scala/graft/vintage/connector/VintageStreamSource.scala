package graft.vintage.connector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graftshim.{StreamingOps, VintageRelation}
import org.apache.spark.sql.types.StructType

import graft.vintage.{AddFile, CommitInfo, Metadata, RemoveFile, Snapshot, VintageLog}

/** Incremental streaming source over a vintage table — the read-side
  * complement of the foreachBatch sinks in
  * [[graft.streaming.VintageStreaming]] (the reference's table format
  * supports exactly this "table as a stream" pattern; we re-express it
  * Spark-first as a DSv1 `Source`, the same architecture Delta Lake
  * uses for its streaming reads).
  *
  * Offsets are log versions: the first batch is the full snapshot as of
  * the stream's start version (unless `startingVersion` says otherwise),
  * and each subsequent batch is exactly the `dataChange = true` AddFiles
  * of the commit range `(lastVersion, thisVersion]`. Compactions and
  * clustering commits (`dataChange = false`) are invisible to the
  * stream, so OPTIMIZE-style maintenance never re-emits rows.
  *
  * Options:
  *  - `startingVersion`: number → emit changes from that version on (no
  *    initial snapshot); `"latest"` → only commits after stream start.
  *  - `ignoreDeletes`: tolerate DELETE commits (nothing is re-emitted:
  *    their AddFiles are copy-on-write rewrites of already-emitted
  *    surviving rows; deletions are not retracted downstream).
  *  - `ignoreChanges`: additionally tolerate update/merge rewrites; the
  *    rewritten files are re-emitted in full (downstream must be
  *    idempotent on the merge key — same contract as Delta).
  *  - `maxVersionsPerTrigger`: rate-limit a micro-batch to at most this
  *    many commits.
  *  - `maxFilesPerTrigger`: rate-limit a micro-batch to at most this
  *    many data files (at least one commit always flows).
  *  - `maxBytesPerTrigger`: rate-limit a micro-batch to approximately
  *    this many data-file bytes (soft cap, Delta semantics: at least
  *    one commit always flows). All limits govern INCREMENTAL batches;
  *    the initial-snapshot batch is one snapshot read and is never
  *    split (splitting it into per-commit change batches would replay
  *    row-level history).
  *
  * At scale this is log-metadata work only: planning a batch reads the
  * JSON actions of the commit range — never a table scan — and the data
  * files go through the same vectorized-parquet relation as batch reads.
  */
class VintageStreamSource(
    spark: SparkSession,
    tablePath: String,
    options: Map[String, String]) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val ignoreDeletes =
    options.get("ignoreDeletes").exists(_.toBoolean)
  private val ignoreChanges =
    options.get("ignoreChanges").exists(_.toBoolean)

  /** Streaming CHANGE-DATA-FEED mode (`readChangeFeed=true`, Delta's
    * option surface): every batch carries true row-level deltas —
    * `_change_type` (insert/delete) and `_commit_version` columns from
    * [[graft.vintage.VintageTable.changes]] — so deletes and updates
    * stream as retract/emit pairs instead of failing the query or
    * re-emitting whole files; `ignoreDeletes`/`ignoreChanges` are
    * irrelevant here. The initial batch (no startingVersion) is the
    * snapshot tagged as inserts, matching the batch CDF contract.
    */
  private val cdf = options.get("readChangeFeed").exists(_.toBoolean)
  private val maxVersionsPerTrigger =
    options.get("maxVersionsPerTrigger").map(_.toLong)
  private val maxFilesPerTrigger =
    options.get("maxFilesPerTrigger").map(_.toLong)
  private val maxBytesPerTrigger =
    options.get("maxBytesPerTrigger").map(_.toLong)

  /** Version *before* the first commit the stream should emit as a
    * change, or None → first batch is a full snapshot.
    * `startingTimestamp` (epoch millis or an ISO/SQL timestamp string)
    * resolves to the first version committed at or after it — Delta's
    * option of the same name.
    */
  private val changesFromExclusive: Option[Long] =
    (options.get("startingVersion"), options.get("startingTimestamp")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "specify either startingVersion or startingTimestamp, not both")
      case (Some("latest"), None) => Some(VintageLog.latestVersion(tablePath))
      case (Some(v), None)        => Some(v.toLong - 1)
      case (None, Some(ts)) =>
        // accepted forms (Delta's): epoch millis, SQL timestamp,
        // date-only, ISO instant
        val parsers: Seq[String => Long] = Seq(
          s => s.toLong,
          s => java.sql.Timestamp.valueOf(s).getTime,
          s => java.sql.Date.valueOf(s).getTime,
          s => java.time.Instant.parse(s).toEpochMilli)
        val millis = parsers.view.flatMap(p =>
          try Some(p(ts)) catch { case scala.util.control.NonFatal(_) => None })
          .headOption.getOrElse(throw new IllegalArgumentException(
            s"invalid startingTimestamp '$ts': use epoch millis, " +
            "'yyyy-MM-dd[ HH:mm:ss]', or an ISO instant"))
        // first version with commit timestamp >= ts → exclusive lower
        // bound is the newest version strictly before ts (or -1)
        Some(VintageLog.versionAtOrBefore(tablePath, millis, inclusive = false)
          .getOrElse(-1L))
      case (None, None) => None
    }

  // The stream is pinned to the schema at start; a mid-stream schema
  // change fails the query (restart picks up the new schema) — same
  // behavior as Delta's streaming source.
  private val tableSchema: StructType = VintageLog.replay(tablePath).schema
  override val schema: StructType =
    if (!cdf) tableSchema
    else StructType(tableSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType)))

  // Highest offset already handed out by getOffset, so the rate limit
  // is relative to what the stream has planned, not what it committed.
  @volatile private var plannedVersion: Long =
    changesFromExclusive.getOrElse(-1L)

  /** Terminal version captured by [[prepareForTriggerAvailableNow]]:
    * under `Trigger.AvailableNow` batches keep their per-trigger rate
    * caps but never plan past this point, and once planning reaches it
    * the offset stops advancing, which is what tells the engine the
    * backlog is drained and the query may stop. Without the native
    * admission-control interfaces, Spark's V1 `AvailableNowSourceWrapper`
    * would capture our CAPPED getOffset as the terminal offset and stop
    * after the FIRST rate-limited batch — the Delta source implements
    * exactly this trio (Source + SupportsAdmissionControl +
    * SupportsTriggerAvailableNow) for the same reason.
    */
  @volatile private var availableNowTerminal: Option[Long] = None

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowTerminal = Some(VintageLog.latestVersion(tablePath))
  }

  /** Admission-controlled planning (the engine calls this instead of
    * [[getOffset]] once SupportsAdmissionControl is implemented). The
    * `limit` parameter is unused: our rate caps come from the Delta-
    * shaped reader options, which this source applies itself.
    */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 =
    getOffset.orNull

  override def getOffset: Option[Offset] = {
    val trueLatest = VintageLog.latestVersion(tablePath)
    val latest = availableNowTerminal match {
      case Some(t) => math.min(trueLatest, t)
      case None    => trueLatest
    }
    if (latest < 0) return None
    // The INITIAL-SNAPSHOT batch (no startingVersion, nothing planned
    // yet) is never capped: it is one snapshot read however it is
    // bounded, and capping it at an earlier version would instead
    // REPLAY subsequent row-level commits as change batches — emitting
    // rows the snapshot would have excluded and tripping the
    // ignoreDeletes guard on histories that contain deletes. Rate
    // limits govern the incremental batches that follow.
    if (changesFromExclusive.isEmpty && plannedVersion < 0) {
      plannedVersion = latest
      return Some(LongOffset(latest))
    }
    val vCapped = maxVersionsPerTrigger match {
      case Some(n) => math.min(latest, plannedVersion + n)
      case None    => latest
    }
    // maxFilesPerTrigger (Delta's primary rate-limit knob): walk the
    // candidate commit range summing dataChange AddFiles — log-metadata
    // reads only — and stop before the version that would cross the
    // budget. Always admits at least one version, so an oversized
    // single commit still flows (same behavior as Delta).
    val capped = (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (None, None) => vCapped
      case (fileBudget, byteBudget) =>
        var v = plannedVersion
        var files = 0L
        var bytes = 0L
        var stop = false
        while (!stop && v < vCapped) {
          val adds = VintageLog.readVersion(tablePath, v + 1)
            .collect { case a: AddFile if a.dataChange => a }
          val n = adds.size
          val b = adds.map(_.size).sum
          val over = fileBudget.exists(files + n > _) ||
            byteBudget.exists(bytes + b > _)
          if (over && v > plannedVersion) stop = true
          else { v += 1; files += n; bytes += b }
        }
        v
    }
    if (capped > plannedVersion) plannedVersion = capped
    if (capped < 0) None else Some(LongOffset(capped))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = versionOf(end)
    // RESTART RECOVERY: the engine replays the last uncommitted batch
    // from its checkpoint by calling getBatch with the recovered
    // offsets before any getOffset planning. A rate-limited planner
    // that still thought plannedVersion = start-of-stream would then
    // hand out offsets BELOW the recovered end — regressing the
    // stream and re-emitting delivered versions. Clamp forward.
    if (endV > plannedVersion) plannedVersion = endV
    start.map(versionOf) match {
      case None =>
        changesFromExclusive match {
          case Some(from) =>
            if (cdf) cdfChanges(from, endV) else changes(from + 1, endV)
          case None =>
            if (cdf) cdfInitial(endV) else snapshotAt(endV)
        }
      case Some(s) =>
        if (cdf) cdfChanges(s, endV) else changes(s + 1, endV)
    }
  }

  /** CDF batch: row-level deltas of commits `(loExclusive, hi]` — the
    * batch change feed's diff plans, streaming-tagged. Planning work
    * is log metadata plus the per-version exceptAll diffs over exactly
    * the touched files.
    */
  private def cdfChanges(loExclusive: Long, hi: Long): DataFrame =
    toStreamingComputed(
      graft.vintage.VintageTable.forPath(spark, tablePath)
        .changes(loExclusive, hi))

  /** CDF initial batch: the start snapshot as `insert` changes at its
    * version — the same contract as batch CDF from version 0.
    */
  private def cdfInitial(v: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    toStreamingComputed(
      graft.vintage.VintageTable.forPath(spark, tablePath).toDFAsOf(v)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(v)))
  }

  private def toStreamingComputed(df: DataFrame): DataFrame =
    StreamingOps.ofComputedStreaming(spark,
      df.select(schema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col): _*))

  /** Full table contents as of version `v` (stream start). */
  private def snapshotAt(v: Long): DataFrame =
    toStreamingDF(VintageLog.replay(tablePath, Some(v)))

  /** The net-new rows of commits `[lo, hi]`: their dataChange AddFiles. */
  private def changes(lo: Long, hi: Long): DataFrame = {
    val adds = Seq.newBuilder[AddFile]
    (lo to hi).foreach { v =>
      val actions = VintageLog.readVersion(tablePath, v)
      val vAdds = actions.collect { case a: AddFile if a.dataChange => a }
      val vRemoves = actions.collect { case r: RemoveFile if r.dataChange => r }
      actions.collect { case m: Metadata => m }.foreach { m =>
        if (m.schema != schema)
          throw new IllegalStateException(
            s"schema of $tablePath changed at version $v; restart the stream " +
            s"to pick up the new schema")
      }
      // a RESTORE can replace a still-live path's entry (deletion-
      // vector state) with AddFiles only — no RemoveFile — which
      // re-emits the file's whole live row set and may retract rows;
      // route it through the same ignoreChanges gate as rewrites
      // instead of letting it pass as a plain append
      val silentReAdd = vRemoves.isEmpty && vAdds.nonEmpty && {
        val op = actions.collect { case c: CommitInfo => c.operation }
          .headOption.getOrElse("")
        op == "RESTORE" && {
          val prevLive = VintageLog.replay(tablePath, Some(v - 1))
            .files.map(_.path).toSet
          vAdds.exists(a => prevLive.contains(a.path))
        }
      }
      if (vRemoves.isEmpty && !silentReAdd) adds ++= vAdds
      else {
        // Removes present → a row-level op. The CommitInfo operation
        // disambiguates (finer than Delta's file-shape heuristic): a
        // DELETE's AddFiles are copy-on-write rewrites of *surviving*
        // rows — already emitted, so under ignoreDeletes we emit
        // nothing. UPDATE/MERGE/RESTORE AddFiles carry genuinely new
        // row values and re-emit whole files under ignoreChanges.
        val op = actions.collect { case c: CommitInfo => c.operation }
          .headOption.getOrElse("")
        val isDelete = op == "DELETE" || vAdds.isEmpty
        if (isDelete) {
          if (!(ignoreDeletes || ignoreChanges))
            throw new UnsupportedOperationException(
              s"version $v of $tablePath deletes rows; streaming reads of " +
              s"delete commits require option ignoreDeletes=true")
        } else {
          if (!ignoreChanges)
            throw new UnsupportedOperationException(
              s"version $v of $tablePath rewrites rows ($op); set " +
              s"ignoreChanges=true to stream rewritten files (rows re-emit " +
              s"in full — downstream must be idempotent on the merge key)")
          adds ++= vAdds
        }
      }
    }
    val snap = VintageLog.replay(tablePath, Some(hi))
    toStreamingDF(snap.copy(schema = schema, files = adds.result()))
  }

  private def toStreamingDF(snap: Snapshot): DataFrame = {
    val base = StreamingOps.ofRowsStreaming(spark,
      VintageRelation(spark, tablePath, snap.copy(schema = schema)))
    // deletion vectors: the initial snapshot (and a RESTORE-re-added
    // file) must not emit deleted positions — a stream-static broadcast
    // anti-join on (file, row_index), the same plan as batch `toDF` reads
    if (!graft.vintage.DeletionVectors.hasDvs(snap.files)) base
    else graft.vintage.DeletionVectors.applyTo(base, tablePath, snap.files,
      schema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col))
  }

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset       => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other               => other.json.trim.toLong
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"VintageStreamSource[$tablePath]"
}
