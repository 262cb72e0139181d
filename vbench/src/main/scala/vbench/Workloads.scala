package vbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.graftshim.ColumnExpr

import graft.vintage.{Snapshot, SnapshotPruning, VintageLog, VintageTable}

/** A workload: a table set up from the generator, then a closed loop
  * of operations drawn from the seed by one client thread.
  */
abstract class Workload(val ctx: Ctx, val shape: Shape, val seed: Long, val warehouse: String) {
  def name: String
  def properties: Map[String, String] = Map.empty
  /** Untimed operations run after set-up, before timing starts. */
  def warmupOps: Int
  /** Perform one operation of the timed mix (or one group of them). */
  def step(): Unit

  protected val spark = ctx.spark
  var model: Model = _
  var tableName: String = _
  def path: String = s"$warehouse/$tableName"
  def table: VintageTable = VintageTable.forPath(spark, path)
  protected def sqlName: String = s"vb.$tableName"

  /** Create the table from the initial load: every series over
    * `shape.periods` months, range-sorted on TIME_PERIOD into
    * `shape.files` files.
    */
  def createTable(): Unit = {
    tableName = name
    model = new Model(shape)
    val init = Replace(0, shape.periods)
    VintageTable.create(spark, path, source(init), properties)
    model.apply(init)
  }

  /** Set-up work after the table exists (history building). */
  def build(): Unit = ()

  def deleteDir(p: String): Unit = {
    val hp = new Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
  }

  // ------------------------------------------------------------ helpers

  /** A submission's source frame: a full load (initial or replacement)
    * in `shape.files` range-sorted slices, any other message as one
    * single-partition local relation.
    */
  protected def source(s: Submission): DataFrame = s match {
    case _: Replace => Gen.slicedFrame(spark, shape, model.cellsFor(s), shape.files)
    case _ => Gen.frame(spark, shape, model.cellsFor(s)).coalesce(1)
  }

  protected def predicate(s: Submission): Option[String] = s match {
    case Delete(sid, a, b) => Some(Gen.seriesRange(shape, sid, a, b))
    case Update(sid, a, b, _) => Some(Gen.seriesRange(shape, sid, a, b))
    case _ => None
  }

  /** Traced: the log layer's snapshot and listing calls. */
  protected def logCalls(version: Option[Long]): Snapshot = {
    val t = table
    val snap = ctx.tracer.span("log.snapshot")(version.fold(t.snapshot)(t.snapshotAt))
    ctx.tracer.span("log.list")(VintageLog.latestVersion(path))
    snap
  }

  /** Traced: the skipping layer's file pruning for a predicate. */
  protected def skipCall(snap: Snapshot, pred: String): Unit = {
    val cond = ColumnExpr.expr(expr(pred))
    val cands = ctx.tracer.span("skip.plan")(SnapshotPruning.candidates(spark, snap, cond))
    ctx.obs.skip += ((snap.statFiles.size.toLong, cands.size.toLong))
  }

  protected def versionCheck(): Option[String] = {
    val v = VintageLog.latestVersion(path)
    if (v == model.version) None else Some(s"table at version $v, model at ${model.version}")
  }

  /** Apply a submission through the programmatic API. */
  protected def writeApi(s: Submission, kind: String): Unit = {
    val src = s match {
      case _: Merge | _: Replace => source(s)
      case _ => null
    }
    ctx.op(kind) {
      val t = table
      ctx.whenTraced {
        val snap = logCalls(None)
        predicate(s).foreach(skipCall(snap, _))
      }
      s match {
        case _: Merge =>
          ctx.tracer.span("dml.exec")(t.as("m").merge(src.as("s"), "m.KEY = s.KEY")
            .whenMatched().updateAll().whenNotMatched().insertAll().execute())
        case d: Delete =>
          ctx.tracer.span("dml.exec")(t.delete(predicate(d).get))
        case u: Update =>
          ctx.tracer.span("dml.exec")(t.update(expr(predicate(u).get),
            Map("OBS_STATUS" -> lit(u.status))))
        case _: Replace =>
          ctx.tracer.span("write.overwrite")(t.overwrite(src))
      }
    } { _ =>
      val changed = model.apply(s)
      ctx.observeCommit(path, model.version, dml = kind != "replace", changed)
      versionCheck()
    }
  }

  /** A SQL statement, eagerly run for commands, with its analysis span. */
  protected def sql(text: String): DataFrame = {
    val t0 = System.nanoTime()
    val df = spark.sql(text)
    ctx.recordAnalysis(df, t0)
    df
  }

  /** Look up one cell, at the latest version or as of `version`. */
  protected def lookup(kind: String, sid: Int, pid: Int, version: Option[Long]): Unit = {
    val pred = Gen.cellPredicate(shape, sid, pid)
    val asOf = version.fold("")(v => s" VERSION AS OF $v")
    val text = s"SELECT OBS_VALUE, OBS_STATUS FROM $sqlName$asOf WHERE $pred"
    val expected = version.fold(model.get(sid, pid))(v => model.at(sid, pid, v))
    ctx.op(kind) {
      ctx.whenTraced {
        val snap = logCalls(version)
        skipCall(snap, pred)
        observeScan(snap, expected.size.toLong)
      }
      ctx.tracer.span("scan.exec")(sql(text).collect())
    } { rows =>
      val got = rows.map(r => (r.getDouble(0), r.getString(1))).toSeq
      val want = expected.map(c => (Gen.value(sid, pid, c.rev), c.status)).toSeq
      if (got == want) None
      else Some(s"$kind ${Gen.period(pid)} s$sid v${version.getOrElse("latest")}: got $got want $want")
    }
  }

  private var aggMemo: (Long, Map[String, (Long, Long)]) = (-1L, Map.empty)

  /** Count and sum of OBS_VALUE by CURRENCY over the latest version. */
  protected def scanAgg(): Unit = {
    if (aggMemo._1 != model.version) aggMemo = (model.version, model.byCurrency)
    val want = aggMemo._2
    ctx.op("scan_agg") {
      ctx.whenTraced(observeScan(logCalls(None), model.liveRows))
      ctx.tracer.span("scan.exec")(sql(
        s"SELECT CURRENCY, count(*), sum(OBS_VALUE) FROM $sqlName GROUP BY CURRENCY").collect())
    } { rows => aggCheck(rows, want) }
  }

  protected def aggCheck(rows: Array[Row], want: Map[String, (Long, Long)]): Option[String] = {
    val got = rows.map(r => r.getString(0) -> (r.getLong(1), math.round(r.getDouble(2) * 64))).toMap
    val exact = rows.forall(r => r.getDouble(2) * 64 == math.rint(r.getDouble(2) * 64))
    if (got == want && exact) None
    else Some(s"scan_agg: ${(got.toSet diff want.toSet).take(3)} vs ${(want.toSet diff got.toSet).take(3)}")
  }

  private def observeScan(snap: Snapshot, matched: Long): Unit = {
    ctx.obs.reads += ((ctx.currentOp, matched))
    ctx.obs.dv += ((snap.files.count(_.hasDv).toLong, snap.files.map(_.dvCount).sum))
  }

  /** The table's version history, row count checked. */
  protected def history(): Unit =
    ctx.op("history") {
      ctx.tracer.span("log.history")(table.history().count())
    } { n =>
      if (n == model.version + 1) None else Some(s"history: $n rows, model ${model.version + 1}")
    }

  /** Untimed end-of-run check of the whole table against the model:
    * the current aggregate, the history length and the live row count
    * of five versions spread over the table's life.
    */
  def verify(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    errs ++= aggCheck(spark.sql(
      s"SELECT CURRENCY, count(*), sum(OBS_VALUE) FROM $sqlName GROUP BY CURRENCY").collect(),
      model.byCurrency)
    val h = table.history().count()
    if (h != model.version + 1) errs += s"history: $h rows, model ${model.version + 1}"
    val vs = (0 to 4).map(i => model.version * i / 4).distinct
    vs.foreach { v =>
      val n = spark.sql(s"SELECT count(*) FROM $sqlName VERSION AS OF $v").head().getLong(0)
      if (n != model.liveRows(v)) errs += s"version $v: $n live rows, model ${model.liveRows(v)}"
    }
    errs.toSeq
  }

  /** Bytes under the table directory per byte of live data files. */
  def bytesStoredPerLiveByte(): Double = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stored = fs.getContentSummary(hp).getLength.toDouble
    stored / table.snapshot.files.map(_.size).sum.max(1L)
  }

  def sizes: Map[String, Any] = {
    val snap = table.snapshot
    Map("rows_initial" -> shape.rows, "series" -> shape.series, "periods" -> shape.periods,
      "files_initial" -> shape.files, "rows_live" -> model.liveRows,
      "files_live" -> snap.files.size, "vintages" -> (model.version + 1),
      "snapshot_cache_entries" -> 16)
  }
}

/** Copy-on-write ingest through the programmatic API. */
final class IngestCow(c: Ctx, sh: Shape, sd: Long, wh: String) extends Workload(c, sh, sd, wh) {
  val name = "ingest_cow"
  val warmupOps = 6
  private lazy val gen = new SubmissionGen(shape, seed, IngestCow.cycle)
  def step(): Unit = {
    val kind = gen.nextKind()
    writeApi(gen.draw(kind, model), kind)
  }
}

object IngestCow {
  /** 60% merge, 15% delete, 15% update, 10% full replacement. */
  val cycle: Seq[String] = Seq("merge", "delete", "merge", "update", "merge", "replace",
    "merge", "merge", "delete", "merge", "update", "merge", "merge", "delete", "merge",
    "update", "merge", "replace", "merge", "merge")
}

/** SQL on a deletion-vector table (merge-on-read): MERGE INTO, DELETE
  * FROM and UPDATE, each followed by a current lookup of a cell it
  * touched, an as-of lookup at a uniformly random past vintage and an
  * aggregate of the new vintage, with `history()` every other
  * submission and SQL OPTIMIZE every `optimizeEvery`. Set-up builds
  * `vintages` versions through SQL, so as-of lookups spread over more
  * versions than the engine's 16-entry snapshot cache holds.
  */
final class SqlMorMixed(c: Ctx, sh: Shape, sd: Long, wh: String, vintages: Int,
    optimizeEvery: Int) extends Workload(c, sh, sd, wh) {
  val name = "sql_mor_mixed"
  override val properties = Map("vintage.deletionVectors.enabled" -> "true")
  /** Three submissions with their reads, one `history()` and one OPTIMIZE. */
  val warmupOps = 14
  private lazy val gen = new SubmissionGen(shape, seed, SqlMorMixed.cycle)
  private var submissions = 0
  // operations of the current submission still to run: one per step, so
  // timing can stop between any two operations
  private val pending = mutable.Queue.empty[() => Unit]

  /** History: new-period messages inserted, with a revision merge in
    * every four versions.
    */
  override def build(): Unit = {
    val hist = new SubmissionGen(shape, seed ^ 0x5eedL, SqlMorMixed.historyCycle)
    while (model.version + 1 < vintages) {
      val kind = hist.nextKind()
      val s = if (kind == "insert") Merge(model.hiPid, Nil) else hist.draw(kind, model)
      submit(s, s"sql_$kind")
    }
  }

  def step(): Unit = {
    if (pending.isEmpty) plan()
    pending.dequeue()()
  }

  /** Queue the next submission and the reads that follow it. */
  private def plan(): Unit = {
    val kind = gen.nextKind()
    val s = gen.draw(kind, model)
    // a cell the submission touches, read back from the new vintage
    val (sid, pid) = s match {
      case Merge(np, revised) =>
        if (revised.nonEmpty && gen.uniform(2) == 0) revised(gen.uniform(revised.size))
        else (gen.uniform(shape.series), np)
      case Delete(sid, a, b) => (sid, a + gen.uniform(b - a))
      case Update(sid, a, b, _) => (sid, a + gen.uniform(b - a))
      case r: Replace => sys.error(s"no SQL full replacement: $r")
    }
    // any vintage before the submission's
    val v = gen.uniformLong(model.version + 1)
    val (asid, apid) = (gen.uniform(shape.series), gen.uniform(model.hiPidAt(v)))
    submissions += 1
    pending += (() => submit(s, s"sql_$kind"))
    pending += (() => lookup("current_lookup", sid, pid, None))
    pending += (() => lookup("asof_lookup", asid, apid, Some(v)))
    pending += (() => scanAgg())
    if (submissions % 2 == 0) pending += (() => history())
    if (submissions % optimizeEvery == 0) pending += (() => optimize())
  }

  private def submit(s: Submission, kind: String): Unit = {
    val text = s match {
      case _: Merge if kind == "sql_insert" =>
        source(s).createOrReplaceTempView("submission")
        s"INSERT INTO $sqlName SELECT * FROM submission"
      case _: Merge =>
        source(s).createOrReplaceTempView("submission")
        s"MERGE INTO $sqlName t USING submission s ON t.KEY = s.KEY " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
      case d: Delete => s"DELETE FROM $sqlName WHERE ${predicate(d).get}"
      case u: Update => s"UPDATE $sqlName SET OBS_STATUS = '${u.status}' WHERE ${predicate(u).get}"
      case r: Replace => sys.error(s"no SQL full replacement: $r")
    }
    ctx.op(kind) {
      ctx.whenTraced {
        val snap = logCalls(None)
        predicate(s).foreach(skipCall(snap, _))
      }
      ctx.tracer.span("dml.exec")(sql(text))
    } { _ =>
      val changed = model.apply(s)
      ctx.observeCommit(path, model.version, dml = kind != "sql_insert", changed)
      versionCheck()
    }
  }

  private def optimize(): Unit = {
    var purged = 0L
    ctx.op("optimize") {
      ctx.whenTraced { purged = logCalls(None).files.map(_.dvCount).sum }
      ctx.tracer.span("maint.compact")(sql(s"OPTIMIZE $sqlName").collect())
    } { _ =>
      model.noChange()
      if (ctx.traced && ctx.timing) ctx.obs.compactions += ((table.snapshot.files.size.toLong, purged))
      versionCheck()
    }
  }
}

object SqlMorMixed {
  /** 60% MERGE INTO, 20% DELETE FROM, 20% UPDATE. */
  val cycle: Seq[String] = Seq("merge", "delete", "merge", "update", "merge", "merge",
    "delete", "merge", "update", "merge")
  val historyCycle: Seq[String] = Seq("insert", "insert", "insert", "merge")
}
