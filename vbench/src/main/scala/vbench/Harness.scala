package vbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.vintage.{AddFile, RemoveFile, VintageLog}

final case class OpRecord(id: Long, kind: String, latencyNs: Long, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** What one commit did, read back from its log entry. */
final case class CommitObs(dml: Boolean, filesAdded: Long, bytesAdded: Long,
    rowsAdded: Long, filesRemoved: Long, dvAdded: Long, changedRows: Long)

/** Raw per-layer observations of the timed, traced operations. */
final class LayerObs {
  val skip = mutable.ArrayBuffer.empty[(Long, Long)]      // (files total, candidates)
  val reads = mutable.ArrayBuffer.empty[(Long, Long)]     // (op id, rows its predicate matches)
  val dv = mutable.ArrayBuffer.empty[(Long, Long)]        // per read: (files with DV, DV rows)
  val commits = mutable.ArrayBuffer.empty[CommitObs]
  val compactions = mutable.ArrayBuffer.empty[(Long, Long)] // (files after, DV rows purged)
  val gcMs = mutable.ArrayBuffer.empty[Long]
  val cached = mutable.ArrayBuffer.empty[Long]
}

/** Runs operations for a workload: times each call, and when tracing
  * also records spans, job groups, GC time and cached bytes per op.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  var obs = new LayerObs
  private var nextOp = 0L
  var timing = false
  def traced: Boolean = tracer.enabled
  def currentOp: Long = nextOp - 1

  /** Run only when tracing: the benchmark's extra calls into a layer. */
  def whenTraced(body: => Unit): Unit = if (traced) body

  /** One operation: `call` is timed (in the op's root span), `check`
    * compares its result with the model and returns an error, if any.
    */
  def op[A](kind: String)(call: => A)(check: A => Option[String]): Unit = {
    val id = nextOp
    nextOp += 1
    tracer.beginOp(id)
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    val gc0 = if (traced) Jvm.gcMillis else 0L
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.span(kind)(call))
      catch { case e: Exception => Left(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
    val lat = System.nanoTime() - t0
    if (traced) {
      sc.clearJobGroup()
      if (timing) {
        obs.gcMs += Jvm.gcMillis - gc0
        obs.cached += Jvm.cachedBytes(sc)
      }
    }
    val err = res match {
      case Left(e) => Some(e)
      case Right(v) =>
        try check(v)
        catch { case e: Exception => Some(s"$kind check: ${e.getMessage}".take(400)) }
    }
    if (timing) records += OpRecord(id, kind, lat, err)
    else err.foreach(e => throw new IllegalStateException(s"untimed $kind failed: $e"))
  }

  /** Read back commit `v` of `path` and record what it wrote. */
  def observeCommit(path: String, v: Long, dml: Boolean, changedRows: Long): Unit =
    if (traced && timing) {
      val acts = tracer.span("log.read_version")(VintageLog.readVersion(path, v))
      val adds = acts.collect { case a: AddFile => a }
      val removed = acts.collect { case r: RemoveFile => r.path }.toSet
      val (readded, fresh) = adds.partition(a => removed.contains(a.path))
      obs.commits += CommitObs(dml, fresh.size.toLong, fresh.map(_.size).sum,
        fresh.flatMap(_.numRecords).sum, (removed -- readded.map(_.path)).size.toLong,
        readded.count(_.hasDv).toLong, changedRows)
    }

  /** The engine's own parse and analysis time for `df`, recorded as a
    * `sql.analyze` child of the open span, ending at `start` + its length.
    */
  def recordAnalysis(df: DataFrame, start: Long): Unit =
    if (traced) {
      val ph = df.queryExecution.tracker.phases
      val ms = Seq("parsing", "analysis").flatMap(ph.get).map(_.durationMs).sum
      tracer.record("sql.analyze", start, start + ms * 1000000L)
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` at q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail: the highest percentile that still has at least ten
    * samples above it — the 11th-largest sample — with that
    * percentile. None under 21 samples, where it would not lie above
    * the median.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 21) None
    else {
      val s = xs.sorted
      val i = s.size - 11
      Some((s(i), 100.0 * i / (s.size - 1)))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
