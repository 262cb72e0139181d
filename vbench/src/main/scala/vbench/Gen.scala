package vbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}

/** Table shape: `currencies x exrTypes` monthly series, `periods`
  * months in the initial load, written range-sorted on TIME_PERIOD into
  * `files` files.
  */
final case class Shape(currencies: Int, exrTypes: Int, periods: Int, files: Int) {
  require(currencies <= 676 && exrTypes <= Gen.ExrTypes.size)
  def series: Int = currencies * exrTypes
  def rows: Long = series.toLong * periods
}

/** One observation cell's state: its revision and OBS_STATUS. */
final case class Cell(rev: Int, status: String)

/** Deterministic SDMX exchange-rate observations. Every value is a
  * function of (series, period, revision) alone, so the in-process
  * [[Model]] knows the exact `OBS_VALUE` of every cell it wrote.
  * Values are whole multiples of 1/64 below 2^14, so every sum over a
  * few million of them is exact in a double, whatever the order.
  */
object Gen {
  val ExrTypes: IndexedSeq[String] = IndexedSeq("SP00", "EN00", "SPAV", "ENAV")

  /** The SDMX submission schema (the engine's declared one) plus KEY. */
  val schema: StructType = graft.sdmx.Sdmx.schema.add("KEY", StringType, nullable = false)

  def currency(c: Int): String = s"Q${('A' + c / 26).toChar}${('A' + c % 26).toChar}"

  /** Month `p` counted from 1990-01, as `YYYY-MM` (sorts as it reads). */
  def period(p: Int): String = f"${1990 + p / 12}%04d-${p % 12 + 1}%02d"

  def valueUnits(sid: Int, pid: Int, rev: Int): Long =
    (sid.toLong * 7919 + pid.toLong * 104729 + rev.toLong * 1299709 + 17) % 999983 + 64

  def value(sid: Int, pid: Int, rev: Int): Double = valueUnits(sid, pid, rev) / 64.0

  def row(shape: Shape, sid: Int, pid: Int, cell: Cell): Row = {
    val cur = currency(sid / shape.exrTypes)
    val typ = ExrTypes(sid % shape.exrTypes)
    val per = period(pid)
    Row("M", cur, "EUR", typ, "A", per, value(sid, pid, cell.rev), cell.status,
      "A", 4, s"$cur/EUR $typ", cur, "0", s"M:$cur:EUR:$typ:A:$per")
  }

  /** A submission as a local relation. */
  def frame(spark: SparkSession, shape: Shape,
            cells: Iterable[((Int, Int), Cell)]): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    cells.foreach { case ((sid, pid), c) => rows.add(row(shape, sid, pid, c)) }
    spark.createDataFrame(rows, schema)
  }

  /** A full load, cut in order into `slices` contiguous partitions, so
    * cells given in period order are written range-sorted on
    * TIME_PERIOD, one file per slice.
    */
  def slicedFrame(spark: SparkSession, shape: Shape,
                  cells: Seq[((Int, Int), Cell)], slices: Int): DataFrame = {
    val rows = cells.map { case ((sid, pid), c) => row(shape, sid, pid, c) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
  }

  /** SQL predicate selecting one series' periods in [fromPid, toPid). */
  def seriesRange(shape: Shape, sid: Int, fromPid: Int, toPid: Int): String =
    s"CURRENCY = '${currency(sid / shape.exrTypes)}' AND " +
    s"EXR_TYPE = '${ExrTypes(sid % shape.exrTypes)}' AND " +
    s"TIME_PERIOD >= '${period(fromPid)}' AND TIME_PERIOD < '${period(toPid)}'"

  /** SQL predicate selecting exactly one cell by its dimensions. */
  def cellPredicate(shape: Shape, sid: Int, pid: Int): String =
    s"CURRENCY = '${currency(sid / shape.exrTypes)}' AND " +
    s"EXR_TYPE = '${ExrTypes(sid % shape.exrTypes)}' AND TIME_PERIOD = '${period(pid)}'"
}

/** A submission message, as the generator draws it. */
sealed trait Submission
/** Next period for every series, plus revisions of a few past cells. */
final case class Merge(newPid: Int, revised: Seq[(Int, Int)]) extends Submission
/** One series' periods in [fromPid, toPid). */
final case class Delete(sid: Int, fromPid: Int, toPid: Int) extends Submission
final case class Update(sid: Int, fromPid: Int, toPid: Int, status: String) extends Submission
/** Full replacement: every series over the periods [fromPid, toPid). */
final case class Replace(fromPid: Int, toPid: Int) extends Submission

/** Draws submissions from a seed. Kinds repeat a fixed cycle, so runs
  * of equal length have the same mix in the same order; the seed picks
  * the series, periods and statuses.
  */
final class SubmissionGen(shape: Shape, seed: Long, cycle: Seq[String]) {
  private val rnd = new scala.util.Random(seed)
  private var i = 0

  def nextKind(): String = {
    val k = cycle(i % cycle.size)
    i += 1
    k
  }

  def draw(kind: String, model: Model): Submission = {
    val (lo, hi) = (model.loPid, model.hiPid)
    // past periods: the older half of the window, so changes land in
    // the early, range-sorted files and not in the freshest ones
    def oldPid(): Int = lo + rnd.nextInt(math.max(1, (hi - lo) / 2))
    kind match {
      case "merge" =>
        val revised = (0 until 2).flatMap { _ =>
          val p = oldPid()
          Seq.fill(8)(rnd.nextInt(shape.series)).distinct.map(s => (s, p))
        }.distinct
        Merge(hi, revised)
      case "delete" =>
        val a = oldPid(); Delete(rnd.nextInt(shape.series), a, a + 6)
      case "update" =>
        val a = oldPid()
        Update(rnd.nextInt(shape.series), a, a + 12, Seq("E", "P", "A")(rnd.nextInt(3)))
      case "replace" => Replace(hi - shape.periods, hi)
    }
  }

  def uniform(n: Int): Int = rnd.nextInt(n)
  def uniformLong(n: Long): Long = (rnd.nextDouble() * n).toLong.min(n - 1)
}

/** The exact expected state of a table, kept in process: the cells of
  * every version, so any lookup, as-of lookup, aggregate or history
  * row count can be checked.
  */
final class Model(val shape: Shape) {
  private def k(sid: Int, pid: Int): Long = (sid.toLong << 32) | pid
  private val current = mutable.HashMap.empty[Long, Cell]
  // per cell, (version, state) in version order; None = deleted
  private val history = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Option[Cell])]]
  private val lastRev = mutable.HashMap.empty[Long, Int]
  private val live = mutable.ArrayBuffer.empty[Long]
  private val his = mutable.ArrayBuffer.empty[Int]
  private var lo = 0
  private var hi = 0

  def version: Long = live.size - 1L
  def liveRows(v: Long): Long = live(v.toInt)
  def liveRows: Long = current.size.toLong
  def loPid: Int = lo
  def hiPid: Int = hi
  /** One past the newest period present at version `v`. */
  def hiPidAt(v: Long): Int = his(v.toInt)

  def get(sid: Int, pid: Int): Option[Cell] = current.get(k(sid, pid))

  def at(sid: Int, pid: Int, v: Long): Option[Cell] =
    history.get(k(sid, pid)).flatMap { h =>
      // the last entry at or before v
      var i = h.size - 1
      while (i >= 0 && h(i)._1 > v) i -= 1
      if (i < 0) None else h(i)._2
    }

  /** Cells a submission writes, in the order the frame holds them. */
  def cellsFor(s: Submission): Seq[((Int, Int), Cell)] = s match {
    case Merge(np, revised) =>
      (0 until shape.series).map(sid => (sid, np) -> Cell(nextRev(sid, np), "A")) ++
        revised.map { case (sid, p) => (sid, p) -> Cell(nextRev(sid, p), "A") }
    case Replace(a, b) =>
      for (p <- a until b; sid <- 0 until shape.series)
        yield (sid, p) -> Cell(nextRev(sid, p), "A")
    case _ => Nil
  }

  private def nextRev(sid: Int, pid: Int): Int = lastRev.get(k(sid, pid)).fold(0)(_ + 1)

  /** Apply a committed submission as one new version; returns the
    * number of rows it changed (inserted, updated or deleted).
    */
  def apply(s: Submission): Long = {
    val v = version + 1
    var changed = 0L
    def put(sid: Int, pid: Int, c: Option[Cell]): Unit = {
      val key = k(sid, pid)
      c match {
        case Some(cell) =>
          current(key) = cell
          lastRev(key) = cell.rev
        case None => current.remove(key)
      }
      history.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += (v -> c)
      changed += 1
    }
    s match {
      case m: Merge =>
        cellsFor(m).foreach { case ((sid, p), c) => put(sid, p, Some(c)) }
        hi = math.max(hi, m.newPid + 1)
      case Delete(sid, a, b) =>
        (a until b).foreach(p => if (get(sid, p).isDefined) put(sid, p, None))
      case Update(sid, a, b, st) =>
        (a until b).foreach(p => get(sid, p).foreach(c => put(sid, p, Some(c.copy(status = st)))))
      case r @ Replace(a, b) =>
        val fresh = cellsFor(r)
        val keep = fresh.map { case ((sid, p), _) => k(sid, p) }.toSet
        current.keys.toList.filterNot(keep).foreach(key =>
          put((key >>> 32).toInt, key.toInt, None))
        fresh.foreach { case ((sid, p), c) => put(sid, p, Some(c)) }
        lo = a; hi = b
    }
    live += current.size.toLong
    his += hi
    changed
  }

  /** A version that changed nothing the model tracks (OPTIMIZE). */
  def noChange(): Unit = { live += current.size.toLong; his += hi }

  /** Current live rows and value sum (in 1/64 units) per currency. */
  def byCurrency: Map[String, (Long, Long)] = {
    val acc = mutable.HashMap.empty[String, (Long, Long)]
    current.foreach { case (key, c) =>
      val sid = (key >>> 32).toInt
      val pid = key.toInt
      val cur = Gen.currency(sid / shape.exrTypes)
      val (n, s) = acc.getOrElse(cur, (0L, 0L))
      acc(cur) = (n + 1, s + Gen.valueUnits(sid, pid, c.rev))
    }
    acc.toMap
  }
}
