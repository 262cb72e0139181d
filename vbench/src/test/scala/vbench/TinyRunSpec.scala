package vbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.vintage.VintageTable

/** Runs each workload's operations on a tiny table and checks the
  * model's counts against what the engine returns.
  */
class TinyRunSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = Files.createTempDirectory("vbench-spec")
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"$dir/spark-local")
    .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
    .config("spark.sql.extensions", "graft.vintage.connector.VintageSqlExtension")
    .config("spark.sql.catalog.vb", "graft.vintage.connector.VintageCatalog")
    .config("spark.sql.catalog.vb.warehouse", s"$dir/wh")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val shape = Shape(currencies = 3, exrTypes = 2, periods = 12, files = 2)

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def run(w: Workload, ops: Int): Unit = {
    w.createTable()
    w.build()
    w.ctx.timing = true
    (0 until ops).foreach(_ => w.step())
    w.ctx.timing = false
  }

  private def countsMatch(w: Workload): Unit = {
    val t = VintageTable.forPath(spark, w.path)
    (0L to w.model.version).foreach(v =>
      assert(t.toDFAsOf(v).count() == w.model.liveRows(v), s"live rows at version $v"))
    assert(t.history().count() == w.model.version + 1)
  }

  test("ingest_cow: every operation checks out and the model matches the table") {
    val ctx = new Ctx(spark, new Tracer(true))
    val w = new IngestCow(ctx, shape, 11, s"$dir/wh")
    run(w, IngestCow.cycle.size)
    assert(ctx.records.size == IngestCow.cycle.size)
    assert(ctx.records.forall(_.ok), ctx.records.flatMap(_.error))
    assert(w.verify().isEmpty)
    countsMatch(w)
    // traced: every commit was read back, DML spans were recorded
    assert(ctx.obs.commits.size == IngestCow.cycle.size)
    assert(ctx.tracer.spans.exists(_.name == "dml.exec"))
    // versions 0 to 20 cross the 10-commit checkpoint interval twice
    val log = new java.io.File(s"${w.path}/${graft.vintage.VintageLog.LogDirName}")
    assert(w.model.version == 20)
    assert(Main.checkpointVersions(log.list().toSeq) == Set(10L, 20L))
  }

  test("sql_mor_mixed: SQL DML with deletion vectors and OPTIMIZE match the model") {
    val ctx = new Ctx(spark, new Tracer(false))
    val w = new SqlMorMixed(ctx, shape, 13, s"$dir/wh", vintages = 20, optimizeEvery = 3)
    // six submissions: 6 x 4 operations, 3 history() and 2 OPTIMIZE
    run(w, 29)
    assert(w.model.version == 19 + 6 + 2)
    assert(ctx.records.map(_.kind).toSet == Set("sql_merge", "sql_delete", "sql_update",
      "current_lookup", "asof_lookup", "scan_agg", "history", "optimize"))
    assert(ctx.records.count(_.kind == "optimize") == 2)
    assert(ctx.records.forall(_.ok), ctx.records.flatMap(_.error))
    assert(w.verify().isEmpty)
    countsMatch(w)
  }

  test("a wrong answer counts as a failed operation") {
    val ctx = new Ctx(spark, new Tracer(false))
    ctx.timing = true
    ctx.op("probe")(1)(v => if (v == 2) None else Some(s"got $v"))
    assert(ctx.records.map(_.error) == Seq(Some("got 1")))
  }
}
