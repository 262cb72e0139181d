package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Row tracking: stable unique row ids — contiguous base ranges at
  * commit, survival through DV deletes, materialization through layout
  * rewrites, disjoint ranges under racing appends.
  */
class RowTrackingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Props = Map(
    RowTracking.EnabledProp -> "true",
    DeletionVectors.EnabledProp -> "true")

  private def newDir(): String =
    Files.createTempDirectory("vintage-rt").toString + "/t"

  private def ids(t: VintageTable): Map[Long, Long] =
    t.toDFWithRowIds.select("k", RowTracking.RowIdCol)
      .as[(Long, Long)].collect().toMap

  test("create + append assign contiguous disjoint ranges") {
    val dir = newDir()
    val t = VintageTable.create(spark,
      dir, (1L to 4L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), Props)
    val first = ids(t)
    assert(first.values.toSet == Set(0L, 1L, 2L, 3L),
      s"v0 ids are base 0 + row index: $first")
    t.append(Seq((5L, "v5"), (6L, "v6")).toDF("k", "v").coalesce(1))
    val all = ids(t)
    assert(all.size == 6 && all.values.toSet.size == 6, s"ids unique: $all")
    assert((all.keySet -- first.keySet).map(all).forall(_ >= 4L),
      "appended rows allocate past the mark")
    // the log carries the mark
    assert(t.snapshot.rowIdHwm == 6L)
    // protocol declares the writer feature
    assert(t.snapshot.protocol.writerFeatures.contains("rowTracking"))
  }

  test("DV delete and SQL-style update keep surviving ids") {
    val dir = newDir()
    val t = VintageTable.create(spark,
      dir, (1L to 6L).map(k => (k, k * 10)).toDF("k", "v").coalesce(1), Props)
    val before = ids(t)
    t.delete(col("k") === 3L)
    val after = ids(t)
    assert(after.keySet == before.keySet - 3L)
    assert(after.forall { case (k, id) => before(k) == id },
      "a merge-on-read delete must not move surviving ids")
  }

  test("OPTIMIZE materializes ids through the rewrite") {
    val dir = newDir()
    val t = VintageTable.create(spark,
      dir, (1L to 4L).map(k => (k, s"a$k")).toDF("k", "v").coalesce(2), Props)
    t.append(Seq((5L, "b5")).toDF("k", "v").coalesce(1))
    t.delete(col("k") === 2L) // a DV, so optimize rewrites that file too
    val before = ids(t)
    val rewritten = t.optimize(targetFileBytes = 1024L * 1024)
    assert(rewritten > 0, "small files must have been packed")
    val after = ids(t)
    assert(after == before,
      s"layout rewrite must preserve every row id: $before vs $after")
    // and the ids survive a SECOND rewrite (materialized -> materialized)
    t.compact(1)
    assert(ids(t) == before, "compaction of materialized ids keeps them")
    // normal reads never see the materialized column
    assert(!t.toDF.columns.contains(RowTracking.MaterializedCol))
  }

  test("racing appends get disjoint ranges") {
    val dir = newDir()
    VintageTable.create(spark, dir,
      spark.emptyDataset[(Long, String)].toDF("k", "v"), Props)
    val threads = (1 to 3).map { i =>
      new Thread(() => {
        val t = VintageTable.forPath(spark, dir)
        t.append(Seq((i * 10L, s"w$i"), (i * 10L + 1, s"w$i"))
          .toDF("k", "v").coalesce(1))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val t = VintageTable.forPath(spark, dir)
    val all = ids(t)
    assert(all.size == 6, s"all appends landed: $all")
    assert(all.values.toSet.size == 6,
      s"racing appends produced overlapping row ids: $all")
    assert(t.snapshot.rowIdHwm == 6L)
  }

  test("native SQL UPDATE and MERGE preserve surviving row ids") {
    val wh = Files.createTempDirectory("vintage-rt-sql").toString
    spark.conf.set("spark.sql.catalog.rtcat",
      "graft.vintage.connector.VintageCatalog")
    spark.conf.set("spark.sql.catalog.rtcat.warehouse", wh)
    spark.sql("""CREATE TABLE rtcat.t (k BIGINT, v BIGINT) TBLPROPERTIES (
      'vintage.rowTracking.enabled'='true',
      'vintage.deletionVectors.enabled'='true')""")
    spark.sql(
      "INSERT INTO rtcat.t VALUES (1,10),(2,20),(3,30),(4,40),(5,50),(6,60)")
    val t = VintageTable.forPath(spark, s"$wh/t")
    val before = ids(t)
    assert(before.size == 6 && before.values.toSet.size == 6)

    // SQL UPDATE through the WriteDelta plan: survivors keep their ids
    spark.sql("UPDATE rtcat.t SET v = v + 1 WHERE k <= 2")
    val afterUpdate = ids(t)
    assert(afterUpdate == before,
      s"SQL UPDATE moved row ids: $before vs $afterUpdate")
    assert(spark.sql("SELECT sum(v) FROM rtcat.t").head().getLong(0) == 212L)

    // SQL MERGE: matched rows keep ids, inserted rows allocate fresh
    spark.sql("""MERGE INTO rtcat.t t USING (
        SELECT * FROM VALUES (3L, 1000L), (99L, 990L) AS s(k, v)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    val afterMerge = ids(t)
    assert(afterMerge.size == 7 && afterMerge.values.toSet.size == 7)
    assert(before.forall { case (k, id) => afterMerge(k) == id },
      s"SQL MERGE moved surviving row ids: $before vs $afterMerge")
    assert(afterMerge(99L) >= 6L, "merge-inserted row allocates past the mark")

    // a second SQL UPDATE over already-materialized ids keeps them too
    spark.sql("UPDATE rtcat.t SET v = v * 2 WHERE k IN (1, 99)")
    assert(ids(t) == afterMerge,
      "materialized ids survive a second SQL rewrite")
    spark.sql("DROP TABLE rtcat.t")
  }

  test("SQL _vintage_row_id equals toDFWithRowIds, -1 for rows without an id") {
    val dir = newDir()
    // rows written before tracking was enabled have no id
    val t = VintageTable.create(spark, dir,
      (1L to 4L).map(k => (k, s"a$k")).toDF("k", "v").coalesce(1),
      Map(DeletionVectors.EnabledProp -> "true"))
    t.setProperties(Map(RowTracking.EnabledProp -> "true"))
    t.append((5L to 8L).map(k => (k, s"b$k")).toDF("k", "v").coalesce(1))
    t.append((9L to 12L).map(k => (k, s"c$k")).toDF("k", "v").coalesce(1))
    t.delete(col("k") === 10L)
    // only the DV file rewrites: its ids materialize, the others stay
    // base + row index
    assert(t.optimize(targetFileBytes = 1024L * 1024, minFileBytes = 0L) == 1L)
    t.delete(col("k") === 2L || col("k") === 6L)
    val want = t.toDFWithRowIds.select("k", RowTracking.RowIdCol)
      .as[(Long, Option[Long])].collect()
      .map { case (k, id) => k -> id.getOrElse(-1L) }.toMap
    assert(want.keySet == Set(1L, 3L, 4L, 5L, 7L, 8L, 9L, 11L, 12L))
    assert(want.filter(_._2 == -1L).keySet == Set(1L, 3L, 4L))
    val wh = new java.io.File(dir).getParent
    spark.conf.set("spark.sql.catalog.rtids",
      "graft.vintage.connector.VintageCatalog")
    spark.conf.set("spark.sql.catalog.rtids.warehouse", wh)
    try {
      val got = spark.sql("SELECT k, _vintage_row_id FROM rtids.t")
        .as[(Long, Long)].collect().toMap
      assert(got == want)
      // one merge file holds an updated row (materialized id) and an
      // inserted one (null there, base + index): a row-id predicate
      // must find both, so it never reaches the parquet reader
      t.as("m").merge(Seq((5L, "u5"), (13L, "d13")).toDF("k", "v")
          .coalesce(1).as("s"), "m.k = s.k")
        .whenMatched().updateAll().whenNotMatched().insertAll().execute()
      val merged = t.toDFWithRowIds.select("k", RowTracking.RowIdCol)
        .as[(Long, Option[Long])].collect().toMap
      Seq(5L, 13L).foreach { k =>
        assert(spark.sql(
          s"SELECT k FROM rtids.t WHERE _vintage_row_id = ${merged(k).get}")
          .as[Long].collect().toSeq == Seq(k), s"row-id lookup of $k")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.rtids")
      spark.conf.unset("spark.sql.catalog.rtids.warehouse")
    }
  }

  test("checkpoint and restore preserve the mark and the ids") {
    val dir = newDir()
    val t = VintageTable.create(spark,
      dir, Seq((1L, "a")).toDF("k", "v"), Props)
    (2 to 12).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("k", "v")
      .coalesce(1))) // crosses the checkpoint interval
    VintageLog.clearSnapshotCache()
    val hwm = t.snapshot.rowIdHwm
    assert(hwm == 12L, s"mark must survive checkpoint replay, got $hwm")
    val before = ids(t)
    t.restoreToVersion(5)
    val restored = ids(t)
    assert(restored.forall { case (k, id) => before(k) == id },
      "restore re-adds the old files with their old base ids")
    // the mark never regresses: new appends stay unique vs pre-restore
    t.append(Seq((99L, "z")).toDF("k", "v").coalesce(1))
    val now = ids(t)
    assert(now.values.toSet.size == now.size)
    assert(now(99L) >= hwm, "post-restore allocation continues past the mark")
  }
}
