package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sdmx.Sdmx

/** Replays the reference's full 12-step choreography (golden counts
  * tabulated in SURVEY.md §5) against the synthetic submission fixture
  * in `src/test/resources/sdmx` (written by
  * `scripts/gen_sdmx_fixture.py`), asserting every expected count,
  * value and history row.
  */
class ChoreographySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val in = getClass.getResource("/sdmx").getPath
  private lazy val dir = Files.createTempDirectory("vintage-choreo").toString + "/exr"

  private def sub(i: Int, evolved: Boolean = false) =
    Sdmx.readSubmission(spark, s"$in/data.$i.csv", evolved)

  test("full choreography: counts, time travel, history, evolution") {
    // v0: initial load — 504 rows (README.md:64,100)
    val df0 = sub(0)
    assert(df0.count() == 504)
    val table = VintageTable.create(spark, dir, df0)
    assert(table.toDF.count() == 504)

    // v1: merge data.1 (+4 new months) -> 508 (README.md:105,133-137)
    table.as("master")
      .merge(sub(1).as("submission"), "master.KEY = submission.KEY")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    assert(table.toDF.count() == 508)

    // v2: merge data.2 (+254 CHF) -> 762 (README.md:141,159-162)
    table.as("master")
      .merge(sub(2).as("submission"), "master.KEY = submission.KEY")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    assert(table.toDF.count() == 762)

    // time travel to v0 -> 504 (README.md:169-173)
    assert(table.toDFAsOf(0).count() == 504)

    // v3: full replacement with data.3 -> 474 (README.md:177,195-196)
    table.overwrite(sub(3))
    assert(table.toDF.count() == 474)

    // time travel to v1 survives the overwrite -> 508 (README.md:199-204)
    assert(table.toDFAsOf(1).count() == 508)

    // v4: merge data.4 (forecasts, +3) -> 477; 2020-03 rows carry 'F'
    // (README.md:208,222-238)
    table.as("master")
      .merge(sub(4).as("submission"), "master.KEY = submission.KEY")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    assert(table.toDF.count() == 477)
    val mar20 = table.toDF.filter(col("TIME_PERIOD") === "2020-03")
    assert(mar20.count() == 3)
    assert(mar20.filter(col("OBS_STATUS") === "F").count() == 3)

    // v5: merge data.5 (final values, ±0) -> 477; 2020-03 no longer 'F',
    // CHF value updated (README.md:256-274; data ships 'A' not the
    // narrated 'N' — test against the data, SURVEY.md §5)
    val chfBefore = table.toDF
      .filter(col("KEY") === "M:CHF:EUR:SP00:A:2020-03")
      .select("OBS_VALUE").head().getDouble(0)
    table.as("master")
      .merge(sub(5).as("submission"), "master.KEY = submission.KEY")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    assert(table.toDF.count() == 477)
    val mar20b = table.toDF.filter(col("TIME_PERIOD") === "2020-03")
    assert(mar20b.filter(col("OBS_STATUS") === "F").count() == 0)
    val chfAfter = table.toDF
      .filter(col("KEY") === "M:CHF:EUR:SP00:A:2020-03")
      .select("OBS_VALUE").head().getDouble(0)
    assert(chfAfter != chfBefore, "final CHF value should differ from forecast")

    // v6: delete RUB (−159) -> 318 (README.md:276-283)
    table.delete("CURRENCY = 'RUB'")
    assert(table.toDF.count() == 318)

    // v7: update CHF DECIMALS -> 5; NOK stays 4 (README.md:287-298)
    table.update(col("CURRENCY") === "CHF", Map("DECIMALS" -> lit(5)))
    val decs = table.toDF.groupBy("CURRENCY")
      .agg(min("DECIMALS").as("mn"), max("DECIMALS").as("mx"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(decs("CHF") == (5, 5))
    assert(decs("NOK") == (4, 4))

    // history: 8 versions, ops W,M,M,W,M,M,D,U oldest-first
    // (README.md:304-319)
    val ops = table.history().orderBy("version")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("WRITE", "MERGE", "MERGE", "WRITE", "MERGE", "MERGE",
                      "DELETE", "UPDATE"))

    // v8: schema-evolving merge with data.6 (OBS_COM) — README.md:357-388
    spark.conf.set("spark.vintage.schema.autoMerge.enabled", "true")
    try {
      table.as("master")
        .merge(sub(6, evolved = true).as("submission"), "master.KEY = submission.KEY")
        .whenMatched().updateAll()
        .whenNotMatched().insertAll()
        .execute()
    } finally spark.conf.unset("spark.vintage.schema.autoMerge.enabled")
    assert(table.toDF.count() == 318)
    assert(table.toDF.columns.contains("OBS_COM"))
    val com = table.toDF
      .filter(col("KEY") === "M:CHF:EUR:SP00:A:2020-03")
      .select("OBS_COM").head().getString(0)
    assert(com == "Improved precision")
    // all other rows read OBS_COM as null (pre-evolution files)
    assert(table.toDF.filter(col("OBS_COM").isNotNull).count() == 1)
    // pre-evolution time travel must NOT show OBS_COM
    assert(!table.toDFAsOf(7).columns.contains("OBS_COM"))

    // compaction: dataChange=false keeps every version's row set
    // (README.md:403-412)
    val filesBefore = table.snapshot.files.size
    table.compact(2)
    assert(table.snapshot.files.size == 2)
    assert(table.toDF.count() == 318)
    assert(table.toDFAsOf(0).count() == 504)
    assert(table.toDFAsOf(8).count() == 318)

    // restore: back to v0 content as a new version (README.md:321)
    table.restoreToVersion(0)
    assert(table.toDF.count() == 504)
    assert(!table.toDF.columns.contains("OBS_COM"))

    // vacuum with retention 0: physically removes dead files; current
    // snapshot still readable (README.md:415)
    spark.conf.set("spark.vintage.retentionDurationCheck.enabled", "false")
    val removed =
      try table.vacuum(retentionHours = 0.0)
      finally spark.conf.unset("spark.vintage.retentionDurationCheck.enabled")
    assert(removed > 0)
    assert(table.toDF.count() == 504)
    info(s"choreography complete: $filesBefore files pre-compaction, $removed vacuumed")
  }
}
