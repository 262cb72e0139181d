package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sdmx.Sdmx

/** The reference's user surface is `spark.read.format(...)` /
  * `df.write.format(...)` (README.md:92,98,169). This spec replays the
  * choreography through `format("vintage")` and checks that the scan
  * path stat-prunes files.
  */
class ConnectorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val in = getClass.getResource("/sdmx").getPath

  private def sub(i: Int, evolved: Boolean = false) =
    Sdmx.readSubmission(spark, s"$in/data.$i.csv", evolved)

  private def load(dir: String): DataFrame =
    spark.read.format("vintage").load(dir)

  test("choreography via format(\"vintage\"): write, read, time travel, compaction") {
    val dir = Files.createTempDirectory("vintage-conn").toString + "/exr"

    // v0: initial overwrite write (README.md:92) -> 504
    sub(0).write.format("vintage").mode("overwrite").save(dir)
    assert(load(dir).count() == 504)

    // v1, v2: merges through the table API (README.md:124-131)
    val table = VintageTable.forPath(spark, dir)
    table.as("master")
      .merge(sub(1).as("submission"), "master.KEY = submission.KEY")
      .whenMatched().updateAll().whenNotMatched().insertAll().execute()
    table.as("master")
      .merge(sub(2).as("submission"), "master.KEY = submission.KEY")
      .whenMatched().updateAll().whenNotMatched().insertAll().execute()
    assert(load(dir).count() == 762)

    // time travel reader option (README.md:169) -> 504
    assert(spark.read.format("vintage").option("versionAsOf", 0)
      .load(dir).count() == 504)

    // v3: full replacement via the writer (README.md:192-196) -> 474,
    // v1 still readable (README.md:199-204) -> 508
    sub(3).write.format("vintage").mode("overwrite").save(dir)
    assert(load(dir).count() == 474)
    assert(spark.read.format("vintage").option("versionAsOf", 1)
      .load(dir).count() == 508)

    // append mode adds rows without touching prior files
    sub(1).write.format("vintage").mode("append").save(dir)
    assert(load(dir).count() == 478)

    // timestampAsOf resolves to the latest version at that time
    val commits = table.snapshot.commits.sortBy(_.version)
    val tsAtV3 = commits.find(_.version == 3).get.timestamp
    assert(spark.read.format("vintage").option("timestampAsOf", tsAtV3.toString)
      .load(dir).count() == 474)

    // compaction through the writer: dataChange=false (README.md:403-412)
    load(dir).repartition(2).write.format("vintage")
      .mode("overwrite").option("dataChange", "false").save(dir)
    assert(load(dir).count() == 478)
    assert(spark.read.format("vintage").option("versionAsOf", 0)
      .load(dir).count() == 504)
    assert(VintageTable.forPath(spark, dir).snapshot.files.size == 2)
  }

  test("scan prunes files via stats and pushes filters to parquet") {
    val dir = Files.createTempDirectory("vintage-conn").toString + "/t"
    (1 to 100).map(i => (i.toLong, s"n$i")).toDF("id", "s").coalesce(1)
      .write.format("vintage").mode("overwrite").save(dir)
    (101 to 200).map(i => (i.toLong, s"n$i")).toDF("id", "s").coalesce(1)
      .write.format("vintage").mode("append").save(dir)
    (201 to 300).map(i => (i.toLong, s"n$i")).toDF("id", "s").coalesce(1)
      .write.format("vintage").mode("append").save(dir)

    val q = load(dir).filter(col("id") === 150)
    assert(q.collect().length == 1) // executes q's own plan → metrics populated
    val scans = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec (native parquet path)")
    assert(scans.head.metrics("numFiles").value == 1,
      s"stats skipping must scan 1 of 3 files, got ${scans.head.metrics("numFiles").value}")
    // filter is pushed into the parquet scan (row-group level)
    assert(scans.head.metadata("PushedFilters").contains("EqualTo"),
      s"expected pushed filters, got ${scans.head.metadata("PushedFilters")}")

    // column pruning reaches the scan
    val proj = load(dir).select("s").queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(proj.schema.fieldNames.sameElements(Array("s")),
      s"expected pruned read schema [s], got ${proj.schema.fieldNames.mkString(",")}")
  }

  test("mergeSchema append widens the table; old rows read null") {
    val dir = java.nio.file.Files.createTempDirectory("vintage-ms").toString + "/t"
    Seq((1L, "a")).toDF("id", "v").write.format("vintage").save(dir)

    // extra column without the option → error naming the fix
    val e = intercept[Exception] {
      Seq((2L, "b", 9.5)).toDF("id", "v", "score")
        .write.format("vintage").mode("append").save(dir)
    }
    assert(e.getMessage.contains("mergeSchema"))

    Seq((2L, "b", 9.5)).toDF("id", "v", "score")
      .write.format("vintage").mode("append")
      .option("mergeSchema", "true").save(dir)
    val back = spark.read.format("vintage").load(dir).orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(back(0).isNullAt(2), "pre-evolution rows read the new column as null")
    assert(back(1).getDouble(2) == 9.5)
    // time travel to v0 still shows the ORIGINAL two-column schema
    assert(spark.read.format("vintage").option("versionAsOf", 0)
      .load(dir).schema.fieldNames.toSeq == Seq("id", "v"))

    // a MISSING table column stays an error even with mergeSchema
    val e2 = intercept[Exception] {
      Seq((3L, 1.0)).toDF("id", "score").write.format("vintage")
        .mode("append").option("mergeSchema", "true").save(dir)
    }
    assert(e2.getMessage.contains("missing=v"))
  }

  test("error modes: ErrorIfExists throws, Ignore no-ops") {
    val dir = Files.createTempDirectory("vintage-conn").toString + "/e"
    Seq((1, "a")).toDF("id", "s").write.format("vintage").mode("overwrite").save(dir)
    intercept[IllegalArgumentException] {
      Seq((2, "b")).toDF("id", "s").write.format("vintage")
        .mode("error").save(dir)
    }
    Seq((2, "b")).toDF("id", "s").write.format("vintage").mode("ignore").save(dir)
    assert(load(dir).count() == 1)
  }
}
