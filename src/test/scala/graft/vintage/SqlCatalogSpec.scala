package graft.vintage

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** SQL surface through the vintage TableCatalog: DDL, DML, time travel. */
class SqlCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    s.conf.set("spark.sql.catalog.vin", "graft.vintage.connector.VintageCatalog")
    s.conf.set("spark.sql.catalog.vin.warehouse",
      Files.createTempDirectory("vintage-wh").toString)
    s
  }

  test("CREATE TABLE / INSERT / SELECT / time travel / DELETE") {
    spark.sql("CREATE TABLE vin.exr (ccy STRING, v DOUBLE)")
    spark.sql("INSERT INTO vin.exr VALUES ('CHF', 1.1), ('NOK', 2.2), ('RUB', 3.3)")
    assert(spark.sql("SELECT * FROM vin.exr").count() == 3)

    spark.sql("INSERT INTO vin.exr VALUES ('USD', 4.4)")
    assert(spark.sql("SELECT * FROM vin.exr").count() == 4)

    // SQL time travel: v1 was the first insert
    assert(spark.sql("SELECT * FROM vin.exr VERSION AS OF 1").count() == 3)
    assert(spark.sql("SELECT * FROM vin.exr VERSION AS OF 0").count() == 0)

    // predicate + projection still work through the V1Scan fallback
    assert(spark.sql("SELECT ccy FROM vin.exr WHERE v > 2.0").count() == 3)

    // SQL DELETE: copy-on-write through the table layer
    spark.sql("DELETE FROM vin.exr WHERE ccy = 'RUB'")
    assert(spark.sql("SELECT * FROM vin.exr").count() == 3)
    assert(spark.sql("SELECT * FROM vin.exr WHERE ccy = 'RUB'").count() == 0)
    // pre-delete version still readable
    assert(spark.sql("SELECT * FROM vin.exr VERSION AS OF 2").count() == 4)

    // INSERT OVERWRITE = full replacement retaining history
    spark.sql("INSERT OVERWRITE vin.exr VALUES ('EUR', 1.0)")
    assert(spark.sql("SELECT * FROM vin.exr").count() == 1)
    assert(spark.sql("SELECT * FROM vin.exr VERSION AS OF 2").count() == 4)
  }

  test("SQL UPDATE (native row-level path)") {
    spark.sql("CREATE TABLE vin.upd (ccy STRING, decimals INT)")
    spark.sql("INSERT INTO vin.upd VALUES ('CHF', 4), ('NOK', 4), ('RUB', 2)")
    spark.sql("UPDATE vin.upd SET decimals = 5 WHERE ccy = 'CHF'")
    val m = spark.sql("SELECT ccy, decimals FROM vin.upd").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(m == Map("CHF" -> 5, "NOK" -> 4, "RUB" -> 2))
    // unconditional update + expression referencing existing column
    spark.sql("UPDATE vin.upd SET decimals = decimals + 10")
    assert(spark.sql("SELECT sum(decimals) FROM vin.upd").head().getLong(0) == 41)
    // history: every UPDATE is one commit, past versions intact
    assert(spark.sql("SELECT * FROM vin.upd VERSION AS OF 1").count() == 3)
  }

  test("SQL MERGE INTO (native row-level path)") {
    spark.sql("CREATE TABLE vin.mrg (k STRING, v DOUBLE)")
    spark.sql("INSERT INTO vin.mrg VALUES ('a', 1.0), ('b', 2.0), ('c', 3.0)")
    spark.sql(
      """MERGE INTO vin.mrg t
        |USING (SELECT * FROM VALUES ('b', 20.0), ('d', 4.0) AS s(k, v)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val m = spark.sql("SELECT k, v FROM vin.mrg").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m == Map("a" -> 1.0, "b" -> 20.0, "c" -> 3.0, "d" -> 4.0))

    // conditional clauses + explicit assignments + matched delete
    spark.sql(
      """MERGE INTO vin.mrg t
        |USING (SELECT * FROM VALUES ('a', -1.0), ('d', 40.0), ('e', 5.0) AS s(k, v)) s
        |ON t.k = s.k
        |WHEN MATCHED AND s.v < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v + t.v
        |WHEN NOT MATCHED AND s.v > 1 THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val m2 = spark.sql("SELECT k, v FROM vin.mrg").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m2 == Map("b" -> 20.0, "c" -> 3.0, "d" -> 44.0, "e" -> 5.0))
    // merge commits recorded in history
    val wh = spark.conf.get("spark.sql.catalog.vin.warehouse")
    val ops = VintageLog.replay(s"$wh/mrg").commits.sortBy(_.version).map(_.operation)
    assert(ops == Seq("WRITE", "WRITE", "MERGE", "MERGE"))
  }

  test("CTAS and TIMESTAMP AS OF") {
    spark.sql("CREATE TABLE vin.t2 AS SELECT id, id * 2 AS dbl FROM range(10)")
    assert(spark.sql("SELECT * FROM vin.t2").count() == 10)
    val wh = spark.conf.get("spark.sql.catalog.vin.warehouse")
    val commits = VintageLog.replay(s"$wh/t2").commits
    val ts = new java.sql.Timestamp(commits.map(_.timestamp).max)
    assert(spark.sql(s"SELECT * FROM vin.t2 TIMESTAMP AS OF '$ts'").count() == 10)
  }

  test("SQL UPDATE and MERGE plan through the native row-level framework") {
    spark.sql("CREATE TABLE vin.rl (k STRING, v INT)")
    spark.sql("INSERT INTO vin.rl VALUES ('a', 1), ('b', 2)")
    // the row-level-operation plan node (WriteDelta) appears — DML is
    // planned by Spark's analyzer rewrites, not an injected rule
    val upd = spark.sql("EXPLAIN UPDATE vin.rl SET v = v + 1 WHERE k = 'a'")
      .collect()(0).getString(0)
    assert(upd.contains("WriteDelta"), s"expected a WriteDelta plan node:\n$upd")
    val mrg = spark.sql(
      """EXPLAIN MERGE INTO vin.rl t
        |USING (SELECT 'a' AS k, 5 AS v) s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .collect()(0).getString(0)
    assert(mrg.contains("WriteDelta"), s"expected a WriteDelta plan node:\n$mrg")
    // the target is read by the native scan, not a V1 row-id frame
    Seq(upd, mrg).foreach { plan =>
      assert(plan.contains("VintageNativeScan"), s"expected the native scan:\n$plan")
      assert(!plan.contains("VintageRowIdScan") && !plan.contains("ExistingRDD"),
        s"no V1 row-id scan expected:\n$plan")
    }
    // the position row-id rides hidden metadata columns
    val ids = spark.sql("SELECT _vintage_file, _vintage_pos, k FROM vin.rl")
      .collect()
    assert(ids.length == 2 && ids.forall(_.getString(0).nonEmpty))
    // a non-filter-translatable predicate works (the old SupportsDelete
    // path would have thrown "untranslatable delete predicates")
    spark.sql("UPDATE vin.rl SET v = v * 10 WHERE length(k) = 1 AND v % 2 = 0")
    val m = spark.sql("SELECT k, v FROM vin.rl").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(m == Map("a" -> 1, "b" -> 20))
    // the commit is merge-on-read: same physical file, grown DV
    val wh = spark.conf.get("spark.sql.catalog.vin.warehouse")
    val snap = VintageLog.replay(s"$wh/rl")
    assert(snap.files.exists(_.hasDv),
      "native UPDATE must commit deletion vectors, not rewrite")
    val params = snap.commits.maxBy(_.version).operationParameters
    assert(params.get("planner").contains("row-level"))
    assert(params.get("mode").contains("merge-on-read"))
  }

  test("native row-level DELETE past the inline cap commits a sidecar vector") {
    spark.sql("""CREATE TABLE vin.rlsc (id BIGINT, s STRING)
      |TBLPROPERTIES ('vintage.deletionVectors.maxInline'='5')""".stripMargin)
    spark.sql("INSERT INTO vin.rlsc SELECT id, concat('r', id) FROM range(100)")
    // a condition filters can't express forces the row-level path, and
    // 20 deleted positions exceed the inline cap of 5
    spark.sql("DELETE FROM vin.rlsc WHERE id < 20 AND length(s) >= 2")
    assert(spark.sql("SELECT count(*) FROM vin.rlsc").head().getLong(0) == 80)
    assert(spark.sql("SELECT count(*) FROM vin.rlsc WHERE id < 20")
      .head().getLong(0) == 0)
    val wh = spark.conf.get("spark.sql.catalog.vin.warehouse")
    val snap = VintageLog.replay(s"$wh/rlsc")
    val withRef = snap.files.filter(_.dvRef.nonEmpty)
    assert(withRef.map(_.dvRef.get.count).sum == 20,
      "positions past the cap must land in sidecar references")
    assert(snap.files.forall(_.dv.isEmpty))
    // time travel to before the delete still reads through
    assert(spark.sql("SELECT count(*) FROM vin.rlsc VERSION AS OF 1")
      .head().getLong(0) == 100)
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the schema natively") {
    spark.sql("CREATE TABLE vin.evo (k STRING, v INT)")
    spark.sql("INSERT INTO vin.evo VALUES ('a', 1)")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO vin.evo t
        |USING (SELECT * FROM VALUES ('a', 10, 'upd'), ('b', 2, 'new') AS s(k, v, extra)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql("SELECT k, v, extra FROM vin.evo ORDER BY k").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    assert(rows == Seq(("a", 10, "upd"), ("b", 2, "new")))
    // pre-evolution version keeps the narrow schema
    assert(!spark.sql("SELECT * FROM vin.evo VERSION AS OF 1")
      .columns.contains("extra"))
  }

  test("racing native row-level UPDATEs: exactly one DV state survives per commit") {
    spark.sql("CREATE TABLE vin.race (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO vin.race SELECT id, 0 FROM range(100)")
    // two concurrent row-level updates of the SAME file: the commit
    // retry must serialize them — either both land (disjoint retry) or
    // the loser fails; silently losing one update is the bug this pins
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(
      new Thread(() => try spark.sql(
        "UPDATE vin.race SET v = 1 WHERE id < 10 AND pmod(id, 1) = 0")
        catch { case e: Throwable => errors.add(e) }),
      new Thread(() => try spark.sql(
        "UPDATE vin.race SET v = 2 WHERE id >= 90 AND pmod(id, 1) = 0")
        catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val v1 = spark.sql("SELECT count(*) FROM vin.race WHERE v = 1").head().getLong(0)
    val v2 = spark.sql("SELECT count(*) FROM vin.race WHERE v = 2").head().getLong(0)
    assert(spark.sql("SELECT count(*) FROM vin.race").head().getLong(0) == 100,
      "row count must be stable under racing updates")
    if (errors.isEmpty)
      assert(v1 == 10 && v2 == 10, s"both committed updates must be visible, got $v1/$v2")
    else {
      // a loser failed loudly: the winner's update must be intact
      assert(v1 == 10 || v2 == 10, s"the winning update must survive, got $v1/$v2")
      assert(errors.peek().toString.toLowerCase.contains("concurrent"),
        s"loser must fail with a concurrency error, got ${errors.peek()}")
    }
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE works on the native path") {
    spark.sql("CREATE TABLE vin.nbs (k STRING, v INT)")
    spark.sql("INSERT INTO vin.nbs VALUES ('a', 1), ('b', 2), ('c', 3)")
    spark.sql(
      """MERGE INTO vin.nbs t
        |USING (SELECT 'a' AS k, 10 AS v) s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED BY SOURCE AND t.v > 2 THEN DELETE""".stripMargin)
    val m = spark.sql("SELECT k, v FROM vin.nbs").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(m == Map("a" -> 10, "b" -> 2))
  }

  test("native row-level UPDATE routes partitions and SQL DELETE past filters") {
    spark.sql("CREATE TABLE vin.rlp (id BIGINT, p INT, s STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO vin.rlp SELECT id, CAST(id % 3 AS INT), concat('r', id) FROM range(30)")
    spark.sql("UPDATE vin.rlp SET s = concat(s, '!') WHERE p = 1 AND id < 10")
    assert(spark.sql("SELECT count(*) FROM vin.rlp WHERE s LIKE '%!'")
      .head().getLong(0) == 3) // ids 1,4,7
    assert(spark.sql("SELECT count(*) FROM vin.rlp").head().getLong(0) == 30)
    // updated copies landed in the right hive partition
    assert(spark.sql("SELECT count(*) FROM vin.rlp WHERE p = 1").head().getLong(0) == 10)
    // DELETE with a condition filters cannot express -> row-level path
    spark.sql("DELETE FROM vin.rlp WHERE id % 7 = 0 AND length(s) >= 2")
    assert(spark.sql("SELECT count(*) FROM vin.rlp").head().getLong(0) == 25)
    assert(spark.sql("SELECT count(*) FROM vin.rlp WHERE id % 7 = 0")
      .head().getLong(0) == 0)
  }

  test("ALTER TABLE ADD COLUMN widens schema; old rows read null") {
    spark.sql("CREATE TABLE vin.alt (k STRING)")
    spark.sql("INSERT INTO vin.alt VALUES ('x'), ('y')")
    spark.sql("ALTER TABLE vin.alt ADD COLUMN note STRING")
    spark.sql("INSERT INTO vin.alt VALUES ('z', 'with note')")
    val rows = spark.sql("SELECT k, note FROM vin.alt ORDER BY k").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("x", null), ("y", null), ("z", "with note")))
    // pre-evolution version keeps the narrow schema
    assert(!spark.sql("SELECT * FROM vin.alt VERSION AS OF 1")
      .columns.contains("note"))
  }

  test("SQL maintenance: OPTIMIZE / DESCRIBE HISTORY / RESTORE / VACUUM") {
    import org.apache.spark.sql.functions.col
    spark.sql("CREATE TABLE vin.mnt (id BIGINT, s STRING)")
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO vin.mnt VALUES ($i, 'row$i')"))
    val wh = spark.conf.get("spark.sql.catalog.vin.warehouse")
    val t = VintageTable.forPath(spark, s"$wh/mnt")
    val filesBefore = t.snapshot.files.size
    assert(filesBefore >= 4)

    // OPTIMIZE compacts without changing the logical row set
    val opt = spark.sql("OPTIMIZE vin.mnt").collect().head
    assert(opt.getLong(1) == filesBefore && opt.getLong(2) < filesBefore)
    assert(spark.sql("SELECT * FROM vin.mnt").count() == 4)

    // OPTIMIZE ... ZORDER BY clusters on the column
    spark.sql("OPTIMIZE vin.mnt ZORDER BY (id)")
    assert(t.toDF.count() == 4)

    // DESCRIBE HISTORY lists all commits, newest first
    val hist = spark.sql("DESCRIBE HISTORY vin.mnt").collect()
    assert(hist.length == t.version + 1)
    assert(hist.head.getLong(0) == t.version)
    assert(hist.map(_.getString(2)).contains("CLUSTER"))

    // RESTORE re-establishes a past version's state
    spark.sql("DELETE FROM vin.mnt WHERE id <= 2")
    assert(spark.sql("SELECT * FROM vin.mnt").count() == 2)
    val preDelete = t.version - 1
    spark.sql(s"RESTORE TABLE vin.mnt TO VERSION AS OF $preDelete")
    assert(spark.sql("SELECT * FROM vin.mnt").count() == 4)

    // short retention requires the explicit safety override (the
    // check protects in-flight writes from mod-time reclamation)
    intercept[IllegalArgumentException] {
      spark.sql("VACUUM vin.mnt RETAIN 0 HOURS").collect()
    }
    spark.conf.set("spark.vintage.retentionDurationCheck.enabled", "false")
    val (dry, del) =
      try {
        // DRY RUN reports the same count without deleting anything
        val d = spark.sql("VACUUM vin.mnt RETAIN 0 HOURS DRY RUN")
          .collect().head.getLong(1)
        (d, spark.sql("VACUUM vin.mnt RETAIN 0 HOURS").collect().head.getLong(1))
      } finally spark.conf.unset("spark.vintage.retentionDurationCheck.enabled")
    assert(dry == del, s"dry run must predict the real deletion count ($dry vs $del)")

    // RESTORE ... TIMESTAMP AS OF resolves through commit timestamps,
    // in both SQL-timestamp and ISO-instant grammars (same parser as
    // the read-side timestampAsOf option)
    val lastMillis = t.snapshot.commits.sortBy(_.version).last.timestamp
    spark.sql(s"RESTORE TABLE vin.mnt TO TIMESTAMP AS OF " +
      s"'${new java.sql.Timestamp(lastMillis)}'")
    assert(spark.sql("SELECT * FROM vin.mnt").count() == 4)
    spark.sql(s"RESTORE TABLE vin.mnt TO TIMESTAMP AS OF " +
      s"'${java.time.Instant.ofEpochMilli(lastMillis + 1)}'")
    assert(spark.sql("SELECT * FROM vin.mnt").count() == 4)
    assert(del > 0, "vacuum must delete the compacted-away files")

    // quoted-path form resolves without the catalog (+4: the DELETE,
    // version restore, and two timestamp restore commits since `hist`)
    assert(spark.sql(s"DESCRIBE HISTORY '$wh/mnt'").count() == hist.length + 4)

    // DESCRIBE DETAIL: one row of table-level metadata
    val detail = spark.sql("DESCRIBE DETAIL vin.mnt").collect()
    assert(detail.length == 1)
    val d = detail.head
    assert(d.getString(0) == "vintage")
    assert(d.getString(1).endsWith("/mnt"))
    assert(d.getLong(2) == t.version)
    assert(d.getLong(3) == t.snapshot.files.size.toLong && d.getLong(3) > 0)
    assert(d.getLong(4) == t.snapshot.files.map(_.size).sum)
  }

  test("catalog SELECT plans a native columnar scan with pushed filters") {
    spark.sql("CREATE TABLE vin.nat (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO vin.nat SELECT id, id * 1.5 FROM range(1000)")
    val df = spark.sql("SELECT v FROM vin.nat WHERE id >= 990")
    assert(df.count() == 10)
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, s"expected a DSv2 BatchScanExec in:\n$plan")
    val scan = scans.head
    // vectorized parquet read: the scan itself reports columnar output
    assert(scan.supportsColumnar, "native scan should emit columnar batches")
    val desc = scan.scan.description()
    assert(desc.contains("VintageNativeScan"))
    assert(desc.contains("GreaterThanOrEqual"), s"filter not pushed: $desc")
    // whole-stage codegen covers the seam above the scan
    val codegen = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegen.nonEmpty, s"no WholeStageCodegen above the scan:\n$plan")
  }

  test("catalog INSERT plans the native DSv2 write, not a V1 fallback") {
    spark.sql("CREATE TABLE vin.natw (id BIGINT, v DOUBLE)")
    val qe = spark.sql("INSERT INTO vin.natw SELECT id, id * 1.5 FROM range(100)")
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("AppendData"), s"expected AppendDataExec in:\n$plan")
    assert(!plan.contains("V1"), s"V1 fallback node in native write plan:\n$plan")
    assert(spark.sql("SELECT count(*) FROM vin.natw").head().getLong(0) == 100)
    // per-file footer stats arrive through the writer commit messages:
    // a selective filter must prune before scanning
    val t = VintageTable.forPath(spark, spark.conf.get("spark.sql.catalog.vin.warehouse") + "/natw")
    assert(t.snapshot.files.forall(_.numRecords.isDefined))
    // every data-bearing file carries footer stats (the empty v0 file
    // from CREATE TABLE legitimately has none)
    val dataFiles = t.snapshot.files.filter(_.numRecords.exists(_ > 0))
    assert(dataFiles.nonEmpty && dataFiles.forall(_.stats.contains("id")))

    // overwrite keeps history and also plans natively
    val qe2 = spark.sql("INSERT OVERWRITE vin.natw VALUES (1, 1.0)").queryExecution
    val plan2 = qe2.executedPlan.toString
    assert(plan2.contains("OverwriteByExpression") || plan2.contains("AppendData"),
      s"unexpected overwrite plan:\n$plan2")
    assert(!plan2.contains("V1"), s"V1 fallback in overwrite plan:\n$plan2")
    assert(spark.sql("SELECT * FROM vin.natw").count() == 1)
    assert(spark.sql("SELECT * FROM vin.natw VERSION AS OF 1").count() == 100)
  }

  test("native write to a hive-partitioned catalog table routes partitions") {
    spark.sql("CREATE TABLE vin.natp (id BIGINT, ccy STRING) PARTITIONED BY (ccy)")
    spark.sql("INSERT INTO vin.natp VALUES (1, 'CHF'), (2, 'NOK'), (3, 'CHF'), (4, NULL)")
    val rows = spark.sql("SELECT id, ccy FROM vin.natp ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(rows == Seq((1L, "CHF"), (2L, "NOK"), (3L, "CHF"), (4L, null)))
    val t = VintageTable.forPath(spark, spark.conf.get("spark.sql.catalog.vin.warehouse") + "/natp")
    val pvals = t.snapshot.files.map(_.partitionValues.get("ccy")).toSet
    assert(pvals.flatten.toSet == Set("CHF", "NOK", PartitionPaths.HiveDefaultPartition),
      s"unexpected partition values: $pvals")
    assert(t.snapshot.files.forall(_.path.startsWith("ccy=")),
      "files must land in hive-style partition dirs")
    // partition pruning through synthetic stats still works
    assert(spark.sql("SELECT * FROM vin.natp WHERE ccy = 'CHF'").count() == 2)
  }

  test("codegen'd pipeline expressions are callable from SQL") {
    val cos = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS o, " +
      "cosine_similarity(array(1.0D, 2.0D), array(1.0D, 2.0D)) AS s").head()
    assert(cos.getDouble(0) == 0.0 && math.abs(cos.getDouble(1) - 1.0) < 1e-12)
    val sk = spark.sql(
      "SELECT hyperplane_sketch(array(CAST(0.5 AS FLOAT), CAST(-0.5 AS FLOAT)), 8, 0) AS b").head()
    assert(sk.getLong(0) >= 0L && sk.getLong(0) < 256L)
    val sig = spark.sql(
      "SELECT minhash_signature(array('abc', 'def'), 16) AS s").head()
    assert(sig.getSeq[Long](0).length == 16)
    val q8 = spark.sql(
      "SELECT quantize8(array(CAST(0.5 AS FLOAT), CAST(-1.0 AS FLOAT))) AS q").head()
    assert(q8.getSeq[Byte](0) == Seq[Byte](64, -127))
    val toks = spark.sql(
      "SELECT whitespace_tokens('  The Quick  fox ') AS t").head()
    assert(toks.getSeq[String](0) == Seq("the", "quick", "fox"))
    val sh = spark.sql(
      "SELECT simhash64('a b c') AS h, simhash64('a b c') AS h2").head()
    assert(sh.getLong(0) == sh.getLong(1))
    // non-literal plane count is rejected with a clear error
    val e = intercept[Exception] {
      spark.sql("SELECT hyperplane_sketch(array(CAST(1.0 AS FLOAT)), id + 1, 0) " +
        "FROM range(1)").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES; partitioning survives ALTER") {
    spark.sql("CREATE TABLE vin.props (id BIGINT, cat STRING) PARTITIONED BY (cat)")
    spark.sql("INSERT INTO vin.props VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE vin.props SET TBLPROPERTIES " +
      "('vintage.bloom.columns' = 'id', 'stage' = 'pipeline')")
    val wh = spark.conf.get("spark.sql.catalog.vin.warehouse")
    val t = VintageTable.forPath(spark, wh + "/props")
    assert(t.snapshot.properties("vintage.bloom.columns") == "id")
    assert(t.snapshot.properties("stage") == "pipeline")
    // the metadata-only commit must not wipe the partition spec
    assert(t.snapshot.partitionColumns == Seq("cat"))
    assert(spark.sql("SELECT * FROM vin.props WHERE cat = 'a'").count() == 1)

    spark.sql("ALTER TABLE vin.props UNSET TBLPROPERTIES ('stage')")
    assert(!VintageTable.forPath(spark, wh + "/props")
      .snapshot.properties.contains("stage"))

    // ADD COLUMNS on a partitioned table keeps partitioning too
    spark.sql("ALTER TABLE vin.props ADD COLUMN note STRING")
    val t2 = VintageTable.forPath(spark, wh + "/props")
    assert(t2.snapshot.partitionColumns == Seq("cat"))
    assert(spark.sql("SELECT note FROM vin.props").count() == 2)
  }

  test("native write LRU-bounds open writers; high-cardinality partitions stay correct") {
    // 200 distinct partition values against the 32-writer cap: tasks
    // must evict and re-open, producing several files for re-visited
    // partitions without losing or duplicating rows
    spark.sql("CREATE TABLE vin.hc (id BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO vin.hc SELECT id, id % 200 FROM range(2000)")
    assert(spark.sql("SELECT count(*) FROM vin.hc WHERE true").head().getLong(0) == 2000)
    assert(spark.sql("SELECT count(DISTINCT p) FROM vin.hc WHERE true").head().getLong(0) == 200)
    // every row exactly once
    assert(spark.sql(
      "SELECT count(*) FROM (SELECT id FROM vin.hc GROUP BY id HAVING count(*) <> 1)")
      .head().getLong(0) == 0)
    val t = VintageTable.forPath(spark,
      spark.conf.get("spark.sql.catalog.vin.warehouse") + "/hc")
    assert(t.snapshot.files.count(_.numRecords.exists(_ > 0)) >= 200)
    assert(t.snapshot.files.filter(_.numRecords.exists(_ > 0))
      .forall(_.partitionValues.contains("p")))
  }

  test("catalog utilities: listTables, dropTable, tableExists") {
    spark.sql("CREATE TABLE vin.t3 (x INT)")
    val names = spark.sql("SHOW TABLES IN vin").collect().map(_.getString(1)).toSet
    assert(names.contains("t3"))
    spark.sql("DROP TABLE vin.t3")
    val after = spark.sql("SHOW TABLES IN vin").collect().map(_.getString(1)).toSet
    assert(!after.contains("t3"))
  }

  /** A metadata-answered aggregate: every scan in the optimized plan is
    * the driver-local [[connector.VintageMetadataScan]] — no file scan.
    */
  private def hasMetadataScan(df: org.apache.spark.sql.DataFrame): Boolean = {
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }
    scans.nonEmpty &&
      scans.forall(_.isInstanceOf[graft.vintage.connector.VintageMetadataScan])
  }

  test("count/min/max answered from log metadata without scanning files") {
    spark.sql("CREATE TABLE vin.agg (id BIGINT, cat STRING) PARTITIONED BY (cat)")
    spark.sql(
      "INSERT INTO vin.agg SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(100)")
    spark.sql("INSERT INTO vin.agg VALUES (1000, 'a')")

    val cnt = spark.sql("SELECT count(*) FROM vin.agg")
    assert(hasMetadataScan(cnt), cnt.queryExecution.optimizedPlan.toString)
    assert(cnt.head().getLong(0) == 101)

    val mm = spark.sql("SELECT min(id), max(id), count(id) FROM vin.agg")
    assert(hasMetadataScan(mm), mm.queryExecution.optimizedPlan.toString)
    assert(mm.head().toSeq == Seq(0L, 1000L, 101L))

    // group by the partition column: still metadata-only
    val grouped = spark.sql(
      "SELECT cat, count(*) AS n, max(id) AS mx FROM vin.agg GROUP BY cat ORDER BY cat")
    assert(hasMetadataScan(grouped), grouped.queryExecution.optimizedPlan.toString)
    assert(grouped.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 51L, 1000L), ("b", 50L, 99L)))

    // deletes update the live file set the metadata answer derives from
    spark.sql("DELETE FROM vin.agg WHERE cat = 'b'")
    assert(spark.sql("SELECT count(*) FROM vin.agg").head().getLong(0) == 51)

    // fallbacks: filtered aggregate and string min/max read the files
    val filtered = spark.sql("SELECT count(*) FROM vin.agg WHERE id > 10")
    assert(!hasMetadataScan(filtered))
    assert(filtered.head().getLong(0) == 45)
    val strMin = spark.sql("SELECT min(cat) FROM vin.agg")
    assert(!hasMetadataScan(strMin))
    assert(strMin.head().getString(0) == "a")
  }

  test("scan reports log-derived statistics; pruning shrinks them; joins broadcast") {
    spark.sql("CREATE TABLE vin.stats_t (id BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO vin.stats_t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(1000)")

    // full-scan stats come from the log: exact row count, real bytes
    val full = spark.table("vin.stats_t")
    val fullStats = full.queryExecution.optimizedPlan.stats
    assert(fullStats.rowCount.contains(BigInt(1000)) ||
      fullStats.sizeInBytes < Long.MaxValue / 4,
      s"expected log-derived stats, got $fullStats")

    // a partition predicate prunes files BEFORE the estimate
    val prunedDf = spark.sql("SELECT * FROM vin.stats_t WHERE p = 'a'")
    val prunedSize = prunedDf.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats.sizeInBytes
    }
    val fullSize = full.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats.sizeInBytes
    }
    assert(prunedSize.get < fullSize.get,
      s"pruned scan must report smaller size: $prunedSize vs $fullSize")

    // a small catalog table joined to a big one plans a broadcast join
    spark.sql("CREATE TABLE vin.stats_dim (p STRING, label STRING)")
    spark.sql("INSERT INTO vin.stats_dim VALUES ('a', 'even'), ('b', 'odd')")
    val joined = spark.sql(
      "SELECT t.id, d.label FROM vin.stats_t t JOIN vin.stats_dim d ON t.p = d.p")
    val planStr = joined.queryExecution.sparkPlan.toString
    assert(planStr.contains("BroadcastHashJoin"),
      s"expected broadcast join for the 2-row dimension, got:\n$planStr")
  }

  test("a stats-less file forces metadata aggregates to fall back to a scan") {
    spark.sql("CREATE TABLE vin.agg2 (id BIGINT)")
    spark.sql("INSERT INTO vin.agg2 SELECT id FROM range(10)")
    assert(hasMetadataScan(spark.sql("SELECT count(*) FROM vin.agg2")))

    // register a copy of a data file WITHOUT stats — the shape of a
    // file imported from a foreign writer that recorded nothing
    val wh = spark.conf.get("spark.sql.catalog.vin.warehouse")
    val t = VintageTable.forPath(spark, wh + "/agg2")
    val src = t.snapshot.files.filter(_.numRecords.exists(_ > 0)).head
    val hconf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(t.path)
    val fs = dir.getFileSystem(hconf)
    val copyName = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(t.path, src.path),
      fs, new org.apache.hadoop.fs.Path(t.path, copyName), false, hconf)
    t.commitFiles(Seq(AddFile(copyName, src.size, System.currentTimeMillis(),
      dataChange = true)), overwrite = false)

    // pushdown must refuse (a metadata answer would have to guess the
    // stats-less file's contents) and the scan answer must be right
    val cnt = spark.sql("SELECT count(*) FROM vin.agg2")
    assert(!hasMetadataScan(cnt), "stats-less file must disable the metadata answer")
    assert(cnt.head().getLong(0) == 10 + src.numRecords.get)
    val mm = spark.sql("SELECT min(id), max(id) FROM vin.agg2")
    assert(!hasMetadataScan(mm))
    assert(mm.head().toSeq == Seq(0L, 9L))
  }

  test("drop + recreate at the same path serves the new table, not a cached snapshot") {
    spark.sql("CREATE TABLE vin.cyc (x INT)")
    spark.sql("INSERT INTO vin.cyc VALUES (1), (2)")
    assert(spark.sql("SELECT * FROM vin.cyc").count() == 2)
    spark.sql("DROP TABLE vin.cyc")
    // same identifier → same directory; versions restart at 0
    spark.sql("CREATE TABLE vin.cyc (x INT)")
    assert(spark.sql("SELECT * FROM vin.cyc").count() == 0)
    spark.sql("INSERT INTO vin.cyc VALUES (7)")
    assert(spark.sql("SELECT x FROM vin.cyc").collect().map(_.getInt(0)).toSeq == Seq(7))
  }
}
