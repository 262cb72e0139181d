package graft.vintage

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Merge-on-read deletes via inline deletion vectors
  * (`vintage.deletionVectors.enabled`): a sparse DELETE records row
  * positions in the log instead of rewriting the touched files.
  */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val DvProps = Map(DeletionVectors.EnabledProp -> "true")

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"vintage-dv-$tag").toString + "/t"

  test("DV delete removes rows without rewriting files") {
    val dir = newDir("basic")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").repartition(3),
      properties = DvProps)
    val filesBefore = t.snapshot.files.map(_.path).toSet

    t.delete(col("id") % 10 === 0) // 10 rows spread over all 3 files

    val snap = t.snapshot
    assert(snap.files.map(_.path).toSet == filesBefore,
      "a sparse DV delete must keep the same physical files")
    assert(snap.files.map(_.dv.size).sum == 10)
    assert(snap.files.forall(f => f.dv == f.dv.distinct.sorted))
    assert(t.toDF.count() == 90)
    assert(t.toDF.filter(col("id") % 10 === 0).count() == 0)

    // time travel to before the delete still sees every row
    assert(t.toDFAsOf(0).count() == 100)
    // history records the merge-on-read delete
    val h = t.history().filter(col("operation") === "DELETE").collect()
    assert(h.length == 1)
    assert(h(0).getAs[Map[String, String]]("operationParameters")
      .get("mode").contains("merge-on-read"))
  }

  test("stacked DV deletes union positions; re-delete is a no-op") {
    val dir = newDir("stack")
    val t = VintageTable.create(spark, dir,
      (1L to 50L).map(i => (i, i % 5)).toDF("id", "k").coalesce(1),
      properties = DvProps)
    t.delete(col("k") === 0) // 10 rows
    assert(t.toDF.count() == 40)
    t.delete(col("k") === 1) // 10 more
    assert(t.toDF.count() == 30)
    val dvSize = t.snapshot.files.head.dv.size
    assert(dvSize == 20)
    // deleting already-deleted rows adds no positions
    t.delete(col("k") === 0)
    assert(t.snapshot.files.head.dv.size == 20)
    assert(t.toDF.count() == 30)
  }

  test("per-file hybrid: dense file rewrites, sparse file keeps a DV") {
    val dir = newDir("hybrid")
    // two files via partition-ish repartition on a marker column:
    // file A holds k=0 (50 rows), file B holds k=1 (50 rows)
    val df = (1L to 100L).map(i => (i, i % 2)).toDF("id", "k")
      .repartitionByRange(2, col("k"))
    val t = VintageTable.create(spark, dir, df,
      properties = DvProps + (DeletionVectors.MaxInlineProp -> "10"))
    // delete 50 rows of one parity (dense: over the 10-position cap →
    // rewrite) and 1 row of the other (sparse: DV)
    t.delete(col("k") === 0 || col("id") === 1)
    assert(t.toDF.count() == 49)
    val snap = t.snapshot
    assert(snap.files.exists(_.dv.size == 1), "sparse side should carry a DV")
    assert(snap.files.filter(_.dv.nonEmpty).map(_.dv.size).sum == 1)
    val params = t.history().filter(col("operation") === "DELETE")
      .collect()(0).getAs[Map[String, String]]("operationParameters")
    assert(params.get("deletionVectors").contains("1"))
    assert(params.get("rewrittenFiles").contains("1"))
  }

  test("all read surfaces agree: toDF, format read, SQL catalog, time travel") {
    val dir = newDir("surfaces")
    val t = VintageTable.create(spark, dir,
      (1L to 60L).map(i => (i, s"v$i")).toDF("id", "name").repartition(2),
      properties = DvProps)
    t.delete(col("id") <= 5)

    assert(t.toDF.count() == 55)
    val viaFormat = spark.read.format("vintage").load(dir)
    assert(viaFormat.count() == 55)
    assert(viaFormat.filter(col("id") <= 5).count() == 0)
    // filter + projection through the fallback relation
    assert(viaFormat.filter(col("id") === 6).select("name")
      .as[String].collect().toSeq == Seq("v6"))
    // version pin: the pre-delete snapshot ignores the DV
    assert(spark.read.format("vintage").option("versionAsOf", 0)
      .load(dir).count() == 60)
  }

  test("DV rows vanish from SQL catalog reads; count(*) pushdown stays exact") {
    val dir = Files.createTempDirectory("vintage-dv-sql").toString
    spark.conf.set("spark.sql.catalog.dvcat",
      "graft.vintage.connector.VintageCatalog")
    spark.conf.set("spark.sql.catalog.dvcat.warehouse", dir)
    try {
      VintageTable.create(spark, s"$dir/t",
        (1L to 40L).map(i => (i, i % 4)).toDF("id", "k").coalesce(1),
        properties = DvProps)
      spark.sql("DELETE FROM dvcat.t WHERE k = 0") // 10 rows
      assert(spark.sql("SELECT count(*) FROM dvcat.t").as[Long].head() == 30,
        "metadata count(*) must subtract DV cardinality")
      assert(spark.sql("SELECT sum(id) FROM dvcat.t").as[Long].head() ==
        (1L to 40L).filter(_ % 4 != 0).sum)
      // min over a DV file must NOT be answered from (stale) stats
      assert(spark.sql("SELECT min(id) FROM dvcat.t").as[Long].head() == 1L)
      spark.sql("DELETE FROM dvcat.t WHERE id = 1")
      assert(spark.sql("SELECT min(id) FROM dvcat.t").as[Long].head() == 2L)
    } finally {
      spark.conf.unset("spark.sql.catalog.dvcat")
      spark.conf.unset("spark.sql.catalog.dvcat.warehouse")
    }
  }

  test("change feed reports exactly the DV-deleted rows") {
    val dir = newDir("cdf")
    val t = VintageTable.create(spark, dir,
      (1L to 20L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = DvProps)
    t.delete(col("id") === 3 || col("id") === 7) // v1
    t.delete(col("id") === 9)                    // v2 (stacked DV)
    val ch = t.changes(0)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ch == Set((3L, "delete", 1L), (7L, "delete", 1L),
      (9L, "delete", 2L)))
  }

  test("change feed across RESTOREs that flip a file's DV state") {
    val dir = newDir("cdf-restore")
    val t = VintageTable.create(spark, dir,
      (1L to 25L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = DvProps)
    t.delete(col("id") > 20)  // v1: DV of 5 positions
    t.restoreToVersion(0)     // v2: re-adds the path with dv=[] (no remove)
    t.restoreToVersion(1)     // v3: re-adds the path with the DV again
    def ch(from: Long, to: Long): Set[(Long, String)] =
      t.changes(from, to).select("id", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    // v2 revives exactly the 5 deleted rows — not 25 phantom inserts
    assert(ch(1, 2) == (21L to 25L).map(i => (i, "insert")).toSet)
    // v3 re-deletes exactly those rows — and reports them as deletes
    assert(ch(2, 3) == (21L to 25L).map(i => (i, "delete")).toSet)
  }

  test("compaction purges DVs and restores full-file reads") {
    val dir = newDir("compact")
    val t = VintageTable.create(spark, dir,
      (1L to 30L).map(i => (i, i % 3)).toDF("id", "k").repartition(2),
      properties = DvProps)
    t.delete(col("k") === 0)
    assert(t.snapshot.files.exists(_.dv.nonEmpty))
    t.compact(1)
    val snap = t.snapshot
    assert(snap.files.forall(_.dv.isEmpty), "compaction must purge DVs")
    assert(t.toDF.count() == 20)
    // and time travel across the compaction still applies the old DV
    assert(t.toDFAsOf(1).count() == 20)
    assert(t.toDFAsOf(0).count() == 30)
  }

  test("restore to a pre-delete version revives DV-deleted rows") {
    val dir = newDir("restore")
    val t = VintageTable.create(spark, dir,
      (1L to 25L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = DvProps)
    t.delete(col("id") > 20) // v1: DV on the single file
    assert(t.toDF.count() == 20)
    t.restoreToVersion(0)    // v2: must re-add the DV-free AddFile
    assert(t.toDF.count() == 25)
    assert(t.snapshot.files.forall(_.dv.isEmpty))
    // and restore FORWARD to the deleted state works symmetrically
    t.restoreToVersion(1)
    assert(t.toDF.count() == 20)
  }

  test("racing DV deletes of the same file: loser fails instead of undeleting") {
    val dir = newDir("race")
    val t = VintageTable.create(spark, dir,
      (1L to 30L).map(i => (i, i % 3)).toDF("id", "k").coalesce(1),
      properties = DvProps)
    // simulate a stale-snapshot race: both writers read v0, writer A
    // commits a DV delete, then writer B (still on v0) tries its own
    val snapBefore = t.snapshot
    t.delete(col("k") === 0)
    val stale = new VintageTable2(spark, t.path) // helper view below
    intercept[java.util.ConcurrentModificationException] {
      stale.commitStaleDvDelete(snapBefore)
    }
    // the winner's deletions survive
    assert(t.toDF.count() == 20)
  }

  test("vacuum keeps DV-bearing data files alive") {
    val dir = newDir("vacuum")
    val t = VintageTable.create(spark, dir,
      (1L to 40L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = DvProps)
    t.delete(col("id") <= 3)
    spark.conf.set("spark.vintage.retentionDurationCheck.enabled", "false")
    try t.vacuum(0.0)
    finally spark.conf.unset("spark.vintage.retentionDurationCheck.enabled")
    // the (DV-carrying) file is still the live one — it must survive
    assert(t.toDF.count() == 37)
  }

  test("DVs survive parquet checkpoint replay") {
    val dir = newDir("checkpoint")
    val t = VintageTable.create(spark, dir,
      (1L to 30L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = DvProps)
    t.delete(col("id") <= 3) // v1: DV of 3 positions
    // push past the checkpoint interval (10) with blind appends
    import spark.implicits._
    (1 to 10).foreach(i =>
      t.append(Seq((100L + i, s"x$i")).toDF("id", "name").coalesce(1)))
    assert(t.version >= VintageLog.checkpointInterval)
    // force a cache-free replay: the snapshot must come from the
    // checkpoint + tail and still carry the inline vector
    VintageLog.clearSnapshotCache()
    val snap = t.snapshot
    assert(snap.files.exists(_.dv.size == 3),
      "checkpoint replay must preserve the deletion vector")
    assert(t.toDF.count() == 27 + 10)
  }

  test("merge and update on a DV table do not resurrect deleted rows") {
    val dir = newDir("merge")
    val t = VintageTable.create(spark, dir,
      (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = DvProps)
    t.delete(col("id") === 5)
    // update touches the file: rewrite must keep row 5 gone
    t.update(col("id") === 6, Map("name" -> lit("upd")))
    assert(t.toDF.count() == 9)
    assert(t.toDF.filter(col("id") === 5).count() == 0)
    assert(t.toDF.filter(col("name") === "upd").count() == 1)
    // merge-upsert over the survivors
    t.as("m").merge(Seq((5L, "back"), (7L, "upd7")).toDF("id", "name").as("s"),
        "m.id = s.id")
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    val out = t.toDF.orderBy("id").as[(Long, String)].collect().toMap
    assert(out(5L) == "back" && out(7L) == "upd7")
    assert(t.toDF.count() == 10)
  }

  test("DV delete on a hive-partitioned table prunes and reads correctly") {
    val dir = newDir("part")
    val t = VintageTable.create(spark, dir,
      (1L to 60L).map(i => (i, i % 3, s"n$i")).toDF("id", "p", "name"),
      properties = DvProps, partitionBy = Seq("p"))
    val filesBefore = t.snapshot.files.map(_.path).toSet
    // partition-scoped sparse delete: only p=1 files are candidates
    t.delete(col("p") === 1 && col("id") <= 10)
    val snap = t.snapshot
    assert(snap.files.map(_.path).toSet == filesBefore)
    assert(snap.files.filter(_.dv.nonEmpty)
      .forall(_.partitionValues.get("p").contains("1")),
      "only p=1 files may carry DVs")
    assert(t.toDF.count() == 60 - 4) // ids 1,4,7,10 have p=1 and id<=10
    assert(t.toDF.filter(col("p") === 1).count() == 20 - 4)
    // partition pruning still works through the DV read path
    assert(t.toDF.filter(col("p") === 2).count() == 20)
  }

  test("merge-on-read UPDATE: DV-marks old rows, appends updated copies") {
    val dir = newDir("mor-update")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").repartition(2),
      properties = DvProps)
    val filesBefore = t.snapshot.files.map(_.path).toSet
    t.update(col("id") % 25 === 0, Map("name" -> lit("upd"))) // 4 rows
    val snap = t.snapshot
    assert(filesBefore.subsetOf(snap.files.map(_.path).toSet),
      "original files must survive a sparse merge-on-read update")
    assert(snap.files.map(_.dv.size).sum == 4)
    assert(t.toDF.count() == 100)
    assert(t.toDF.filter(col("name") === "upd").count() == 4)
    assert(t.toDF.filter(col("id") === 25 && col("name") =!= "upd").count() == 0)
    val params = t.history().filter(col("operation") === "UPDATE")
      .collect()(0).getAs[Map[String, String]]("operationParameters")
    assert(params.get("mode").contains("merge-on-read"))
    // change feed: update = delete of old values + insert of new ones
    val ch = t.changes(0, 1)
      .select("id", "name", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch == (Set(25L, 50L, 75L, 100L).flatMap(i =>
      Set((i, s"n$i", "delete"), (i, "upd", "insert")))))
    // time travel to before the update
    assert(t.toDFAsOf(0).filter(col("name") === "upd").count() == 0)
  }

  test("merge-on-read UPDATE falls back to rewrite past the inline cap") {
    val dir = newDir("mor-update-cap")
    val t = VintageTable.create(spark, dir,
      (1L to 60L).map(i => (i, i % 2, "x")).toDF("id", "k", "v").coalesce(1),
      properties = DvProps + (DeletionVectors.MaxInlineProp -> "5"))
    t.update(col("k") === 0, Map("v" -> lit("y"))) // 30 matches > cap 5
    val snap = t.snapshot
    assert(snap.files.forall(_.dv.isEmpty), "dense update must rewrite, not DV")
    assert(t.toDF.filter(col("v") === "y").count() == 30)
    assert(t.toDF.count() == 60)
  }

  // ------------------------------------------------ external DV sidecars

  private val SidecarProps =
    DvProps + (DeletionVectors.MaxInlineProp -> "5")

  test("delete past the inline cap but sparse writes a sidecar, not a rewrite") {
    val dir = newDir("sidecar")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    val filesBefore = t.snapshot.files.map(_.path).toSet
    t.delete(col("id") <= 20) // 20% of the file: over cap 5, under maxDeletedFraction
    val snap = t.snapshot
    assert(snap.files.map(_.path).toSet == filesBefore,
      "a wide-but-sparse delete must NOT rewrite the file")
    val f = snap.files.head
    assert(f.dv.isEmpty && f.dvRef.nonEmpty, "vector must live in a sidecar")
    assert(f.dvRef.get.count == 20)
    assert(f.dvRef.get.path.startsWith(DeletionVectors.SidecarDirName + "/"))
    // the 20 contiguous positions run-length encode to ONE sidecar row
    val runs = spark.read.parquet(s"$dir/${f.dvRef.get.path}")
      .select("pos_start", "pos_end").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(runs.length == 1 && runs(0)._2 - runs(0)._1 == 19,
      s"contiguous delete must compress to one run, got ${runs.toList}")
    assert(t.toDF.count() == 80)
    assert(t.toDF.filter(col("id") <= 20).count() == 0)
    assert(t.toDFAsOf(0).count() == 100)
    val params = t.history().filter(col("operation") === "DELETE")
      .collect()(0).getAs[Map[String, String]]("operationParameters")
    assert(params.get("deletionVectors").contains("1"))
    assert(params.get("rewrittenFiles").contains("0"))
    // change feed reports exactly the sidecar-deleted rows
    val ch = t.changes(0, 1).select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch == (1L to 20L).map(i => (i, "delete")).toSet)
  }

  test("wide sparse delete over the GLOBAL inline budget demotes to one sidecar") {
    // every file's vector fits the per-file cap, but the SUM does not:
    // the overflow must ride the distributed sidecar tier (one sidecar
    // per commit), never a driver-side collect of every position
    val dir = newDir("inline-budget")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, i % 4)).toDF("id", "bucket")
        .repartition(col("bucket")),
      properties = DvProps +
        (DeletionVectors.MaxInlineProp -> "100") + // per-file: never binds
        (DeletionVectors.MaxInlineTotalProp -> "15"),
      partitionBy = Seq("bucket")) // exactly 4 files, 25 rows each
    assert(t.snapshot.files.size == 4)
    val filesBefore = t.snapshot.files.map(_.path).toSet

    t.delete(col("id") % 10 < 4) // 10 rows in each of the 4 files

    val snap = t.snapshot
    assert(snap.files.map(_.path).toSet == filesBefore,
      "a sparse delete must not rewrite files in either tier")
    val (inline, sidecar) = snap.files.partition(_.dvRef.isEmpty)
    // budget 15 keeps exactly one 10-position vector inline
    assert(inline.count(_.dv.nonEmpty) == 1)
    assert(inline.filter(_.dv.nonEmpty).map(_.dv.size).sum == 10)
    assert(sidecar.size == 3, "overflow files must demote to the sidecar tier")
    assert(sidecar.forall(_.dv.isEmpty))
    assert(sidecar.forall(_.dvRef.get.count == 10))
    assert(sidecar.map(_.dvRef.get.path).distinct.size == 1,
      "one commit writes ONE shared sidecar for all demoted files")
    assert(t.toDF.count() == 60)
    assert(t.toDF.filter(col("id") % 10 < 4).count() == 0)
    assert(t.toDFAsOf(0).count() == 100)

    // a second sweep stacks: prior inline AND sidecar positions merge
    // (files reaching maxDeletedFraction legitimately rewrite instead)
    t.delete(col("id") % 10 === 4) // 10 more rows, buckets 0 and 2
    assert(t.toDF.count() == 50)
    assert(t.toDF.filter(col("id") % 10 === 4 || col("id") % 10 < 4).count() == 0)
    assert(t.toDFAsOf(1).count() == 60, "time travel must see the first sweep only")
  }

  test("sidecar vectors stack: a further delete supersedes with the union") {
    val dir = newDir("sidecar-stack")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 20)
    val ref1 = t.snapshot.files.head.dvRef.get
    t.delete(col("id").between(21, 30)) // grown vector 30 — still sparse
    val f = t.snapshot.files.head
    assert(f.dvRef.nonEmpty && f.dvRef.get.count == 30)
    assert(f.dvRef.get.path != ref1.path,
      "a grown vector must land in a NEW sidecar (the old one stays for time travel)")
    assert(t.toDF.count() == 70)
    assert(t.toDF.filter(col("id") <= 30).count() == 0)
    // the superseded sidecar still serves the middle version
    assert(t.toDFAsOf(1).count() == 80)
    // re-deleting already-deleted rows adds nothing
    t.delete(col("id") <= 30)
    assert(t.snapshot.files.head.dvRef.get.count == 30)
  }

  test("inline vector grows past the cap into a sidecar") {
    val dir = newDir("sidecar-grow")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 3) // inline: 3 <= cap
    assert(t.snapshot.files.head.dv.size == 3)
    assert(t.snapshot.files.head.dvRef.isEmpty)
    t.delete(col("id").between(4, 13)) // grown 13 > cap, sparse -> sidecar
    val f = t.snapshot.files.head
    assert(f.dv.isEmpty && f.dvRef.exists(_.count == 13),
      "the sidecar must absorb the prior inline positions")
    assert(t.toDF.count() == 87)
    assert(t.toDF.filter(col("id") <= 13).count() == 0)
  }

  test("compaction purges sidecar DVs; vacuum reclaims unreferenced sidecars") {
    val dir = newDir("sidecar-vacuum")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 20) // v1: sidecar
    t.compact(1)              // v2: rewrite purges the vector
    assert(t.snapshot.files.forall(f => !f.hasDv))
    assert(t.toDF.count() == 80)
    // before vacuum, time travel still reads through the sidecar
    assert(t.toDFAsOf(1).count() == 80)
    val dvRoot = new java.io.File(dir, DeletionVectors.SidecarDirName)
    assert(dvRoot.isDirectory && dvRoot.listFiles().nonEmpty)
    spark.conf.set("spark.vintage.retentionDurationCheck.enabled", "false")
    try t.vacuum(0.0)
    finally spark.conf.unset("spark.vintage.retentionDurationCheck.enabled")
    // the now-unreferenced sidecar dir is gone, current reads unharmed
    assert(!dvRoot.isDirectory || dvRoot.listFiles().isEmpty)
    assert(t.toDF.count() == 80)
  }

  test("vacuum reclaims stale .tmp- staging litter but not fresh dirs") {
    val dir = newDir("tmp-litter")
    val t = VintageTable.create(spark, dir,
      (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1))
    // simulate crashed-write litter: an old staging dir and a fresh one
    val past = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    val old = new java.io.File(dir, ".tmp-delta")
    old.mkdirs()
    val f = new java.io.File(old, "stale.parquet")
    java.nio.file.Files.writeString(f.toPath, "x")
    f.setLastModified(past)
    old.setLastModified(past)
    val fresh = new java.io.File(dir, ".tmp-fresh")
    fresh.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(fresh, "inflight").toPath, "y")
    // the object-store trap: directory statuses reporting epoch/stale
    // mod times while the staged CONTENT is fresh — reclamation must
    // grade by the newest timestamp under the dir, not the dir's own
    val epochDir = new java.io.File(dir, ".tmp-epoch")
    epochDir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(epochDir, "staged.parquet").toPath, "z")
    epochDir.setLastModified(0L)
    t.vacuum(168.0) // default retention: old litter dies, fresh survives
    assert(!old.exists(), "stale .tmp- staging dir must be reclaimed")
    assert(fresh.exists(), "a fresh (possibly in-flight) staging dir must survive")
    assert(epochDir.exists(),
      "an epoch-mod-time dir with fresh content must survive (S3A semantics)")
    assert(t.toDF.count() == 10)
  }

  test("vacuum keeps sidecars referenced by the live snapshot") {
    val dir = newDir("sidecar-live")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 20)
    spark.conf.set("spark.vintage.retentionDurationCheck.enabled", "false")
    try t.vacuum(0.0)
    finally spark.conf.unset("spark.vintage.retentionDurationCheck.enabled")
    assert(t.toDF.count() == 80, "live sidecar must survive vacuum")
    assert(t.toDF.filter(col("id") <= 20).count() == 0)
  }

  test("restore flips sidecar DV state both ways") {
    val dir = newDir("sidecar-restore")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 20) // v1
    t.restoreToVersion(0)     // v2: rows revive
    assert(t.toDF.count() == 100)
    assert(t.snapshot.files.forall(f => !f.hasDv))
    t.restoreToVersion(1)     // v3: sidecar applies again
    assert(t.toDF.count() == 80)
    assert(t.snapshot.files.head.dvRef.exists(_.count == 20))
  }

  test("sidecar DVs survive parquet checkpoint replay") {
    val dir = newDir("sidecar-checkpoint")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 20)
    (1 to 10).foreach(i =>
      t.append(Seq((1000L + i, s"x$i")).toDF("id", "name").coalesce(1)))
    assert(t.version >= VintageLog.checkpointInterval)
    VintageLog.clearSnapshotCache()
    val snap = t.snapshot
    assert(snap.files.exists(_.dvRef.exists(_.count == 20)),
      "checkpoint replay must preserve the sidecar reference")
    assert(t.toDF.count() == 80 + 10)
  }

  private case class Observed(jobs: Long, recordsRead: Long)

  /** Spark jobs started and records read across all tasks while `body`
    * runs — the observables for file-level pruning through the V1 DV
    * frame, whose inner parquet scan is invisible to the OUTER executed
    * plan, through row-level DML, and for planning-time jobs.
    */
  private def observe(body: => Unit): Observed = {
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val read = new java.util.concurrent.atomic.AtomicLong()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener events are async; give the bus a moment to drain
      val deadline = System.currentTimeMillis() + 10000
      var last = -1L
      while (System.currentTimeMillis() < deadline && read.get() != last) {
        last = read.get(); Thread.sleep(200)
      }
      Observed(jobs.get(), read.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("predicate read of a DV table scans only stat-pruned candidate files") {
    val dir = newDir("prune-read")
    // three range-partitioned files with disjoint id stats
    val t = VintageTable.create(spark, dir,
      (1L to 300L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      properties = DvProps)
    t.delete(col("id") === 5) // DV forces the V1 fallback read path
    assert(t.snapshot.files.exists(_.hasDv))
    val read = observe {
      assert(spark.read.format("vintage").load(dir)
        .filter(col("id") === 250).count() == 1)
    }.recordsRead
    // pruned: ~1 file of ~100 rows (+ tiny DV lookup); unpruned: 300
    assert(read < 200, s"DV fallback scan must stat-prune files, read $read rows")
  }

  test("row-level SQL UPDATE scans only stat-pruned candidate files") {
    val dir = Files.createTempDirectory("vintage-dv-prune-sql").toString
    spark.conf.set("spark.sql.catalog.dvpr",
      "graft.vintage.connector.VintageCatalog")
    spark.conf.set("spark.sql.catalog.dvpr.warehouse", dir)
    try {
      VintageTable.create(spark, s"$dir/t",
        (1L to 300L).map(i => (i, s"n$i")).toDF("id", "name")
          .repartitionByRange(3, col("id")).sortWithinPartitions("id"))
      val read = observe {
        // the modulo conjunct is untranslatable (forces the row-level
        // path); the range conjunct prunes files
        spark.sql("UPDATE dvpr.t SET name = 'x' WHERE id = 250 AND id % 2 = 0")
      }.recordsRead
      assert(spark.sql("SELECT count(*) FROM dvpr.t WHERE name = 'x'")
        .head().getLong(0) == 1)
      assert(read < 200,
        s"row-level scan must stat-prune files from pushed filters, read $read rows")
    } finally {
      spark.conf.unset("spark.sql.catalog.dvpr")
      spark.conf.unset("spark.sql.catalog.dvpr.warehouse")
    }
  }

  // ------------------------------------------- SQL-catalog DV reads

  /** Runs `body` with a vintage catalog `name` over `warehouse`. */
  private def withCatalog[A](name: String, warehouse: String)(body: => A): A = {
    spark.conf.set(s"spark.sql.catalog.$name",
      "graft.vintage.connector.VintageCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    try body
    finally {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.warehouse")
    }
  }

  /** A table at `<tmp>/t`, so its catalog warehouse is the parent. */
  private def warehouseOf(dir: String): String =
    new java.io.File(dir).getParent

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The SQL-catalog read `SELECT * FROM sqlName [VERSION AS OF v] [WHERE
    * where]` returns exactly what `toDF` returns for the same snapshot,
    * and plans the native scan with no join and no broadcast.
    */
  private def assertSqlMatchesToDF(t: VintageTable, sqlName: String,
      version: Option[Long], where: Option[String] = None): Unit = {
    val asOf = version.fold("")(v => s" VERSION AS OF $v")
    val text = s"SELECT * FROM $sqlName$asOf" + where.fold("")(w => s" WHERE $w")
    val df = spark.sql(text)
    val base = version.fold(t.toDF)(t.toDFAsOf)
    val want = where.fold(base)(w => base.filter(expr(w)))
    assert(rowsOf(df) == rowsOf(want), text)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("VintageNativeScan"), s"$text:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"),
      s"$text must subtract deletion vectors inside the scan:\n$plan")
  }

  test("SQL reads of inline, sidecar and superseded-sidecar DVs match toDF") {
    val dir = newDir("sql-tiers")
    val t = VintageTable.create(spark, dir,
      (1L to 200L).map(i => (i, s"n$i")).toDF("id", "name").repartition(2),
      properties = SidecarProps)
    t.delete(col("id") % 50 === 0)        // v1: inline, 2 per file at most
    t.delete(col("id").between(60, 90))   // v2: grows past the cap: sidecar
    t.delete(col("id").between(100, 120)) // v3: a new sidecar supersedes v2's
    val refs = t.snapshot.files.flatMap(_.dvRef)
    assert(refs.size == 2 && refs.map(_.path).distinct.size == 1,
      "both files' vectors share one sidecar")
    assert(t.snapshotAt(1).files.exists(_.dv.nonEmpty))
    withCatalog("dvsql", warehouseOf(dir)) {
      (None +: (0L to 3L).map(Some(_))).foreach(v =>
        assertSqlMatchesToDF(t, "dvsql.t", v))
      // parquet may apply the sidecar's file-key predicate to row groups
      // only: the other file's rows must still not apply
      spark.conf.set("parquet.filter.record-level.enabled", "false")
      try assertSqlMatchesToDF(t, "dvsql.t", None)
      finally spark.conf.unset("parquet.filter.record-level.enabled")
      assertSqlMatchesToDF(t, "dvsql.t", None, Some("id BETWEEN 55 AND 125"))
      assertSqlMatchesToDF(t, "dvsql.t", Some(2L), Some("id >= 100"))
      val desc = spark.sql("SELECT * FROM dvsql.t").queryExecution
        .executedPlan.toString
      assert(desc.contains("dvFiles="), desc)
    }
  }

  test("a legacy single-position sidecar reads the same through SQL") {
    val dir = newDir("sql-legacy")
    val t = VintageTable.create(spark, dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1),
      properties = SidecarProps)
    t.delete(col("id") <= 20 || col("id") === 50)
    val sidecar = s"$dir/${t.snapshot.files.head.dvRef.get.path}"
    // rewrite the sidecar in the format written before run-length
    // encoding: one (file_key, pos) row per position, here unsorted
    val positions = spark.read.parquet(sidecar)
      .select(col("file_key"),
        explode(sequence(col("pos_start"), col("pos_end"))).as("pos"))
      .as[(String, Long)].collect().toSeq
    val hp = new org.apache.hadoop.fs.Path(sidecar)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    positions.toDF("file_key", "pos").orderBy(desc("pos")).coalesce(1)
      .write.parquet(sidecar)
    assert(t.toDF.count() == 79)
    withCatalog("dvlegacy", warehouseOf(dir)) {
      assertSqlMatchesToDF(t, "dvlegacy.t", None)
      assertSqlMatchesToDF(t, "dvlegacy.t", None, Some("id BETWEEN 15 AND 55"))
    }
  }

  test("SQL reads of hive-partitioned and column-mapped DV tables match toDF") {
    val pdir = newDir("sql-part")
    val pt = VintageTable.create(spark, pdir,
      (1L to 60L).map(i => (i, i % 3, s"n$i")).toDF("id", "p", "name"),
      properties = DvProps, partitionBy = Seq("p"))
    pt.delete(col("p") === 1 && col("id") <= 10)
    withCatalog("dvpart", warehouseOf(pdir)) {
      assertSqlMatchesToDF(pt, "dvpart.t", None)
      assertSqlMatchesToDF(pt, "dvpart.t", None, Some("p = 1"))
      assertSqlMatchesToDF(pt, "dvpart.t", Some(0L), Some("p = 1"))
    }

    val mdir = newDir("sql-colmap")
    val mt = VintageTable.create(spark, mdir,
      (1L to 60L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "amount")
        .repartition(2),
      properties = DvProps + (ColumnMapping.ModeProp -> "name"))
    mt.delete(col("id") % 7 === 0)
    mt.renameColumn("amount", "price") // logical names now differ from the files'
    mt.delete(col("price") > 80.0)
    withCatalog("dvmap", warehouseOf(mdir)) {
      assertSqlMatchesToDF(mt, "dvmap.t", None)
      assertSqlMatchesToDF(mt, "dvmap.t", None, Some("price < 30.0"))
      assertSqlMatchesToDF(mt, "dvmap.t", Some(1L))
    }
  }

  test("a DV file split over several tasks keeps file-global row indexes") {
    val dir = newDir("sql-split")
    // small row groups, so the one data file splits into several tasks
    spark.conf.set("parquet.block.size", "8192")
    val t = try VintageTable.create(spark, dir,
        (1L to 20000L).map(i => (i, s"name-$i")).toDF("id", "name").coalesce(1),
        properties = DvProps + (DeletionVectors.MaxInlineProp -> "500"))
      finally spark.conf.unset("parquet.block.size")
    val file = t.snapshot.files.head
    val blocks = {
      val r = ParquetStats.openFile(
        new org.apache.hadoop.fs.Path(file.absolutePath(dir)),
        spark.sessionState.newHadoopConf())
      try r.getFooter.getBlocks.size finally r.close()
    }
    assert(blocks > 4, s"expected several row groups, got $blocks")
    t.delete(col("id") % 101 === 0) // v1: inline
    t.delete(col("id") % 7 === 0)   // v2: past the cap: sidecar
    assert(t.snapshotAt(1).files.head.dv.nonEmpty)
    assert(t.snapshot.files.head.dvRef.isDefined)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (file.size / 4).toString)
    try withCatalog("dvsplit", warehouseOf(dir)) {
      assert(spark.sql("SELECT * FROM dvsplit.t").rdd.getNumPartitions > 1)
      assertSqlMatchesToDF(t, "dvsplit.t", None)
      assertSqlMatchesToDF(t, "dvsplit.t", Some(1L))
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("SQL VERSION AS OF a checkpoint-replayed DV and a spilled snapshot") {
    val dir = newDir("sql-checkpoint")
    val t = VintageTable.create(spark, dir,
      (1L to 40L).map(i => (i, s"n$i")).toDF("id", "name").repartition(4),
      properties = DvProps)
    t.delete(col("id") % 5 === 0) // v1
    (1 to 10).foreach(i =>
      t.append(Seq((100L + i, s"x$i")).toDF("id", "name").coalesce(1)))
    t.delete(col("id") === 101)   // v12: DV on a tail file
    val prev = VintageLog.spillThreshold
    try withCatalog("dvcp", warehouseOf(dir)) {
      VintageLog.clearSnapshotCache()
      assertSqlMatchesToDF(t, "dvcp.t", Some(VintageLog.checkpointInterval))
      assertSqlMatchesToDF(t, "dvcp.t", None)
      // past the threshold the checkpoint spills: reads plan from the
      // spilled index, pruned distributed under a predicate
      VintageLog.spillThreshold = 5
      VintageLog.clearSnapshotCache()
      assert(t.snapshot.spilled.isDefined)
      assertSqlMatchesToDF(t, "dvcp.t", None)
      assertSqlMatchesToDF(t, "dvcp.t", None, Some("id <= 20"))
      assertSqlMatchesToDF(t, "dvcp.t", Some(11L))
    } finally {
      VintageLog.spillThreshold = prev
      VintageLog.clearSnapshotCache()
    }
  }

  test("a DV point lookup runs one Spark job through the native scan") {
    val dir = newDir("sql-lookup")
    val t = VintageTable.create(spark, dir,
      (1L to 300L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      properties = DvProps)
    t.delete(col("id") === 5 || col("id") === 250)
    withCatalog("dvlook", warehouseOf(dir)) {
      val lookup = "SELECT name FROM dvlook.t WHERE id = 251"
      spark.sql(lookup).collect() // warm the snapshot cache
      var rows = Array.empty[org.apache.spark.sql.Row]
      val seen = observe { rows = spark.sql(lookup).collect() }
      assert(rows.map(_.getString(0)).toSeq == Seq("n251"))
      assert(seen.jobs == 1, s"a DV point lookup ran ${seen.jobs} jobs")
      assert(seen.recordsRead <= 100, "the lookup must read one pruned file")
      assert(spark.sql("SELECT count(*) FROM dvlook.t WHERE id = 250")
        .head().getLong(0) == 0)
    }
  }

  /** Per file of `snap`, the live positions `0 until numRecords` minus
    * the file's deletion vector as [[DeletionVectors.dvLookup]] reads
    * it from the log and the sidecars — no scan of the data files.
    */
  private def livePositions(t: VintageTable, snap: Snapshot): Set[(String, Long)] = {
    val deleted = DeletionVectors.dvLookup(spark, t.path, snap.files, "f", "p")
      .as[(String, Long)].collect().toSet
    snap.files.flatMap { f =>
      val key = DeletionVectors.fileKey(f.absolutePath(t.path))
      (0L until f.numRecords.get).map(key -> _)
    }.filterNot(deleted).toSet
  }

  test("SQL row-level DML on DV tables reads row ids in the native scan, no join") {
    val inline = newDir("rowid-inline")
    val it = VintageTable.create(spark, inline,
      (1L to 60L).map(i => (i, s"n$i")).toDF("id", "name").repartition(2),
      properties = DvProps)
    it.delete(col("id") % 9 === 0)
    val sidecar = newDir("rowid-sidecar")
    val st = VintageTable.create(spark, sidecar,
      (1L to 200L).map(i => (i, s"n$i")).toDF("id", "name").repartition(2),
      properties = SidecarProps)
    st.delete(col("id").between(60, 90))
    assert(st.snapshot.files.exists(_.dvRef.isDefined))
    val part = newDir("rowid-part")
    val pt = VintageTable.create(spark, part,
      (1L to 60L).map(i => (i, i % 3, s"n$i")).toDF("id", "p", "name"),
      properties = DvProps, partitionBy = Seq("p"))
    pt.delete(col("p") === 1 && col("id") <= 10)
    val mapped = newDir("rowid-colmap")
    val mt = VintageTable.create(spark, mapped,
      (1L to 60L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "amount")
        .repartition(2),
      properties = DvProps + (ColumnMapping.ModeProp -> "name"))
    mt.delete(col("id") % 7 === 0)
    mt.renameColumn("amount", "price")
    Seq(it -> "rlinline", st -> "rlsidecar", pt -> "rlpart", mt -> "rlmap")
        .foreach { case (t, cat) =>
      val dir = t.path
      withCatalog(cat, warehouseOf(dir)) {
        def assertRowIds(): Unit = {
          val ids = spark.sql(s"SELECT _vintage_file, _vintage_pos FROM $cat.t")
          assert(ids.as[(String, Long)].collect().toSet ==
            livePositions(t, t.snapshot), s"$cat row ids")
        }
        assertRowIds()
        val want = rowsOf(t.toDF.filter(col("id") % 11 =!= 0))
        val dml = Seq(
          s"""MERGE INTO $cat.t x USING (SELECT * FROM $cat.t WHERE id <= 12) s
             |ON x.id = s.id WHEN MATCHED THEN UPDATE SET *""".stripMargin,
          s"UPDATE $cat.t SET id = id WHERE id % 3 = 1",
          s"DELETE FROM $cat.t WHERE id % 11 = 0")
        dml.foreach { stmt =>
          val plan = spark.sql(s"EXPLAIN $stmt").collect()(0).getString(0)
          assert(plan.contains("WriteDelta") && plan.contains("VintageNativeScan"),
            s"$cat: $stmt\n$plan")
          // MERGE joins its source (itself scanned natively); nothing else
          val joins = "\\w*Join\\b".r.findAllIn(plan).size
          val ownJoins = if (stmt.startsWith("MERGE")) 1 else 0
          assert(joins == ownJoins, s"$cat: $stmt\n$plan")
          assert(!plan.contains("ExistingRDD"), s"$cat: $stmt\n$plan")
          spark.sql(stmt)
        }
        assert(rowsOf(spark.sql(s"SELECT * FROM $cat.t")) == want, cat)
        assertRowIds()
      }
    }
  }

  /** Test-only window into commitOp for the stale-race scenario. */
  private class VintageTable2(spark: org.apache.spark.sql.SparkSession,
      path: String) {
    def commitStaleDvDelete(stale: Snapshot): Unit = {
      val t = VintageTable.forPath(spark, path)
      val f = stale.files.head
      t.commitOp(stale, "DELETE", Map("predicate" -> "test-stale"),
        Seq(f.copy(dv = Seq(0L))),
        Seq(RemoveFile(f.path, System.currentTimeMillis(), dataChange = true)),
        None, PredicateRead(org.apache.spark.sql.graftshim.ColumnExpr.expr(lit(true))))
    }
  }
}
