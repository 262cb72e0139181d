package graft.vintage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.apache.spark.sql.graftshim.ColumnExpr
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fluent MERGE builder mirroring the Delta API exercised at
  * /root/reference/README.md:124-131:
  *
  * {{{
  * VintageTable.forPath(spark, dir).as("master")
  *   .merge(submission.as("submission"), "master.KEY = submission.KEY")
  *   .whenMatched().updateAll()
  *   .whenNotMatched().insertAll()
  *   .execute()
  * }}}
  *
  * Execution is two file-granular phases (SURVEY.md §3.2): a semi join
  * discovers the files containing matched rows; a full-outer join of
  * only those files against the source produces the rewrite. Clause
  * order is first-match-wins, as in Delta/SQL MERGE.
  *
  * Schema evolution (README.md:327-388): when
  * `spark.vintage.schema.autoMerge.enabled` (the reference's
  * `spark.databricks.delta.schema.autoMerge.enabled` is honored as an
  * alias) is true, source-only columns are appended to the table
  * schema as nullable fields; pre-evolution files read them as null.
  */
class VintageMergeBuilder private[vintage] (
    table: VintageTable,
    targetAlias: Option[String],
    source: DataFrame,
    condition: Column) {

  import VintageMergeBuilder._

  private var clauses: Vector[Clause] = Vector.empty
  private var txn: Option[(String, Long)] = None

  /** Transaction watermark on the MERGE commit (Delta's
    * `txnAppId`/`txnVersion` sink contract, same semantics as
    * [[VintageTable.append(df:org\.apache\.spark\.sql\.DataFrame,txn:Option[(String,Long)])*]]):
    * when the table has already recorded `appId` at a version >=
    * `version`, the whole merge is SKIPPED — and the watermark is
    * re-checked inside the commit retry loop, so a replayed streaming
    * micro-batch (foreachBatch refresh after a crash between commit
    * and checkpoint) merges exactly once.
    */
  def withTxn(appId: String, version: Long): VintageMergeBuilder = {
    txn = Some((appId, version)); this
  }

  def whenMatched(): MatchedBuilder = new MatchedBuilder(this, None)
  def whenMatched(cond: String): MatchedBuilder = new MatchedBuilder(this, Some(expr(cond)))
  def whenMatched(cond: Column): MatchedBuilder = new MatchedBuilder(this, Some(cond))
  def whenNotMatched(): NotMatchedBuilder = new NotMatchedBuilder(this, None)
  def whenNotMatched(cond: String): NotMatchedBuilder = new NotMatchedBuilder(this, Some(expr(cond)))
  def whenNotMatched(cond: Column): NotMatchedBuilder = new NotMatchedBuilder(this, Some(cond))
  /** Delta's third clause family: target rows WITHOUT a source match
    * (`WHEN NOT MATCHED BY SOURCE`) — the sync idiom: delete or
    * downgrade rows the source no longer carries. Conditions must
    * reference only target columns (source columns are definitionally
    * absent for these rows).
    */
  def whenNotMatchedBySource(): NotMatchedBySourceBuilder =
    new NotMatchedBySourceBuilder(this, None)
  def whenNotMatchedBySource(cond: String): NotMatchedBySourceBuilder =
    new NotMatchedBySourceBuilder(this, Some(expr(cond)))
  def whenNotMatchedBySource(cond: Column): NotMatchedBySourceBuilder =
    new NotMatchedBySourceBuilder(this, Some(cond))

  private[vintage] def add(c: Clause): VintageMergeBuilder = { clauses :+= c; this }

  def execute(): Unit = {
    val spark = table.spark
    val snap = table.snapshot
    val txnAction = txn.map { case (a, v) => Txn(a, v) }
    if (txnAction.exists(x => snap.txns.get(x.appId).exists(_ >= x.version)))
      return // this (appId, version) already committed — exactly-once skip

    // MERGE SOURCE MATERIALIZATION (the Delta idiom): the source frame
    // is evaluated up to three times below — the key-range stats agg,
    // the touched-file semi join, and the rewrite full-outer join — so
    // an unpersisted source re-runs its whole derivation thrice and
    // re-embeds it in every phase's plan. Persist it (lazily — the
    // stats agg is the materializing action) for the duration of the
    // merge unless the caller already holds its own persist. Scale
    // shape: a merge source is the batch-sized message side, and
    // MEMORY_AND_DISK spills rather than OOMs if it is not.
    val materializeSource =
      source.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (materializeSource)
      source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try executeInner(spark, snap, txnAction)
    finally if (materializeSource) source.unpersist(blocking = false)
  }

  private def executeInner(spark: org.apache.spark.sql.SparkSession,
      snap: Snapshot, txnAction: Option[Txn]): Unit = {
    // identity columns: no clause may assign a GENERATED ALWAYS id —
    // not SET (matched or insert), and not UPDATE ALL/INSERT ALL when
    // the SOURCE carries the column (that is an explicit value too).
    // BY DEFAULT columns pass, and the mark advances past what they
    // supply. Inserted rows that omit the column get allocated ids
    // (the projection below yields NULL exactly there; fillNulls
    // replaces those with the allocation expression).
    val idSpecs = IdentityColumns.specs(snap.properties)
    if (idSpecs.nonEmpty) clauses.foreach { cl =>
      cl.action match {
        case SetCols(set) =>
          IdentityColumns.validateAssignments(set.keys, snap.properties)
        case UpdateAll | InsertAll =>
          idSpecs.foreach { case (c, s) =>
            require(s.allowExplicit ||
              !source.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
              s"merge source supplies identity column $c, which is " +
              s"GENERATED ALWAYS — drop it from the source or declare " +
              s"the column GENERATED BY DEFAULT")
          }
        case DeleteRow => ()
      }
    }

    val autoMerge =
      spark.conf.getOption("spark.vintage.schema.autoMerge.enabled")
        .orElse(spark.conf.getOption("spark.databricks.delta.schema.autoMerge.enabled"))
        .exists(_.equalsIgnoreCase("true"))

    val targetFields = snap.schema.fields
    val targetCols = targetFields.map(_.name)
    val sourceOnly = source.schema.fields
      .filterNot(f => targetCols.exists(_.equalsIgnoreCase(f.name)))
    if (sourceOnly.nonEmpty && !autoMerge &&
        clauses.exists {
          case Clause(_, _, UpdateAll, _) | Clause(_, _, InsertAll, _) => true
          case _ => false
        })
      throw new IllegalArgumentException(
        s"source columns ${sourceOnly.map(_.name).mkString(",")} not in target " +
        "schema; enable spark.vintage.schema.autoMerge.enabled for schema evolution")
    val finalSchema: StructType =
      if (autoMerge && sourceOnly.nonEmpty)
        ColumnMapping.evolve(snap.schema,
          StructType(targetFields ++ sourceOnly.map(_.copy(nullable = true))),
          ColumnMapping.active(snap.properties))
      else snap.schema

    // ---- phase 1: touched-file discovery. Stats pruning first: the
    // source's min/max per equi-join key (one tiny agg job) bounds the
    // target files worth scanning, so a 4-row merge message against a
    // 100 TB table reads only the files whose key range intersects the
    // message — then the semi join confirms actual matches.
    val srcAlias = sourceAliasOf(source)
    val keyPairs = FileSkipping.equiJoinKeys(
      ColumnExpr.expr(condition), targetAlias, srcAlias,
      targetCols.toSeq, source.schema.fieldNames.toSeq)
    val rangeCond: Option[Column] =
      if (keyPairs.isEmpty) None
      else {
        val aggs = keyPairs.flatMap { case (_, s) => Seq(min(col(s)), max(col(s))) }
        val row = source.agg(aggs.head, aggs.tail: _*).head()
        Some(keyPairs.zipWithIndex.map { case ((t, _), i) =>
          val mn = row.get(2 * i); val mx = row.get(2 * i + 1)
          if (mn == null) lit(false) // all-null source keys match nothing
          else col(t) >= lit(mn) && col(t) <= lit(mx)
        }.reduce(_ && _))
      }
    val candidates: Seq[AddFile] = rangeCond match {
      case _ if snap.files.isEmpty => Nil
      case None => snap.files
      case Some(rc) =>
        FileSkipping.candidates(snap.schema, snap.statFiles, ColumnExpr.expr(rc))
    }
    val touchedMatched: Set[String] =
      if (candidates.isEmpty) Set.empty
      else {
        val candDf = table.readerFor(snap)
          .parquet(candidates.map(_.absolutePath(table.path)): _*)
        val tRaw = candDf.select(
          col("_metadata.file_path").as(VintageTable.FileCol) +: table.logicalCols(snap): _*)
        aliased(tRaw, targetAlias)
          .join(aliased(source, srcAlias), condition, "left_semi")
          .select(VintageTable.FileCol).distinct()
          .collect().map(r => table.relativize(r.getString(0))).toSet
      }
    // NOT MATCHED BY SOURCE clauses act on target rows with NO match —
    // those can live in ANY file, so file selection prunes only by the
    // clause conditions (an unconditional clause reads every file; the
    // join below decides row-by-row which are actually unmatched)
    val bySourceClauses = clauses.zipWithIndex.filter(_._1.bySource)
    bySourceClauses.foreach { case (cl, _) =>
      (cl.cond, srcAlias) match {
        case (Some(c), Some(sa)) =>
          val refs = ColumnExpr.expr(c).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                if a.nameParts.length > 1 => a.nameParts.head
          }
          require(!refs.exists(_.equalsIgnoreCase(sa)),
            s"whenNotMatchedBySource condition references source alias '$sa': " +
            "source columns are definitionally absent for unmatched target rows")
        case _ => ()
      }
    }
    val touchedBySource: Set[String] =
      if (bySourceClauses.isEmpty) Set.empty
      else {
        val conds = bySourceClauses.map(_._1.cond)
        val files =
          if (conds.exists(_.isEmpty)) snap.files
          else FileSkipping.candidates(snap.schema, snap.statFiles,
            ColumnExpr.expr(conds.flatten.reduce(_ || _)))
        files.map(_.path).toSet
      }
    val touched: Set[String] = touchedMatched ++ touchedBySource

    // ---- phase 2: rewrite touched files + inserts via one full outer join
    // (row-tracked tables read the touched rows WITH their ids and the
    // projection passes them through, so matched/copied rows keep them;
    // inserted rows carry null and fall back to their file's base range)
    val tracked = RowTracking.enabled(snap.properties)
    val tBase =
      if (touched.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          if (!tracked) snap.schema
          else StructType(snap.schema.fields :+
            org.apache.spark.sql.types.StructField(RowTracking.MaterializedCol,
              org.apache.spark.sql.types.LongType)))
      else if (tracked) table.rewriteSource(snap, touched)._1
      else table.readFiles(snap, touched)
    val tMarked = aliased(tBase.withColumn(TgtMark, lit(true)), targetAlias)
    val sMarked = aliased(source.withColumn(SrcMark, lit(true)), sourceAliasOf(source))

    val joined = tMarked.join(sMarked, condition, "full_outer")
    val matched = col(TgtMark).isNotNull && col(SrcMark).isNotNull
    val srcOnly = col(TgtMark).isNull && col(SrcMark).isNotNull
    val tgtOnly = col(TgtMark).isNotNull && col(SrcMark).isNull

    // row action: first matching clause wins within each family; KEEP
    // for untouched target rows; DROP for source rows no insert clause
    // accepts.
    val matchedClauses = clauses.zipWithIndex.filter { case (c, _) => c.matched && !c.bySource }
    val notMatchedClauses = clauses.zipWithIndex.filterNot(_._1.matched)
    var act: Column = lit(Keep)
    // build right-to-left so earlier clauses take precedence
    (matchedClauses.reverse).foreach { case (cl, i) =>
      val code = if (cl.action == DeleteRow) Drop else ClauseBase + i
      act = when(matched && cl.cond.getOrElse(lit(true)), lit(code)).otherwise(act)
    }
    var insertAct: Column = lit(Drop)
    (notMatchedClauses.reverse).foreach { case (cl, i) =>
      insertAct = when(cl.cond.getOrElse(lit(true)), lit(ClauseBase + i)).otherwise(insertAct)
    }
    // unmatched TARGET rows: by-source clauses; default KEEP (a row no
    // clause claims is copied through unchanged)
    var bySrcAct: Column = lit(Keep)
    (bySourceClauses.reverse).foreach { case (cl, i) =>
      val code = if (cl.action == DeleteRow) Drop else ClauseBase + i
      bySrcAct = when(cl.cond.getOrElse(lit(true)), lit(code)).otherwise(bySrcAct)
    }
    act = when(srcOnly, insertAct)
      .otherwise(when(tgtOnly, bySrcAct).otherwise(act))

    val withAct = joined.withColumn(ActCol, act).filter(col(ActCol) =!= Drop)

    def tgtRef(c: String): Column =
      if (targetCols.exists(_.equalsIgnoreCase(c)))
        targetAlias.map(a => col(s"$a.$c")).getOrElse(tMarked(c))
      else lit(null)
    def srcRef(c: String): Column =
      if (source.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        sourceAliasOf(source).map(a => col(s"$a.$c")).getOrElse(sMarked(c))
      else lit(null)

    val outCols = finalSchema.fields.toIndexedSeq.map { f =>
      var e: Column = tgtRef(f.name)
      (matchedClauses ++ notMatchedClauses ++ bySourceClauses).foreach { case (cl, i) =>
        val clauseExpr: Option[Column] = cl.action match {
          case UpdateAll | InsertAll =>
            Some(if (source.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
              srcRef(f.name) else if (cl.action == InsertAll) lit(null) else tgtRef(f.name))
          case SetCols(m) =>
            m.collectFirst { case (k, v) if k.equalsIgnoreCase(f.name) => v }
              .orElse(Some(if (cl.matched) tgtRef(f.name) else lit(null)))
          case DeleteRow => None
        }
        clauseExpr.foreach { ce =>
          e = when(col(ActCol) === (ClauseBase + i), ce).otherwise(e)
        }
      }
      e.cast(f.dataType).as(f.name)
    }

    val allOutCols =
      if (!tracked) outCols
      else outCols :+ targetAlias
        .map(a => col(s"$a.${RowTracking.MaterializedCol}"))
        .getOrElse(tMarked(RowTracking.MaterializedCol))
        .as(RowTracking.MaterializedCol)
    val (rewritten, _) = IdentityColumns.fillNulls(
      withAct.select(allOutCols: _*), snap.properties)
    // Small-file mitigation (reference README.md:394-397): with the
    // flag on, the rewrite is coalesced to ~the number of touched input
    // files instead of fanning out to shuffle.partitions output files.
    val repartitionBeforeWrite =
      spark.conf.getOption("spark.vintage.merge.repartitionBeforeWrite")
        .orElse(spark.conf.getOption("spark.delta.merge.repartitionBeforeWrite"))
        .exists(_.equalsIgnoreCase("true"))
    val toWrite =
      if (repartitionBeforeWrite) rewritten.repartition(math.max(1, touched.size))
      else rewritten
    val adds =
      if (touched.isEmpty && notMatchedClauses.isEmpty) Nil
      else VintageTable.writeFiles(spark, toWrite, table.path, dataChange = true,
        snap.partitionColumns, snap.properties, finalSchema)
    // mark advance only (generated = Nil skips the allocation-range
    // check: a merge rewrite mixes freshly allocated ids with the
    // touched files' OLD ids, so "everything beyond base" cannot hold)
    val idProps =
      if (idSpecs.isEmpty) Map.empty[String, String]
      else IdentityColumns.advance(spark, table.path, finalSchema,
        snap.properties, adds, generated = Nil)
    val meta =
      if (finalSchema != snap.schema || idProps.nonEmpty)
        Some(Metadata(finalSchema.json, snap.properties ++ idProps,
          snap.partitionColumns))
      else None
    // read/write conflict scope: the merge read every target row whose
    // key falls in the source's key range; without extractable equi-join
    // keys — or with by-source clauses, which inspect every unmatched
    // target row — it read the whole table
    val scope =
      if (bySourceClauses.nonEmpty) FullRead
      else rangeCond
        .map(rc => PredicateRead(ColumnExpr.expr(rc)): ReadScope)
        .getOrElse(FullRead)
    table.commitOp(snap, "MERGE",
      Map("predicate" -> s"(${condition.toString})"),
      adds, table.removesFor(snap, touched), meta, scope, txn = txnAction)
  }

  private def aliased(df: DataFrame, a: Option[String]): DataFrame =
    a.fold(df)(df.as(_))
}

object VintageMergeBuilder {
  private[vintage] val TgtMark = "__vintage_tgt"
  private[vintage] val SrcMark = "__vintage_src"
  private[vintage] val ActCol = "__vintage_act"
  private[vintage] val Keep = 0
  private[vintage] val Drop = -1
  private[vintage] val ClauseBase = 10

  private[vintage] sealed trait MergeAction
  private[vintage] case object UpdateAll extends MergeAction
  private[vintage] case object InsertAll extends MergeAction
  private[vintage] case object DeleteRow extends MergeAction
  private[vintage] case class SetCols(set: Map[String, Column]) extends MergeAction

  /** `matched=true, bySource=false` → WHEN MATCHED;
    * `matched=false` → WHEN NOT MATCHED (insert);
    * `matched=true, bySource=true` → WHEN NOT MATCHED BY SOURCE
    * (target-row family: unset columns keep their target value, like
    * matched updates).
    */
  private[vintage] case class Clause(
      matched: Boolean, cond: Option[Column], action: MergeAction,
      bySource: Boolean = false)

  /** Alias name of a DataFrame created via `df.as("name")`, if any. */
  private[vintage] def sourceAliasOf(df: DataFrame): Option[String] =
    df.queryExecution.logical match {
      case SubqueryAlias(id, _) => Some(id.name)
      case _ => None
    }

  class MatchedBuilder private[vintage] (b: VintageMergeBuilder, cond: Option[Column]) {
    /** Update every target column from the same-named source column. */
    def updateAll(): VintageMergeBuilder = b.add(Clause(matched = true, cond, UpdateAll))
    def update(set: Map[String, Column]): VintageMergeBuilder =
      b.add(Clause(matched = true, cond, SetCols(set)))
    def delete(): VintageMergeBuilder = b.add(Clause(matched = true, cond, DeleteRow))
  }

  class NotMatchedBuilder private[vintage] (b: VintageMergeBuilder, cond: Option[Column]) {
    def insertAll(): VintageMergeBuilder = b.add(Clause(matched = false, cond, InsertAll))
    def insert(set: Map[String, Column]): VintageMergeBuilder =
      b.add(Clause(matched = false, cond, SetCols(set)))
  }

  class NotMatchedBySourceBuilder private[vintage] (
      b: VintageMergeBuilder, cond: Option[Column]) {
    def update(set: Map[String, Column]): VintageMergeBuilder =
      b.add(Clause(matched = true, cond, SetCols(set), bySource = true))
    def delete(): VintageMergeBuilder =
      b.add(Clause(matched = true, cond, DeleteRow, bySource = true))
  }
}
