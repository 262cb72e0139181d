package vbench

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Runs one workload and prints its result as one JSON line:
  * {{{
  * vbench.Main --workload <ingest_cow|sql_mor_mixed>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <n>
  * }}}
  * Set-up (session start, table creation, history build, warm-up) is
  * timed as one wall-clock span apart from the closed measurement loop. With `--trace 1` the loop also records
  * spans and engine counters, and the per-layer metrics are reported.
  */
object Main {
  val Workloads = Seq("ingest_cow", "sql_mor_mixed")
  val shape = Shape(currencies = 40, exrTypes = 4, periods = 300, files = 8)
  val Vintages = 24
  val OptimizeEvery = 3

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val work = args("work")
    val cores = args("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"vbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.extensions", "graft.vintage.connector.VintageSqlExtension")
      .config("spark.sql.catalog.vb", "graft.vintage.connector.VintageCatalog")
      .config("spark.sql.catalog.vb.warehouse", s"$work/wh")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = if (traced) Some(new JobGroupCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, new Tracer(traced))
    val wh = s"$work/wh"
    val w: Workload = workload match {
      case "ingest_cow" => new IngestCow(ctx, shape, seed, wh)
      case "sql_mor_mixed" => new SqlMorMixed(ctx, shape, seed, wh, Vintages, OptimizeEvery)
    }

    val createS = timeS(w.createTable())
    val buildS = timeS(w.build())
    val warmupS = timeS((0 until w.warmupOps).foreach(_ => w.step()))
    val setupS = (System.nanoTime() - t0) / 1e9

    // the timed closed loop
    ctx.tracer.spans.clear()
    ctx.obs = new LayerObs
    ctx.timing = true
    val v0 = w.model.version
    val logBefore = logFiles(w)
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) w.step()
    val elapsedS = (System.nanoTime() - start) / 1e9
    ctx.timing = false
    val v1 = w.model.version
    val logAfter = logFiles(w)

    val recs = ctx.records.toSeq
    val failed = recs.count(!_.ok)
    val okLat = recs.filter(_.ok).map(_.latencyNs / 1e6)
    val verifyErrors = w.verify()
    // one client in a closed loop: ops_per_s is the reciprocal of the
    // mean operation latency, so it gates latency at the workload's mix
    val endToEnd = Seq(
      ("ops_per_s", recs.count(_.ok) / elapsedS, "1/s"),
      ("setup_s", setupS, "s"))

    val perLayer = if (traced) {
      org.apache.spark.vbenchshim.Bus.drain(spark.sparkContext)
      layerMetrics(ctx, counters.get, recs, v1 - v0, logBefore, logAfter, elapsedS) ++ Seq(
        ("table.bytes_stored_per_live_byte", w.bytesStoredPerLiveByte(), "ratio"))
    } else Nil

    val byKind = recs.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      val lat = rs.filter(_.ok).map(_.latencyNs / 1e6)
      val tail = Stats.tail(lat)
      k -> Map[String, Any]("attempted" -> rs.size, "failed" -> rs.count(!_.ok),
        "p50_ms" -> Stats.median(lat),
        "tail_ms" -> tail.map(_._1),
        "tail_percentile" -> tail.map(_._2),
        "samples_beyond_tail" -> (if (tail.isDefined) 10 else 0))
    }
    val allTail = Stats.tail(okLat)
    val out = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores,
      "correct" -> (failed == 0 && verifyErrors.isEmpty),
      "attempted" -> recs.size, "failed" -> failed,
      "error_rate" -> (if (recs.isEmpty) 0.0 else failed.toDouble / recs.size),
      "errors" -> (recs.flatMap(_.error).take(5) ++ verifyErrors.take(5)),
      "end_to_end" -> metrics(endToEnd),
      "per_layer" -> metrics(perLayer),
      "latency_by_kind" -> byKind.toMap,
      "tail_ms" -> allTail.map(_._1),
      "tail_percentile" -> allTail.map(_._2),
      "p50_ms" -> Stats.median(okLat),
      "elapsed_s" -> elapsedS,
      "setup" -> Map("session_s" -> sessionS, "create_s" -> createS,
        "build_s" -> buildS, "warmup_s" -> warmupS),
      "sizes" -> (w.sizes ++ Map("version_start" -> v0, "version_end" -> v1)))
    w.deleteDir(wh)
    spark.stop()
    implicit val formats: Formats = DefaultFormats
    println(Serialization.write(out))
  }

  private def timeS(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  private def metrics(ms: Seq[(String, Double, String)]): Map[String, Any] =
    ms.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap

  private val CheckpointFile = """(\d{20})\.checkpoint(?:\.\d{10}\.\d{10})?\.(?:json|parquet)""".r

  /** The versions checkpointed by the named log files: a multi-part
    * checkpoint counts once; `_last_checkpoint` and checksum sidecars
    * are not checkpoints.
    */
  def checkpointVersions(names: Iterable[String]): Set[Long] =
    names.collect { case CheckpointFile(v) => v.toLong }.toSet

  /** Commit and checkpoint files of the table's log, with sizes. */
  private def logFiles(w: Workload): Map[String, Long] = {
    val dir = new java.io.File(s"${w.path}/${graft.vintage.VintageLog.LogDirName}")
    Option(dir.listFiles()).toSeq.flatten.map(f => f.getName -> f.length).toMap
  }

  private def layerMetrics(ctx: Ctx, counters: JobGroupCounters, recs: Seq[OpRecord],
      commits: Long, logBefore: Map[String, Long], logAfter: Map[String, Long],
      elapsedS: Double): Seq[(String, Double, String)] = {
    val spans = ctx.tracer.spans.toSeq
    val self = Tracer.selfTimes(spans)
    def med(name: String, selfTime: Boolean = false): Double =
      Stats.median(spans.filter(_.name == name)
        .map(s => (if (selfTime) self(s.id) else s.durNs) / 1e6))
    val o = ctx.obs
    val newLog = logAfter.filter { case (n, _) => !logBefore.contains(n) }
    val commitBytes = newLog.filter(_._1.matches("\\d+\\.json")).values.sum
    val checkpoints = checkpointVersions(newLog.keys).size
    val ops = recs.size.max(1).toDouble
    val work = recs.map(r => counters.get(s"op-${r.id}"))
    val readWork = o.reads.map { case (id, _) => counters.get(s"op-$id") }
    val matched = o.reads.map(_._2).sum
    val dml = o.commits.filter(_.dml)
    def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b
    def perOp(xs: Seq[Long]): Double = xs.sum.toDouble / ops
    def meanL(xs: Iterable[Long]): Double = Stats.mean(xs.map(_.toDouble).toSeq)
    Seq(
      ("log.snapshot_ms", med("log.snapshot"), "ms"),
      ("log.list_ms", med("log.list"), "ms"),
      ("log.commits", commits.toDouble, "count"),
      ("log.checkpoints", checkpoints.toDouble, "count"),
      ("log.bytes_per_commit", ratio(commitBytes, commits), "bytes"),
      ("skip.plan_ms", med("skip.plan"), "ms"),
      ("skip.files_total", meanL(o.skip.map(_._1)), "count"),
      ("skip.files_candidate", meanL(o.skip.map(_._2)), "count"),
      ("skip.prune_ratio", ratio(o.skip.map(s => s._1 - s._2).sum, o.skip.map(_._1).sum), "ratio"),
      ("scan.exec_ms", med("scan.exec", selfTime = true), "ms"),
      ("scan.bytes_read", meanL(readWork.map(_.bytesRead)), "bytes"),
      ("scan.rows_read_per_row_returned", ratio(readWork.map(_.recordsRead).sum, matched), "ratio"),
      ("scan.dv_files", meanL(o.dv.map(_._1)), "count"),
      ("scan.dv_rows", meanL(o.dv.map(_._2)), "count"),
      ("write.files_added", meanL(o.commits.map(_.filesAdded)), "count"),
      ("write.bytes_added", meanL(o.commits.map(_.bytesAdded)), "bytes"),
      ("write.bytes_per_changed_row",
        ratio(o.commits.map(_.bytesAdded).sum, o.commits.map(_.changedRows).sum), "bytes"),
      ("dml.exec_ms", med("dml.exec", selfTime = true), "ms"),
      ("dml.files_removed", meanL(dml.map(_.filesRemoved)), "count"),
      ("dml.dv_added", meanL(dml.map(_.dvAdded)), "count"),
      ("dml.rows_rewritten_per_changed_row",
        ratio(dml.map(_.rowsAdded).sum, dml.map(_.changedRows).sum), "ratio"),
      ("sql.analyze_ms", med("sql.analyze"), "ms"),
      ("maint.compact_ms", med("maint.compact", selfTime = true), "ms"),
      ("maint.files_after", meanL(o.compactions.map(_._1)), "count"),
      ("maint.dv_rows_purged", meanL(o.compactions.map(_._2)), "count"),
      ("spark.jobs_per_op", perOp(work.map(_.jobs)), "count"),
      ("spark.stages_per_op", perOp(work.map(_.stages)), "count"),
      ("spark.tasks_per_op", perOp(work.map(_.tasks)), "count"),
      ("spark.shuffle_bytes_per_op", perOp(work.map(_.shuffleBytes)), "bytes"),
      ("spark.spill_bytes", work.map(_.spillBytes).sum.toDouble, "bytes"),
      ("jvm.gc_ms_per_op", perOp(o.gcMs.toSeq), "ms"),
      ("spark.cached_bytes_left", o.cached.maxOption.getOrElse(0L).toDouble, "bytes"),
      ("trace.ops_per_s", recs.count(_.ok) / elapsedS, "1/s"))
  }
}
