package graftbench

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.gen.WalGen
import graft.lake.LakeTable
import graft.merge.{CdcMerge, Compactor}
import graft.model.{Schemas, TranscriptRow}
import graft.sql.LakeCatalog
import graft.stream.CdcStream

/** One reader against a merge-on-read table the program itself built:
  * a compacted base under 4 delta epochs, with key blooms. The reader's mix
  * is point lookups (hot and cold keys), filtered reads (DataFrame and SQL,
  * one of them time-travelling) and full reads (snapshot, change feed).
  */
object LakeRead {
  val CatchupEvents = 100000L
  val CatchupChunks = 2
  val DeltaEpochs = 4
  val DeltaEvents = 10000L
  val Name = "perfbench_lake"
  /** Nominal length of one read cycle on the reference host. */
  val CycleS = 5.0

  sealed trait Kind
  case object Point extends Kind
  case object Filter extends Kind
  case object Scan extends Kind

  final class Fixture(ctx: Ctx) {
    val spark = ctx.spark
    val all = Cdc.config(ctx.seed, CatchupEvents + DeltaEpochs * DeltaEvents)
    val catchup = all.copy(numEvents = CatchupEvents)
    val dir = ctx.dir("table")
    var walS, buildS, oracleS = 0.0
    var v0 = 0L

    val table: LakeTable = {
      val (_, w1) = Time(WalGen.writeWal(spark, ctx.dir("wal"), catchup, CatchupChunks))
      val t = LakeTable.create(spark, dir, Schemas.transcript, Cdc.Buckets)
      val (_, b1) = Time {
        // the shipped stream defaults, then the compaction their cadence
        // reaches every 8th batch: an all-base table
        CdcStream.runToCompletion(spark, ctx.dir("wal"), t, ctx.dir("cp"))
        Compactor.compactIfNeeded(t, deltaThreshold = 1)
      }
      v0 = t.currentVersion
      val (files, w2) = Time(WalGen.writeWal(spark, ctx.dir("deltas"), all, DeltaEpochs, from = CatchupEvents))
      val (_, b2) = Time {
        files.map(_.toString).sorted.foreach { f =>
          CdcMerge.apply(t, spark.read.schema(Schemas.changeEvent).parquet(f),
            t.manifest.lastEpoch + 1, streamId = "perfbench-deltas")
        }
        t.buildBlooms()
      }
      walS = w1 + w2
      buildS = b1 + b2
      t
    }
    LakeCatalog.register(Name, dir)
    val vEnd = table.currentVersion

    // the expected results, from the generator's reducer
    val (oracle, oracleTime) = Time {
      val endState = Oracle.liveRows(WalGen.oracleState(all))
      val startState = Oracle.liveRows(WalGen.oracleState(catchup))
      val per = DeltaEvents
      val changes = (0 until DeltaEpochs).flatMap(c =>
        Oracle.batchChanges(all, CatchupEvents + c * per, CatchupEvents + (c + 1) * per))
      (endState, startState, changes)
    }
    oracleS = oracleTime
    val (endRows, startRows, changeRows) = oracle
    val byConv: Map[String, Seq[TranscriptRow]] = endRows.groupBy(_.conv_id)

    private val rng = new scala.util.Random(ctx.seed)
    private def conv(i: Long) = f"conv$i%08d"
    /** Zipf-hot keys sit at the low conversation indexes and have rows in
      * every delta epoch; cold keys, high up, mostly only in base files.
      */
    val hotKeys: Seq[String] = Seq.fill(9)(conv(rng.nextInt(8).toLong))
    val coldKeys: Seq[String] = Seq.fill(3)(conv(Cdc.Convs / 2 + rng.nextInt((Cdc.Convs / 2).toInt)))
    private def tsAt(frac: Double) =
      new Timestamp(all.baseTsMillis + (all.numEvents * frac).toLong * 1000L)
    val recentTs: Timestamp = tsAt(0.9 + 0.05 * rng.nextDouble())
    val sqlTs: Timestamp = tsAt(0.8 + 0.1 * rng.nextDouble())
    val oldTs: Timestamp = tsAt(0.5 + 0.3 * rng.nextDouble())

    private def expect(rows: Seq[TranscriptRow], keep: TranscriptRow => Boolean) =
      Oracle.digest(Oracle.frame(spark, rows.filter(keep)))
    private def ge(t: Timestamp)(r: TranscriptRow) = r.ts != null && !r.ts.before(t)

    val whereFilter = col("ts") >= lit(recentTs)
    val sqlWhere = s"SELECT conv_id, turn_idx, role, text, tool, ts FROM $Name " +
      s"WHERE ts >= timestamp_millis(${sqlTs.getTime}) AND role = 'user'"
    val sqlAsOf = s"SELECT conv_id, turn_idx, role, text, tool, ts FROM $Name VERSION AS OF $v0 " +
      s"WHERE ts >= timestamp_millis(${oldTs.getTime})"
    val expected: Map[String, Oracle.Digest] = Map(
      "snapshot_where" -> expect(endRows, ge(recentTs)),
      "sql_where" -> expect(endRows, r => ge(sqlTs)(r) && r.role == "user"),
      "sql_as_of" -> expect(startRows, ge(oldTs)),
      "snapshot" -> expect(endRows, _ => true),
      "changes" -> Oracle.digest(spark.createDataFrame(changeRows)))
    val liveRows: Long = endRows.size.toLong
    var pointFailures = 0

    def point(key: String): Boolean = {
      val got = table.readConversation(key).collect().map(r =>
        (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4), r.getTimestamp(5))).toSeq
      val want = byConv.getOrElse(key, Nil).sortBy(_.turn_idx)
        .map(r => (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts))
      got == want
    }

    def frames: Map[String, () => DataFrame] = Map(
      "snapshot_where" -> (() => table.snapshotWhere(whereFilter)),
      "sql_where" -> (() => spark.sql(sqlWhere)),
      "sql_as_of" -> (() => spark.sql(sqlAsOf)),
      "snapshot" -> (() => table.snapshot()),
      "changes" -> (() => table.changesBetween(v0, vEnd)))

    /** Runs every non-point read once more and compares its digest. */
    def checkFrames(): Set[String] =
      frames.collect { case (k, f) if Oracle.digest(f()) != expected(k) => k }.toSet
  }

  /** The reader's cycle: 12 point lookups, 9 of them on hot keys (so the
    * median lookup is a merge-on-read one), interleaved with 5 other reads.
    * Two cycles give 24 lookups, enough for a tail above the median.
    */
  def cycle(f: Fixture): Seq[(String, Kind)] = {
    def p(k: String) = s"point:$k" -> (Point: Kind)
    val Seq(h0, h1, h2, h3, h4, h5, h6, h7, h8) = f.hotKeys
    val Seq(c0, c1, c2) = f.coldKeys
    Seq(p(h0), p(h1), p(c0), "snapshot_where" -> Filter, p(h2), p(h3), p(h4), "sql_where" -> Filter,
      p(c1), p(h5), p(h6), "sql_as_of" -> Filter, p(h7), p(c2), p(h8), "snapshot" -> Scan, "changes" -> Scan)
  }

  /** Runs one read untraced. */
  private def plain(f: Fixture, label: String): Unit =
    if (label.startsWith("point:")) { if (!f.point(label.drop(6))) f.pointFailures += 1 }
    else Noop(f.frames(label)())

  def run(ctx: Ctx): Outcome = {
    val (f, setupS) = Time(new Fixture(ctx))
    if (ctx.trace) return traced(ctx, f, setupS)
    // whole cycles, so every run reads the same mix
    val timed = ctx.closedLoop(CycleS)(_ => cycle(f).map { case (label, kind) =>
      ((label, kind), Time(plain(f, label))._2)
    }).flatMap(_._1)
    val badFrames = f.checkFrames()
    val failed = f.pointFailures + timed.count(t => badFrames.contains(t._1._1))
    def ms(k: Kind) = timed.collect { case ((_, `k`), s) => s * 1000 }
    val points = ms(Point)
    val readsPerS = timed.size / timed.map(_._2).sum
    Outcome(
      attempted = timed.size.toLong, failed = failed.toLong, setupS = setupS,
      throughputPerS = readsPerS, opMs = points,
      detail = Seq(
        Metric("read_ops_per_s", readsPerS, "ops/s"),
        Metric("read_point_p50_ms", Stats.median(points), "ms"),
        Metric("read_filter_p50_ms", Stats.median(ms(Filter)), "ms"),
        Metric("read_scan_p50_ms", Stats.median(ms(Scan)), "ms")) ++
        Stats.tail(points).map(t => Metric("read_point_tail_ms", t.value, "ms")),
      layers = Map.empty,
      notes = Seq(s"${timed.size} reads; table v${f.v0}..v${f.vEnd}; set-up: WAL ${f.walS}s, " +
        s"build ${f.buildS}s, oracle ${f.oracleS}s; " +
        s"failed frames: ${badFrames.mkString(",")}; failed points: ${f.pointFailures}"))
  }

  /** The traced run: after a warm-up cycle, whole cycles alternate between
    * untraced and traced (job-group listener on, each read inside a span
    * around the program's calls), so the two can be compared for the
    * tracing overhead.
    */
  private def traced(ctx: Ctx, f: Fixture, setupS: Double): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val tracer = new Tracer(ctx.runId, sc)
    val listener = new JobGroupListener
    val ops = cycle(f)
    val filesPerPoint, keptRatio, analysisMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var scanRows = 0L
    def tracedRead(label: String): Unit =
      if (label.startsWith("point:")) tracer.span("read.point") {
        val key = label.drop(6)
        filesPerPoint += tracer.span("lake.files_for_key")(f.table.filesForConversation(key)).size
        if (!f.point(key)) f.pointFailures += 1
      }
      else if (label == "snapshot_where") tracer.span("read.filter") {
        val (kept, total) = tracer.span("lake.prune")(f.table.pruneInfo(f.whereFilter))
        keptRatio += kept.toDouble / total
        Noop(f.frames(label)())
      }
      else if (label.startsWith("sql_")) tracer.span("sql.select") {
        val df = f.frames(label)()
        analysisMs += df.queryExecution.tracker.phases.get("analysis").fold(0.0)(_.durationMs.toDouble)
        Noop(df)
      }
      else tracer.span("read.scan") {
        scanRows += f.expected(label).rows
        Noop(f.frames(label)())
      }
    // after an untimed warm-up cycle, whole cycles alternate between
    // untraced and traced, at least U-T-U, so traced cycles are bracketed
    ops.foreach { case (label, _) => plain(f, label) }
    def oneCycle(i: Int) = ops.map { case (label, kind) =>
      val on = i % 2 == 1
      if (!on) (kind, on, Time(plain(f, label))._2)
      else {
        sc.addSparkListener(listener)
        val (_, s) = Time(tracedRead(label))
        listener.quiesce()
        sc.removeSparkListener(listener)
        (kind, on, s)
      }
    }
    val timed = ctx.closedLoop(CycleS, min = 3)(oneCycle).flatMap(_._1)
    val badFrames = f.checkFrames()
    def spans(name: String) = tracer.named(name)
    def jobMs(s: Span) = listener.group(tracer.groupOf(s.id)).jobWallMs
    def medMs(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val points = spans("read.point")
    val scans = spans("read.scan")
    val scanTotals = listener.sum(scans.map(s => tracer.groupOf(s.id)))
    def pointMs(on: Boolean) = timed.collect { case (Point, `on`, s) => s * 1000 }
    val tracedOps = timed.count(_._2)
    val layers = Map(
      "lake.files_for_key_ms" -> medMs(spans("lake.files_for_key").map(_.ms)),
      "lake.files_per_point" -> Stats.mean(filesPerPoint.toSeq),
      "read.point_job_ms" -> Stats.mean(points.map(jobMs)),
      "read.point_driver_ms" -> medMs(points.map(s => tracer.selfMs(s) - jobMs(s))),
      "lake.prune_ms" -> medMs(spans("lake.prune").map(_.ms)),
      "lake.prune_kept_ratio" -> Stats.mean(keptRatio.toSeq),
      "read.scan_job_ms" -> Stats.mean(scans.map(jobMs)),
      "read.scan_shuffle_bytes" -> (if (scans.isEmpty) 0.0 else scanTotals.shuffleWriteBytes.toDouble / scans.size),
      "read.rows_examined_ratio" -> (if (scanRows == 0) 0.0 else scanTotals.recordsIn.toDouble / scanRows),
      "sql.select_ms" -> medMs(spans("sql.select").map(_.ms)),
      "sql.analysis_ms" -> medMs(analysisMs.toSeq),
      "gen.wal_s" -> f.walS,
      "gen.oracle_s" -> f.oracleS,
      "trace.span_coverage" -> tracer.spans.filter(_.parent == 0).map(_.ms).sum /
        (timed.filter(_._2).map(_._3).sum * 1000),
      "trace.overhead_pct" -> (if (pointMs(false).isEmpty) 0.0
        else 100.0 * (Stats.median(pointMs(true)) - Stats.median(pointMs(false))) / Stats.median(pointMs(false)))) ++
      Layers.lakeState(f.table, f.liveRows) ++ Layers.sparkPerOp(listener.all, tracedOps)
    val failed = f.pointFailures + badFrames.size
    Outcome(
      attempted = (ops.size + timed.size).toLong, failed = failed.toLong, setupS = setupS,
      throughputPerS = timed.size / timed.map(_._3).sum,
      opMs = if (pointMs(false).nonEmpty) pointMs(false) else pointMs(true), detail = Nil,
      layers = layers,
      notes = Seq(s"traced run: $tracedOps traced and ${timed.size - tracedOps} untraced reads; " +
        s"failed frames: ${badFrames.mkString(",")}; failed points: ${f.pointFailures}"),
      spans = tracer.spans)
  }
}
