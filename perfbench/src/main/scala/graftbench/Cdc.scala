package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.gen.WalGen
import graft.lake.{FileEntry, LakeTable}
import graft.merge.{CdcMerge, Compactor}
import graft.model.Schemas
import graft.stream.CdcStream

/** The CDC-apply workload: a single client drains a fully landed WAL into a
  * fresh table through `CdcStream.runToCompletion`, one small chunk per
  * micro-batch, waits for it, checks the table, and starts over.
  */
object Cdc {
  /** One small WAL chunk per trigger, so a pass is `Chunks` micro-batches:
    * the fixed per-batch cost (driver-side adopt, commit and manifest work,
    * the streaming wrapper, inline compaction on the 8th batch) dominates.
    */
  val Chunks = 8
  val EventsPerChunk = 5000L
  val Events: Long = Chunks * EventsPerChunk

  /** Nominal length of one pass on the reference host. */
  val PassS = 10.0

  // the table layout of every workload
  val Buckets = 32
  val Salt = 8
  val CompactEvery = 8
  val Convs = 20000L

  def config(seed: Long, events: Long): WalGen.Config =
    WalGen.Config(seed = seed, numEvents = events, numConvs = Convs, maxTurns = 40,
      deleteFrac = 0.05, dupEvery = 50)

  /** The WAL to apply and the digest the applied table must have. */
  final case class Input(wal: String, expected: Oracle.Digest, walS: Double, oracleS: Double)

  /** Writes the WAL and folds the oracle three times; the last WAL is kept. */
  def setup(ctx: Ctx): (Input, Seq[Input]) = {
    val cfg = config(ctx.seed, Events)
    val reps = (1 to 3).map { r =>
      val wal = ctx.dir(s"wal-$r")
      val (_, walS) = Time(WalGen.writeWal(ctx.spark, wal, cfg, Chunks))
      val (expected, oracleS) = Time(Oracle.stateDigest(ctx.spark, cfg))
      Input(wal, expected, walS, oracleS)
    }
    reps.init.foreach(r => ctx.rmrf(r.wal))
    Time.log("set-up done")
    (reps.last, reps)
  }

  final case class Pass(ok: Boolean, secs: Double, batches: Seq[Map[String, Long]]) {
    def trigger: Seq[Double] = batches.map(_.getOrElse("triggerExecution", 0L).toDouble)
  }

  /** One pass: stream the whole WAL into a fresh table, then check the table
    * against the oracle (outside the timed part) and delete it.
    */
  def streamPass(ctx: Ctx, in: Input, progress: BatchProgressListener, name: String): Pass = {
    progress.clear()
    val table = LakeTable.create(ctx.spark, ctx.dir(s"$name/table"), Schemas.transcript, Buckets)
    val (_, secs) = Time(CdcStream.runToCompletion(ctx.spark, in.wal, table, ctx.dir(s"$name/cp"),
      maxFilesPerTrigger = 1, saltBuckets = Salt,
      mode = CdcMerge.MergeOnRead, compactEvery = CompactEvery))
    val complete = progress.await(Chunks)
    val ok = complete && Oracle.digest(table.snapshot()) == in.expected
    ctx.rmrf(ctx.dir(name))
    Time.log(s"$name: $Chunks batches in ${secs}s")
    Pass(ok, secs, progress.batches)
  }

  def run(ctx: Ctx): Outcome = {
    val (in, reps) = setup(ctx)
    val setupS = Stats.median(reps.map(r => r.walS + r.oracleS))
    val progress = new BatchProgressListener
    ctx.spark.streams.addListener(progress)
    if (ctx.trace) return traced(ctx, in, reps, setupS, progress)

    val passes = ctx.closedLoop(PassS)(i => streamPass(ctx, in, progress, s"pass-$i")).map(_._1)
    val trig = passes.flatMap(_.trigger)
    val evPerS = passes.size * Events / passes.map(_.secs).sum
    val bad = passes.count(!_.ok)
    Outcome(
      attempted = passes.size.toLong * Chunks, failed = bad.toLong * Chunks,
      setupS = setupS, throughputPerS = evPerS, opMs = trig,
      detail = Seq(Metric("apply_events_per_s", evPerS, "events/s"),
        Metric("apply_batch_p50_ms", Stats.median(trig), "ms")) ++
        Stats.tail(trig).map(t => Metric("apply_batch_tail_ms", t.value, "ms")),
      layers = Map.empty,
      notes = Seq(s"${passes.size} passes of $Chunks batches x $EventsPerChunk events; " +
        s"$bad failed the oracle check"))
  }

  /** Per-batch figures of the direct apply. */
  private final case class Direct(applyMs: Double, jobMs: Double, compactMs: Option[Double],
                                  rowsIn: Long, rowsOut: Long, files: Int, skew: Double,
                                  manifestMs: Double, deltaBytes: Long,
                                  compactRead: Long, compactWritten: Long)

  /** The traced run, five passes over the same WAL:
    *  A. untraced stream pass (warms the JVM; not used);
    *  C1. untraced stream pass;
    *  B. stream pass with the job-group listener on (the stream.* layer);
    *  C2. untraced stream pass: B is compared with the mean of C1 and C2,
    *     which bracket it;
    *  D. direct pass: the benchmark makes `CdcStream`'s per-batch calls
    *     itself — `CdcMerge.apply`, then `Compactor.compactIfNeeded` — each
    *     inside a span.
    */
  private def traced(ctx: Ctx, in: Input, reps: Seq[Input], setupS: Double,
                     progress: BatchProgressListener): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val a = streamPass(ctx, in, progress, "warm")
    val c1 = streamPass(ctx, in, progress, "plain-1")
    val listener = new JobGroupListener
    sc.addSparkListener(listener)
    val b = streamPass(ctx, in, progress, "traced")
    listener.quiesce()
    sc.removeSparkListener(listener)
    val streamTotals = listener.all
    val c2 = streamPass(ctx, in, progress, "plain-2")
    val plain = Seq(c1, c2)

    val direct = new JobGroupListener
    sc.addSparkListener(direct)
    val tracer = new Tracer(ctx.runId, sc)
    val chunks = {
      val s = Files.list(Paths.get(in.wal))
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      finally s.close()
    }
    val table = LakeTable.create(spark, ctx.dir("direct/table"), Schemas.transcript, Buckets)
    val (perBatch, directS) = Time(chunks.zipWithIndex.map { case (file, epoch) =>
      val batch = spark.read.schema(Schemas.changeEvent).parquet(file)
      val stats = tracer.span("merge.apply") {
        CdcMerge.apply(table, batch, epoch.toLong, Salt, CdcMerge.MergeOnRead, streamId = "direct")
      }
      val applySpan = tracer.spans.last
      val m = tracer.span("lake.manifest")(table.manifest)
      val manifestMs = tracer.spans.last.ms
      val compacted = tracer.span("compact")(Compactor.compactIfNeeded(table, CompactEvery))
      val compactMs = compacted.map(_ => tracer.spans.last.ms)
      val written = m.files.filter(f => f.kind == FileEntry.DELTA && f.epoch == stats.effEpoch)
      val perBucket = written.groupBy(_.bucket).values.map(_.map(_.rows).sum.toDouble).toSeq
      val (cRead, cWritten) = if (compacted.isEmpty) (0L, 0L) else {
        val after = table.manifest.files
        val (afterPaths, beforePaths) = (after.map(_.path).toSet, m.files.map(_.path).toSet)
        (Layers.bytes(table, m.files.filterNot(f => afterPaths.contains(f.path))),
          Layers.bytes(table, after.filterNot(f => beforePaths.contains(f.path))))
      }
      direct.quiesce()
      Direct(applySpan.ms, direct.group(tracer.groupOf(applySpan.id)).jobWallMs, compactMs,
        EventsPerChunk, stats.batchRows, written.size,
        if (perBucket.isEmpty) 0.0 else perBucket.max / Stats.mean(perBucket),
        manifestMs, Layers.bytes(table, written), cRead, cWritten)
    }.toSeq)
    direct.quiesce()
    sc.removeSparkListener(direct)
    val directOk = Oracle.digest(table.snapshot()) == in.expected
    val state = Layers.lakeState(table, in.expected.rows)

    val n = perBatch.size.toDouble
    val bb = b.batches
    def med(f: Map[String, Long] => Long) = Stats.median(bb.map(x => f(x).toDouble))
    def d(x: Map[String, Long], k: String) = x.getOrElse(k, 0L)
    val compactions = perBatch.flatMap(_.compactMs)
    val deltaBytes = perBatch.map(_.deltaBytes).sum.toDouble
    val applyP50 = Stats.median(perBatch.map(_.applyMs))
    val addBatchP50 = med(d(_, "addBatch"))
    val wrapper = addBatchP50 - Stats.median(perBatch.map(x => x.applyMs + x.compactMs.getOrElse(0.0)))
    val overhead = med(x => d(x, "triggerExecution") - d(x, "addBatch"))
    val plainP50 = Stats.mean(plain.map(p => Stats.median(p.trigger)))
    val merge = direct.sum(tracer.named("merge.apply").map(s => tracer.groupOf(s.id)))
    val engine = new GroupTotals
    engine.add(streamTotals); engine.add(direct.all)
    val layers = Map(
      "stream.trigger_ms" -> med(d(_, "triggerExecution")),
      "stream.add_batch_ms" -> addBatchP50,
      "stream.overhead_ms" -> overhead,
      "stream.planning_ms" -> med(d(_, "queryPlanning")),
      "stream.offsets_ms" -> med(x => d(x, "latestOffset") + d(x, "getBatch") + d(x, "walCommit") +
        d(x, "commitOffsets")),
      "stream.wrapper_ms" -> wrapper,
      "merge.job_ms" -> perBatch.map(_.jobMs).sum / n,
      "merge.rows_in" -> perBatch.map(_.rowsIn).sum / n,
      "merge.rows_out" -> perBatch.map(_.rowsOut).sum / n,
      "merge.dedup_ratio" -> Stats.dedupRatio(perBatch.map(_.rowsIn).sum, perBatch.map(_.rowsOut).sum),
      "merge.shuffle_stages" -> merge.shuffleStages / n,
      "merge.shuffle_write_bytes" -> merge.shuffleWriteBytes / n,
      "merge.spill_bytes" -> merge.spillBytes / n,
      "merge.tasks" -> merge.tasks / n,
      "merge.bucket_skew" -> Stats.median(perBatch.map(_.skew)),
      "merge.apply_ms" -> applyP50,
      "merge.driver_ms" -> Stats.median(perBatch.map(x => x.applyMs - x.jobMs)),
      "merge.files_written" -> perBatch.map(_.files).sum / n,
      "lake.manifest_read_ms" -> Stats.median(perBatch.map(_.manifestMs)),
      "compact.calls" -> compactions.size.toDouble,
      "compact.ms" -> Stats.mean(compactions),
      "compact.bytes_read" -> perBatch.map(_.compactRead).sum.toDouble,
      "compact.bytes_written" -> perBatch.map(_.compactWritten).sum.toDouble,
      "compact.write_amp" -> (deltaBytes + perBatch.map(_.compactWritten).sum) / deltaBytes,
      "gen.wal_s" -> Stats.median(reps.map(_.walS)),
      "gen.oracle_s" -> Stats.median(reps.map(_.oracleS)),
      "trace.span_coverage" -> tracer.spans.filter(_.parent == 0).map(_.ms).sum / (directS * 1000),
      "trace.batch_accounted_ratio" -> (overhead + applyP50 + compactions.sum / n + wrapper) / plainP50,
      "trace.overhead_pct" -> 100.0 * (Stats.median(b.trigger) - plainP50) / plainP50) ++
      state ++ Layers.sparkPerOp(engine, bb.size + n)
    val failedPasses = (Seq(a, c1, b, c2).map(_.ok) :+ directOk).count(!_)
    Outcome(
      attempted = 5L * Chunks, failed = failedPasses.toLong * Chunks, setupS = setupS,
      throughputPerS = plain.size * Events / plain.map(_.secs).sum, opMs = plain.flatMap(_.trigger),
      detail = Nil, layers = layers,
      notes = Seq(s"traced run: 4 stream passes and 1 direct pass of $Chunks batches; " +
        s"direct pass ${directS}s; stream-thread jobs ${streamTotals.jobs}"),
      spans = tracer.spans)
  }
}
