package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.util.DetHash

/** What one workload run hands back to [[Main]]. `opMs` are the latencies
  * of the workload's primary operation (a micro-batch, a point read, a
  * pass over the query set). `detail` carries the workload's own named
  * end-to-end figures, printed and recorded beside the common ones.
  */
final case class Metric(name: String, value: Double, unit: String)

final case class Outcome(
    attempted: Long,
    failed: Long,
    setupS: Double,
    throughputPerS: Double,
    opMs: Seq[Double],
    detail: Seq[Metric],
    layers: Map[String, Double],
    notes: Seq[String],
    spans: Seq[Span] = Nil)

/** Everything a workload needs: the session, its seed, its time budget,
  * whether this is the traced run, and a scratch directory in the checkout.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: Path, val root: Path, val runId: String) {
  def dir(name: String): String = work.resolve(name).toString

  def rmrf(p: String): Unit = Main.rmrf(Paths.get(p))

  /** The closed loop: runs `step` as many times as steps of `nominalS`
    * seconds fit in the run's `--seconds` (at least `min`), each after the
    * previous one returned; returns each step's result and wall time (s).
    * The count depends only on `--seconds`, so every run of a workload does
    * the same work; `nominalS` is a step's length on the 4-CPU reference
    * host.
    */
  def closedLoop[T](nominalS: Double, min: Int = 1)(step: Int => T): Seq[(T, Double)] =
    (0 until math.max(min, math.round(seconds / nominalS).toInt)).map(i => Time(step(i)))
}

/** Runs a query to completion without collecting it. */
object Noop {
  def apply(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Time {
  private val start = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since JVM start-up. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - start) / 1e9}%7.2fs $msg")

  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  /** Calibration may move by this share before a run is flagged noisy: the
    * bound of the benchmark's time metrics in BENCHMARK.json.
    */
  val NoiseBound = 0.24

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "cdc_tail" -> (ctx => Cdc.run(ctx)),
    "lake_read" -> (ctx => LakeRead.run(ctx)),
    "ops_queries" -> (ctx => OpsQueries.run(ctx)))

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: Path, sourceSha: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val w = need("workload")
    if (!Workloads.contains(w)) usage(s"unknown workload '$w'")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, got '$t'")
    }
    val seconds = need("seconds").toInt
    if (seconds < 1) usage("--seconds must be positive")
    Args(w, need("seed").toLong, seconds, trace,
      Paths.get(kv.getOrElse("root", ".")).toAbsolutePath.normalize, kv.getOrElse("source-sha", "unknown"))
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${Workloads.keys.toSeq.sorted.mkString("|")}> " +
      "--seed <n> --seconds <n> --trace <0|1> [--root <checkout>] [--source-sha <sha>]")
    sys.exit(2)
  }

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  private def session(args: Args, work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .withExtensions(new graft.functions.GraftExtensions)
      // the same engine settings graft.Bench measures with
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16777216")
      .config("spark.storage.memoryMapThreshold", "2147483647")
      .config("spark.hadoop.fs.file.impl", classOf[graft.util.FastLocalFileSystem].getName)
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after a forced collection, in MB. */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val pid = ProcessHandle.current().pid()
    val work = args.root.resolve(".bench_build").resolve("work").resolve(s"${args.workload}-$pid")
    rmrf(work)
    Files.createDirectories(work)
    DetHash.calibrateMops() // the first call includes compiling the loop
    val calibBefore = DetHash.calibrateMops()
    Time.log("calibrated")
    val spark = session(args, work, cores)
    Time.log("session up")
    val code =
      try {
        val ctx = new Ctx(spark, args.seed, args.seconds, args.trace, work, args.root, work.getFileName.toString)
        val out = Workloads(args.workload)(ctx)
        Time.log("workload done")
        val heapMb = retainedHeapMb()
        val storageBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        val calibAfter = DetHash.calibrateMops()
        val calibShift = math.abs(calibAfter - calibBefore) / calibBefore
        val correct = out.failed == 0
        val tail = Stats.tail(out.opMs)
        val e2e = Seq(
          Metric("setup_s", out.setupS, "s"),
          Metric("throughput_per_s", out.throughputPerS, "items/s"),
          Metric("op_p50_ms", Stats.median(out.opMs), "ms"),
          Metric("retained_heap_mb", heapMb, "MB"))
        val layers = (Layers.names.map(_ -> 0.0).toMap ++ out.layers) +
          ("spark.storage_bytes" -> storageBytes.toDouble)
        val stamp = Seq(
          "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
          "trace" -> args.trace, "nproc" -> cores,
          "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
          "spark_version" -> spark.version, "git_commit" -> gitCommit(args.root),
          "source_sha" -> args.sourceSha,
          "calib_mops_before" -> calibBefore, "calib_mops_after" -> calibAfter,
          "noisy" -> (calibShift > NoiseBound), "correct" -> correct,
          "attempted" -> out.attempted, "failed" -> out.failed,
          "error_rate" -> out.failed.toDouble / out.attempted,
          "op_samples" -> out.opMs.size, "op_ms" -> out.opMs,
          "op_tail_ms" -> tail.fold(-1.0)(_.value),
          "op_tail_percentile" -> tail.fold(-1.0)(_.percentile),
          "spark_storage_bytes" -> storageBytes, "notes" -> out.notes,
          "run_id" -> ctx.runId, "spans" -> spanRecords(out.spans))
        val shown = if (args.trace) layers.toSeq.sortBy(_._1).map { case (k, v) => Metric(k, v, Layers.unit(k)) }
                    else e2e
        for (m <- e2e ++ out.detail) println(f"metric ${m.name}%-24s ${m.value}%14.4f ${m.unit}")
        println(f"metric ${"error_rate"}%-24s ${out.failed.toDouble / out.attempted}%14.4f failed/attempted")
        println(f"metric ${"spark_storage_bytes"}%-24s ${storageBytes.toDouble}%14.1f bytes")
        println(tail.fold(s"tail: no tail (${out.opMs.size} samples; a tail needs 22)")(t =>
          f"tail: ${t.value}%.1f ms at p${t.percentile}%.1f of ${t.samples} samples"))
        println(f"calibration: $calibBefore%.1f -> $calibAfter%.1f Mops${if (calibShift > NoiseBound) " (noisy)" else ""}")
        out.notes.foreach(n => println(s"note: $n"))
        val record = Json.obj(stamp ++ Seq(
          "end_to_end" -> Json.metrics(e2e ++ out.detail),
          "per_layer" -> (if (args.trace) Json.metrics(shown) else Json.Raw("{}"))))
        writeRecord(args, record)
        println(Json.obj(Seq("correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
          "metrics" -> Json.metrics(shown))).s)
        if (correct) 0 else 1
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${args.workload} failed")
          e.printStackTrace()
          1
      } finally {
        try spark.stop() finally rmrf(work)
        Time.log("stopped")
      }
    sys.exit(code)
  }

  /** The checkout's commit, or "none" when it is not a git checkout (git
    * would otherwise report an enclosing repository's commit).
    */
  /** The run's spans, with start times relative to the first span and
    * each span's self time.
    */
  private def spanRecords(spans: Seq[Span]): Seq[Json.Raw] = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    spans.map { s =>
      val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6, "ms" -> s.ms,
        "self_ms" -> Stats.selfTime(s.startNs, s.endNs, kids) / 1e6))
    }
  }

  private def gitCommit(root: Path): String =
    if (!Files.exists(root.resolve(".git"))) "none"
    else try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD").directory(root.toFile)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8).trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out else "none"
    } catch { case _: Exception => "none" }

  private def writeRecord(args: Args, record: Json.Raw): Unit = {
    val dir = args.root.resolve(".bench_build").resolve("records")
    Files.createDirectories(dir)
    val name = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}-${System.currentTimeMillis()}.json"
    Files.write(dir.resolve(name), (record.s + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON output (the record holds only numbers, strings, flags). */
object Json {
  final case class Raw(s: String)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    d.toString
  }

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def metrics(ms: Seq[Metric]): Raw =
    obj(ms.map(m => m.name -> obj(Seq("value" -> m.value, "unit" -> m.unit))))
}
