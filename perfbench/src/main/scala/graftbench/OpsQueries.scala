package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The operator-suite workload: one client runs the [[Layers.opsQueries]]
  * set through `Queries.allForBench`, each result written to the `noop`
  * sink, pass after pass, in an order drawn from the seed. Two untimed
  * passes come first: one whose results are checked, then one into the
  * `noop` sink, which warms the very plans the timed passes run. The primary
  * operation is a pass: a median over single queries would only pick
  * whichever of the different queries lands in the middle.
  */
object OpsQueries {
  /** The tables the queries read, relative to the checkout. */
  val DataDir = "perfbench/data/sf0.01"
  /** Row counts and rounded digests of the results, recorded from the
    * program when this benchmark was added.
    */
  val ExpectedFile = "perfbench/expected/ops_digests.tsv"

  /** Nominal length of one warm pass on the reference host (4.0–4.7 s). */
  val PassS = 4.0

  def expected(root: Path): Map[String, Oracle.Digest] =
    new String(Files.readAllBytes(root.resolve(ExpectedFile)), StandardCharsets.UTF_8).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, rows, sum) = l.split("\t")
        q -> Oracle.Digest(rows.toLong, sum.toLong)
      }.toMap

  /** `q_ann_ivf` carries its own check: the full registered query returns
    * its recall@1 against a brute-force search, which must be 1.
    */
  private def annRecall(spark: SparkSession, data: String): Double =
    graft.Queries.all("q_ann_ivf")(spark, data).select("recall_at_1").collect().map(_.getDouble(0)).min

  /** Planning phases (optimization + physical planning) of every query
    * execution the session finishes while registered.
    */
  private final class PlanningListener extends QueryExecutionListener {
    @volatile var ms = 0.0
    @volatile var calls = 0
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      ms += Seq("optimization", "planning").flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      calls += 1
    }

    /** Waits (up to 10 s) until at least `n` executions have been reported:
      * the callbacks arrive asynchronously, after the query returns.
      */
    def await(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 10000L
      while (calls < n && System.currentTimeMillis() < deadline) Thread.sleep(10)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val data = ctx.root.resolve(DataDir).toString
    val queries = graft.Queries.allForBench
    val names = Layers.opsQueries
    val want = expected(ctx.root)

    // set-up: the checked pass, then a warm pass into the noop sink
    val ((digests, recall), checkS) = Time((names.map { q =>
      q -> (try Some(Oracle.roundedDigest(queries(q)(spark, data)))
            catch { case e: Exception => System.err.println(s"perfbench: $q failed: $e"); None })
    }, annRecall(spark, data)))
    val failedQ = digests.collect {
      case (q, None) => q
      case ("q_ann_ivf", _) if recall < 1.0 => "q_ann_ivf"
      case (q, Some(d)) if q != "q_ann_ivf" && !want.get(q).contains(d) =>
        System.err.println(s"perfbench: $q digest $d, expected ${want.get(q)}")
        q
    }.toSet
    val (_, warmS) = Time {
      spark.catalog.clearCache()
      names.filterNot(failedQ.contains).foreach(q => Noop(queries(q)(spark, data)))
    }
    val setupS = checkS + warmS

    val rng = new scala.util.Random(ctx.seed)
    val sc = spark.sparkContext
    val tracer = new Tracer(ctx.runId, sc)
    val listener = new JobGroupListener
    val planning = new PlanningListener
    // every pass starts from an empty cache: blocks a query persisted in an
    // earlier pass would otherwise serve the next one. Traced runs
    // alternate untraced and traced passes, at least U-T-U, so the traced
    // passes are bracketed by untraced ones.
    def pass(i: Int): Seq[(String, Double)] = {
      spark.catalog.clearCache()
      val on = ctx.trace && i % 2 == 1
      val before = planning.calls
      if (on) { sc.addSparkListener(listener); spark.listenerManager.register(planning) }
      val out = rng.shuffle(names).map { q =>
        val (_, s) = Time(if (on) tracer.span(s"ops.$q")(Noop(queries(q)(spark, data))) else Noop(queries(q)(spark, data)))
        q -> s
      }
      if (on) {
        listener.quiesce()
        sc.removeSparkListener(listener)
        planning.await(before + names.size)
        spark.listenerManager.unregister(planning)
      }
      out
    }
    val passes = ctx.closedLoop(PassS, min = if (ctx.trace) 3 else 1)(pass)
    val perQuery = passes.flatMap(_._1)
    val totals = passes.map(_._1.map(_._2).sum)
    val byQuery = perQuery.groupBy(_._1).map { case (q, xs) => q -> Stats.median(xs.map(_._2)) }
    val failed = failedQ.size + perQuery.count(p => failedQ.contains(p._1))
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val traced = passes.indices.filter(_ % 2 == 1)
      val untraced = passes.indices.filter(_ % 2 == 0)
      val tracedS = traced.map(totals).sum / traced.size
      val untracedS = untraced.map(totals).sum / untraced.size
      val all = listener.all
      names.map(q => s"ops.$q.s" -> Stats.median(tracer.named(s"ops.$q").map(_.ms / 1000))).toMap ++ Map(
        "ops.planning_ms" -> planning.ms / traced.size,
        "ops.stages" -> all.stages.toDouble / traced.size,
        "ops.shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble / traced.size,
        "ops.spill_bytes" -> all.spillBytes.toDouble / traced.size,
        "trace.span_coverage" -> tracer.spans.map(_.ms).sum / 1000 / traced.map(totals).sum,
        "trace.overhead_pct" -> 100.0 * (tracedS - untracedS) / untracedS) ++
        Layers.sparkPerOp(all, traced.size * names.size.toDouble)
    }
    Outcome(
      attempted = names.size + perQuery.size, failed = failed, setupS = setupS,
      throughputPerS = perQuery.size / totals.sum, opMs = totals.map(_ * 1000),
      detail = Seq(
        Metric("ops_total_s", Stats.median(totals), "s"),
        Metric("ops_geomean_s", Stats.geomean(byQuery.values.toSeq), "s")),
      layers = layers,
      notes = Seq(s"${passes.size} timed passes of ${names.size} queries; set-up: checked pass ${checkS}s, " +
        s"warm pass ${warmS}s; " +
        s"failed checks: ${failedQ.toSeq.sorted.mkString(",")}; ann recall@1 $recall"),
      spans = tracer.spans)
  }
}
