package graftbench

import java.nio.file.Files
import graft.lake.{FileEntry, LakeTable}

/** The per-layer metrics of the traced run, named after the program's
  * modules. Every traced run reports all of them; a layer a workload does
  * not reach reads 0 there.
  */
object Layers {
  /** The `ops_queries` set: `ops` and `functions` operators (aggregate,
    * join, reshape, regex scrub, MinHash, vector search, image codec), none
    * of which goes through the lake or the CDC apply.
    */
  val opsQueries: Seq[String] = Seq(
    "q1_agg", "q_join_inner_agg", "q_melt", "q_pii_redact", "q_dedup_minhash_lsh",
    "q_ann_ivf", "q_image_resize")

  private val table: Seq[(String, String)] = Seq(
    // stream (CdcStream): medians per micro-batch
    "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms", "stream.overhead_ms" -> "ms",
    "stream.planning_ms" -> "ms", "stream.offsets_ms" -> "ms", "stream.wrapper_ms" -> "ms",
    // merge apply, data plane: means per batch of the direct apply
    "merge.job_ms" -> "ms", "merge.rows_in" -> "rows", "merge.rows_out" -> "rows",
    "merge.dedup_ratio" -> "ratio", "merge.shuffle_stages" -> "count",
    "merge.shuffle_write_bytes" -> "bytes", "merge.spill_bytes" -> "bytes", "merge.tasks" -> "count",
    "merge.bucket_skew" -> "ratio",
    // merge apply, driver side
    "merge.apply_ms" -> "ms", "merge.driver_ms" -> "ms", "merge.files_written" -> "count",
    "lake.manifest_read_ms" -> "ms", "lake.manifest_bytes" -> "bytes",
    // Compactor
    "compact.calls" -> "count", "compact.ms" -> "ms", "compact.bytes_read" -> "bytes",
    "compact.bytes_written" -> "bytes", "compact.write_amp" -> "ratio",
    // lake point path
    "lake.files_for_key_ms" -> "ms", "lake.files_per_point" -> "count",
    "read.point_job_ms" -> "ms", "read.point_driver_ms" -> "ms",
    // lake skipping + merge-on-read resolve
    "lake.prune_ms" -> "ms", "lake.prune_kept_ratio" -> "ratio", "lake.delta_depth_max" -> "count",
    "lake.files" -> "count", "lake.bytes_per_live_row" -> "bytes", "read.scan_job_ms" -> "ms",
    "read.scan_shuffle_bytes" -> "bytes", "read.rows_examined_ratio" -> "ratio",
    // sql
    "sql.select_ms" -> "ms", "sql.analysis_ms" -> "ms",
    // ops, functions
    "ops.planning_ms" -> "ms", "ops.stages" -> "count", "ops.shuffle_write_bytes" -> "bytes",
    "ops.spill_bytes" -> "bytes",
    // gen
    "gen.wal_s" -> "s", "gen.oracle_s" -> "s",
    // Spark engine: per primary operation, over the traced segment
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.storage_bytes" -> "bytes",
    // reconciliation of the trace against the untraced numbers
    "trace.span_coverage" -> "ratio", "trace.batch_accounted_ratio" -> "ratio",
    "trace.overhead_pct" -> "%") ++
    opsQueries.map(q => s"ops.$q.s" -> "s")

  val names: Seq[String] = table.map(_._1)
  private val units = table.toMap
  def unit(name: String): String = units.getOrElse(name, "count")

  /** State of a lake table: file count, deepest delta stack, bytes per
    * live row, and the size of the current manifest.
    */
  def lakeState(table: LakeTable, liveRows: Long): Map[String, Double] = {
    val m = table.manifest
    val depth = m.files.filter(_.kind == FileEntry.DELTA).groupBy(_.bucket)
      .values.map(_.map(_.epoch).distinct.size).maxOption.getOrElse(0)
    // the current manifest document plus the bucket segments it names
    val doc = table.manifestDir.resolve(f"manifest-${m.version}%010d.json")
    val segments = "\"seg\":\"([^\"]+)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(doc), java.nio.charset.StandardCharsets.UTF_8))
      .map(x => table.manifestDir.resolve(x.group(1))).toSeq
    Map(
      "lake.files" -> m.files.size.toDouble,
      "lake.delta_depth_max" -> depth.toDouble,
      "lake.bytes_per_live_row" -> bytes(table, m.files).toDouble / math.max(1L, liveRows),
      "lake.manifest_bytes" -> (doc +: segments).map(Files.size).sum.toDouble)
  }

  def bytes(table: LakeTable, files: Seq[FileEntry]): Long =
    files.map(f => Files.size(table.root.resolve(f.path))).sum

  /** Engine-wide Spark totals per primary operation. */
  def sparkPerOp(t: GroupTotals, ops: Double): Map[String, Double] = Map(
    "spark.jobs" -> t.jobs / ops,
    "spark.tasks" -> t.tasks / ops,
    "spark.executor_run_ms" -> t.runMs / ops,
    "spark.executor_cpu_ms" -> t.cpuNs / 1e6 / ops,
    "spark.gc_ms" -> t.gcMs / ops,
    "spark.shuffle_write_bytes" -> t.shuffleWriteBytes / ops,
    "spark.spill_bytes" -> t.spillBytes / ops)
}
