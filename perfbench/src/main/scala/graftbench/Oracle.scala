package graftbench

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.gen.WalGen
import graft.model.{ChangeEvent, TranscriptRow}

/** Expected outputs, derived from the WAL generator's driver-side reducer
  * (never from the engine), and the digests both sides are compared by.
  */
object Oracle {

  /** Row count and order-invariant checksum of a frame: the sum of per-row
    * xxhash64 over the columns in name order, folded to 64 bits. On a lake
    * snapshot this is exactly `LakeTable.contentChecksum()`.
    */
  final case class Digest(rows: Long, checksum: Long)

  def digest(df: DataFrame): Digest = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).collect()(0)
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getDecimal(1).toBigInteger.longValue())
  }

  /** Digest of a query result with floating-point values reduced to float
    * precision, so a change in summation order does not change it.
    */
  def roundedDigest(df: DataFrame): Digest =
    digest(df.select(df.schema.fields.toIndexedSeq.map(f => rounded(col(f.name), f.dataType).as(f.name)): _*))

  private def rounded(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => c.cast(FloatType)
    case _: DecimalType => c.cast(FloatType)
    case ArrayType(et, _) if needsRounding(et) => transform(c, x => rounded(x, et))
    case StructType(fs) if fs.exists(f => needsRounding(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => rounded(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def needsRounding(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: DecimalType => true
    case ArrayType(et, _) => needsRounding(et)
    case StructType(fs) => fs.exists(f => needsRounding(f.dataType))
    case _ => false
  }

  def liveRows(state: Map[(String, Int), ChangeEvent]): Seq[TranscriptRow] =
    state.valuesIterator.map(e => TranscriptRow(e.conv_id, e.turn_idx, e.role, e.text, e.tool, e.ts)).toSeq

  def frame(spark: SparkSession, rows: Seq[TranscriptRow]): DataFrame =
    spark.createDataFrame(rows)

  /** Digest of the live table the generator's reducer folds `cfg` into. */
  def stateDigest(spark: SparkSession, cfg: WalGen.Config): Digest =
    digest(frame(spark, liveRows(WalGen.oracleState(cfg))))

  /** The change rows a merge-on-read apply of WAL slice [lo, hi) records:
    * one row per key (its highest-LSN event, tombstones included) with the
    * `_lsn` and `_deleted` bookkeeping columns.
    */
  final case class ChangeRow(conv_id: String, turn_idx: Int, role: String, text: String,
                             tool: String, ts: Timestamp, _lsn: Long, _deleted: Boolean)

  def batchChanges(cfg: WalGen.Config, lo: Long, hi: Long): Seq[ChangeRow] = {
    val m = scala.collection.mutable.HashMap.empty[(String, Int), ChangeEvent]
    var i = lo
    while (i < hi) {
      val e = WalGen.eventAt(i, cfg)
      val k = (e.conv_id, e.turn_idx)
      if (m.get(k).forall(_.lsn <= e.lsn)) m(k) = e
      i += 1
    }
    m.valuesIterator.map(e => ChangeRow(e.conv_id, e.turn_idx, e.role, e.text, e.tool, e.ts,
      e.lsn, e.op == "D")).toSeq
  }
}
