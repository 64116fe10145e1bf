package graftbench

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.WalGen
import graft.lake.LakeTable
import graft.merge.CdcMerge
import graft.model.Schemas
import graft.stream.CdcStream

/** The output checks themselves: the CDC gate passes on a correct apply and
  * reports a planted fault, and the query digest ignores row order and
  * floating-point noise but not a changed value.
  */
class GateSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.file.impl", classOf[graft.util.FastLocalFileSystem].getName)
    .getOrCreate()
  private lazy val dir = Files.createTempDirectory("perfbench-gate")

  override def afterAll(): Unit = {
    Main.rmrf(dir)
    spark.stop()
  }

  test("the CDC checksum gate passes after a run and fails after one extra higher-LSN event") {
    val cfg = Cdc.config(seed = 7L, events = 20000L)
    val wal = dir.resolve("wal").toString
    WalGen.writeWal(spark, wal, cfg, numChunks = 4)
    val table = LakeTable.create(spark, dir.resolve("t").toString, Schemas.transcript, Cdc.Buckets)
    CdcStream.runToCompletion(spark, wal, table, dir.resolve("cp").toString,
      maxFilesPerTrigger = 1, compactEvery = Cdc.CompactEvery)
    val expected = Oracle.stateDigest(spark, cfg)
    val got = Oracle.digest(table.snapshot())
    assert(got == expected)
    assert(got.checksum == table.contentChecksum())

    // plant the fault: a later change to a live key that the oracle never saw
    val victim = WalGen.oracleState(cfg).values.minBy(e => (e.conv_id, e.turn_idx))
    val planted = victim.copy(op = "U", lsn = cfg.numEvents, text = victim.text + " (planted)",
      ts = new Timestamp(victim.ts.getTime + 1))
    import spark.implicits._
    CdcMerge.apply(table, Seq(planted).toDS().toDF(), epoch = 1000L, streamId = "planted")
    val after = Oracle.digest(table.snapshot())
    assert(after.rows == expected.rows)
    assert(after != expected, "the gate must report the planted change")
  }

  test("the rounded query digest ignores row order and float noise, not a changed value") {
    import spark.implicits._
    val df = Seq((1, 0.1 + 0.2, Seq(1.0, 2.0)), (2, 3.0, Seq(0.5))).toDF("k", "x", "v")
    val noisy = df.withColumn("x", col("x") + lit(1e-12))
    val base = Oracle.roundedDigest(df)
    assert(Oracle.roundedDigest(df.orderBy(desc("k"))) == base)
    assert(Oracle.roundedDigest(noisy) == base)
    assert(Oracle.roundedDigest(df.withColumn("x", col("x") + lit(0.01))) != base)
    assert(Oracle.roundedDigest(df.withColumn("v", array(lit(9.0)))) != base)
    assert(base.rows == 2)
  }
}
