package graft

import org.apache.spark.sql.functions._
import graft.lake.LakeTable
import graft.merge.CdcMerge
import graft.model.Schemas

/** The merge-on-read apply dedups after its salted bucket shuffle; its
  * (lsn, op) tie-break must still match copy-on-write and the window
  * reference [[CdcMerge.dedupMaxLsn]] row for row.
  */
class MorParitySpec extends SparkSpec {
  import spark.implicits._

  private val ts = new java.sql.Timestamp(1700000000000L)
  private val rng = new scala.util.Random(7L)

  /** Key `k`: ~60% of keys belong to one hot conversation. */
  private def key(k: Int): (String, Int) =
    (if (k % 10 < 6) "conv-hot" else s"conv${k % 50}", (k * 7919) % 100000)

  private def toDf(rows: Seq[(String, Long, String, Int, String)]) =
    rng.shuffle(rows)
      .toDF("op", "lsn", "conv_id", "turn_idx", "text")
      .select(col("op"), col("lsn"), col("conv_id"), col("turn_idx"),
        lit("user").as("role"), col("text"), lit(null).cast("string").as("tool"),
        lit(ts).as("ts"))
      .repartition(4)

  test("tie-break parity under salting: MOR, CoW and the window reference agree") {
    // batch 0: plain upserts (every 7th a delete) that make the hot bucket hot
    val b0 = toDf((0 until 4000).map { k =>
      val (c, t) = key(k); (if (k % 7 == 0) "D" else "U", k.toLong, c, t, s"v0-$k")
    })
    // batch 1, salted: per key, out-of-order updates, duplicate deliveries
    // and same-(key, lsn) U/D pairs, which (lsn, op) resolves to the U
    val base = 1000000L
    val b1 = toDf((0 until 2000).flatMap { k =>
      val (c, t) = key(k); val l = base + 10L * k
      k % 5 match {
        case 0 => Seq(("U", l + 1, c, t, s"b-$k"), ("U", l, c, t, s"a-$k"))
        case 1 => Seq(("D", l, c, t, s"d-$k"), ("U", l, c, t, s"u-$k"))
        case 2 => Seq(("U", l - 1, c, t, s"a-$k"), ("D", l, c, t, s"d-$k"))
        case 3 => Seq(("U", l, c, t, s"c-$k"), ("U", l, c, t, s"c-$k"))
        case _ => Seq(("D", l, c, t, s"d-$k"), ("U", l, c, t, s"u-$k"), ("D", l, c, t, s"d-$k"))
      }
    })
    val dir = tmpDir("mor-parity")
    try {
      def load(name: String, mode: CdcMerge.Mode): LakeTable = {
        val t = LakeTable.create(spark, s"$dir/$name", Schemas.transcript, numBuckets = 4)
        CdcMerge.apply(t, b0, 0L, saltBuckets = 4, mode = mode)
        CdcMerge.apply(t, b1, 1L, saltBuckets = 4, mode = mode)
        t
      }
      val mor = load("mor", CdcMerge.MergeOnRead)
      val cow = load("cow", CdcMerge.CopyOnWrite)
      val hot = spark.range(1).select(
        pmod(xxhash64(lit("conv-hot")), lit(4L)).cast("int")).collect()(0).getInt(0)
      assert(mor.manifest.files.count(f => f.epoch == 1 && f.bucket == hot) > 1,
        "batch 1 should salt the hot bucket")
      val cols = Schemas.transcript.fieldNames.toSeq.map(col)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols: _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val expected = rows(CdcMerge.dedupMaxLsn(b0.union(b1)).filter(col("op") =!= "D"))
      // the fixture's U/D ties (2 of every 5 batch-1 keys) resolve to the U
      assert(expected.count(_.contains("|u-")) == 800, expected.take(5))
      val gotMor = rows(mor.snapshot())
      val gotCow = rows(cow.snapshot())
      val (nMor, nCow, nRef) = (gotMor.size, gotCow.size, expected.size)
      assert(nMor == nRef && nCow == nRef, s"rows: mor $nMor, cow $nCow, reference $nRef")
      // same sizes, so an empty difference means the same rows
      val (morOnly, cowOnly) = (gotMor.diff(expected), gotCow.diff(expected))
      assert(morOnly.isEmpty, s"MOR rows not in the reference: ${morOnly.take(5)}")
      assert(cowOnly.isEmpty, s"CoW rows not in the reference: ${cowOnly.take(5)}")
    } finally rmrf(dir)
  }
}
