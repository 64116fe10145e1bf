package graft

import org.apache.spark.sql.functions._
import graft.gen.WalGen
import graft.lake.{FileEntry, LakeTable}
import graft.merge.{CdcMerge, Compactor}
import graft.model.Schemas
import graft.stream.CdcStream

/** Optimistic-concurrency compaction: the maintenance-thread rewrite must
  * reconcile with concurrent micro-batch commits — rebase when the commits
  * touched other buckets, abandon when they wrote into a compacted bucket —
  * and an async-compaction stream must converge to the oracle.
  */
class CompactionSpec extends SparkSpec {

  test("sweepStaleStaging: stale subtrees swept, subtrees with ANY recent write kept, live merges unaffected") {
    val dir = tmpDir("sweep")
    val cfg = WalGen.Config(numEvents = 500, numConvs = 10)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val staging = java.nio.file.Paths.get(s"$dir/t/_staging")
      // abandoned attempt: top dir AND contents old → swept
      val dead = staging.resolve("epoch-1-deadbeef")
      java.nio.file.Files.createDirectories(dead.resolve("bucket=0"))
      java.nio.file.Files.write(dead.resolve("bucket=0/part-0.parquet"), Array[Byte](1))
      val old = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L)
      java.nio.file.Files.walk(dead).forEach(p => java.nio.file.Files.setLastModifiedTime(p, old))
      // long-running writer: top dir old (mkdir at job start) but a file
      // deep in the tree written moments ago → MUST survive (the bug the
      // subtree-mtime rule fixes: judging by the top dir would sweep it)
      val live = staging.resolve("epoch-2-12345678")
      java.nio.file.Files.createDirectories(live.resolve("bucket=1"))
      java.nio.file.Files.setLastModifiedTime(live, old)
      java.nio.file.Files.write(live.resolve("bucket=1/part-0.parquet"), Array[Byte](1))
      java.nio.file.Files.setLastModifiedTime(live.resolve("bucket=1"), old)
      CdcMerge.sweepStaleStaging(table, olderThanMs = 3600000L)
      assert(!java.nio.file.Files.exists(dead), "stale attempt should be swept")
      assert(java.nio.file.Files.exists(live.resolve("bucket=1/part-0.parquet")),
        "subtree with a recent write must not be swept mid-flight")
      // a real merge (which sweeps on entry) still applies cleanly
      CdcMerge.apply(table, WalGen.events(spark, cfg, 0, 500).toDF(), 0L)
      oracleCheck(table, cfg)
    } finally rmrf(dir)
  }

  private def oracleCheck(table: LakeTable, cfg: WalGen.Config): Unit = {
    val oracle = WalGen.oracleState(cfg)
    val got = table.snapshot().select("conv_id", "turn_idx", "text").collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getString(2))).toMap
    assert(got.size == oracle.size, s"rows: got ${got.size}, oracle ${oracle.size}")
    oracle.foreach { case (k, e) => assert(got(k) == e.text, s"text mismatch at $k") }
  }

  test("concurrent commit to OTHER buckets: compaction rebases and commits") {
    val dir = tmpDir("cc1")
    val cfg = WalGen.Config(numEvents = 8000, numConvs = 100)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      (0 until 2).foreach { b =>
        CdcMerge.apply(table, WalGen.events(spark, cfg, b * 4000L, (b + 1) * 4000L).toDF(), b.toLong)
      }
      val compactBuckets = Set(0, 1)
      val others = table.manifest.files.map(_.bucket).toSet -- compactBuckets
      assert(others.nonEmpty)
      // inject a concurrent commit that touches ONLY the other buckets
      val otherConv = table.snapshot().withColumn("b", table.bucketExpr(4))
        .filter(col("b").isin(others.toSeq: _*)).select("conv_id").first().getString(0)
      val inject: () => Unit = () => {
        val extra = WalGen.events(spark, cfg, 0, 2000).toDF()
          .filter(col("conv_id") === otherConv)
        val st = CdcMerge.apply(table, extra, epoch = 99, streamId = "injector")
        assert(st.applied)
        ()
      }
      val v0 = table.currentVersion
      val r = Compactor.compactConcurrent(table, compactBuckets, preCommit = inject)
      assert(r.isDefined, "compaction should rebase over an other-bucket commit")
      assert(table.currentVersion == v0 + 2) // injected commit + compaction commit
      // compacted buckets are base-only; injected delta survived the rebase
      val m = table.manifest
      assert(m.filesForBuckets(compactBuckets).forall(_.kind == FileEntry.BASE))
      assert(m.filesForBuckets(others).exists(f => f.kind == FileEntry.DELTA && f.epoch > 1))
      oracleCheck(table, cfg)
    } finally rmrf(dir)
  }

  test("concurrent delta INTO a compacted bucket: compaction carries it and commits") {
    val dir = tmpDir("cc2")
    val cfg = WalGen.Config(numEvents = 8000, numConvs = 100)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      (0 until 2).foreach { b =>
        CdcMerge.apply(table, WalGen.events(spark, cfg, b * 4000L, (b + 1) * 4000L).toDF(), b.toLong)
      }
      val compactBuckets = Set(0, 1)
      val victimConv = table.snapshot().withColumn("b", table.bucketExpr(4))
        .filter(col("b").isin(compactBuckets.toSeq: _*)).select("conv_id").first().getString(0)
      def injectAt(epoch: Long): () => Unit = () => {
        val extra = WalGen.events(spark, cfg, 0, 2000).toDF()
          .filter(col("conv_id") === victimConv)
        assert(CdcMerge.apply(table, extra, epoch = epoch, streamId = "injector").applied)
        ()
      }
      val inject = injectAt(99)
      // a post-pin delta append must NOT invalidate the rewrite: the
      // compacted base holds the pinned files' per-key winners and the new
      // delta rides on top (max-LSN resolve) — abandoning here would let
      // delta depth grow with stream age under a steady all-bucket stream
      val r = Compactor.compactConcurrent(table, compactBuckets, preCommit = inject)
      assert(r.isDefined, "compaction must rebase over a post-pin delta, not abandon")
      val m = table.manifest
      val inBuckets = m.filesForBuckets(compactBuckets)
      assert(inBuckets.exists(_.kind == FileEntry.BASE), "rewritten base missing")
      // the concurrent delta SURVIVED the rebase (only post-pin files remain as deltas)
      assert(inBuckets.filter(_.kind == FileEntry.DELTA).forall(_.epoch > 1L),
        "pre-pin deltas must be folded away")
      assert(inBuckets.exists(_.kind == FileEntry.DELTA), "post-pin delta lost by the rebase")
      oracleCheck(table, cfg)
      // manifest references only existing files (nothing orphaned/dangling)
      val missing = table.manifest.files.filterNot(f =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/t").resolve(f.path)))
      assert(missing.isEmpty, s"manifest references missing files: $missing")

      // tombstone-dropping compaction DOES require quiescence: the same
      // post-pin injection aborts it (resurrection hazard)
      val r2 = Compactor.compactConcurrent(table, compactBuckets,
        dropTombstones = true, preCommit = injectAt(100))
      assert(r2.isEmpty, "dropTombstones compaction must abandon on a post-pin write")
      // a CoW rewrite of the bucket (pinned files REMOVED) also aborts MOR compaction
      val r3 = Compactor.compactConcurrent(table, compactBuckets, preCommit = () => {
        Compactor.compact(table, compactBuckets) // folds the bucket → pinned files vanish
        ()
      })
      assert(r3.isEmpty, "compaction must abandon when its pinned input files were removed")
      oracleCheck(table, cfg)
    } finally rmrf(dir)
  }

  test("CoW rebase: a concurrent compaction on DISJOINT buckets retries and commits; an overlapping one aborts loudly") {
    import spark.implicits._
    val dir = tmpDir("cowreb")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      // conv ids steered to known buckets
      val ids = (0 until 40).map(i => s"conv$i")
      val b0 = ids.filter(table.bucketOf(_, 2) == 0)
      val b1 = ids.filter(table.bucketOf(_, 2) == 1)
      assert(b0.nonEmpty && b1.nonEmpty)
      def batch(convs: Seq[String], lsnBase: Long) = convs.zipWithIndex.map { case (c, i) =>
        (c, 0, "assistant", s"text of $c", null.asInstanceOf[String],
          new java.sql.Timestamp(1L), "U", lsnBase + i)
      }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn")
      // MOR deltas in BOTH buckets so a compactor has something to fold
      CdcMerge.apply(table, batch(b0 ++ b1, 0), 0L)
      val rows = table.snapshot().count()

      // DISJOINT: CoW rewrites only bucket 1; mid-window a compactor folds
      // bucket 0 → the CoW commit rebases over it and SUCCEEDS
      val s1 = CdcMerge.apply(table, batch(b1, 1000), 1L, mode = CdcMerge.CopyOnWrite,
        preCommit = () => { Compactor.compact(table, Set(0)) })
      assert(s1.applied)
      assert(table.snapshot().count() == rows) // no rows lost to the rebase
      // bucket 0's compacted base survived the CoW commit
      assert(table.manifest.files.filter(_.bucket == 0).forall(_.kind == FileEntry.BASE))
      // the CoW-updated texts landed
      assert(table.snapshot().filter(col("conv_id") === b1.head).select("text")
        .collect()(0).getString(0) == s"text of ${b1.head}")

      // OVERLAPPING: a concurrent compaction of the SAME bucket the CoW
      // rewrite targets → stale snapshot → loud abort, table intact
      val before = table.contentChecksum()
      val e = intercept[IllegalStateException] {
        CdcMerge.apply(table, batch(b1, 2000), 2L, mode = CdcMerge.CopyOnWrite,
          preCommit = () => {
            // re-dirty bucket 1 then fold it so its file set changes
            CdcMerge.apply(table, batch(b1.take(1), 1500), 10L, streamId = "side")
            Compactor.compact(table, Set(1))
          })
      }
      assert(e.getMessage.contains("single committer"), e.getMessage)
      assert(table.snapshot().count() == rows)
    } finally rmrf(dir)
  }

  test("streaming with async compaction converges to the oracle") {
    val dir = tmpDir("cc3")
    val cfg = WalGen.Config(numEvents = 20000, numConvs = 150, maxTurns = 25)
    try {
      WalGen.writeWal(spark, s"$dir/wal", cfg, numChunks = 10)
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      CdcStream.runToCompletion(spark, s"$dir/wal", table, s"$dir/cp",
        maxFilesPerTrigger = 1, compactEvery = 3, asyncCompaction = true)
      oracleCheck(table, cfg)
      val dupKeys = table.snapshot().groupBy("conv_id", "turn_idx")
        .count().filter(col("count") > 1).count()
      assert(dupKeys == 0)
    } finally rmrf(dir)
  }

  test("async compaction failures are counted, reset by a success, and fail the stream at 3") {
    val dir = tmpDir("cc4")
    val cfg = WalGen.Config(numEvents = 4000, numConvs = 40)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      // the stream's per-batch body, called directly so every compaction
      // has finished before the next batch: compactEvery = 1 makes every
      // bucket with a delta due after each batch
      def batch(b: Int): Unit = CdcStream.applyAndMaintain(table,
        WalGen.events(spark, cfg, b * 400L, b * 400L + 400L).toDF(), b.toLong,
        saltBuckets = 8, mode = CdcMerge.MergeOnRead, compactEvery = 1,
        asyncCompaction = true, checkpointDir = s"$dir/cp")
      def step(b: Int): Int = { batch(b); CdcStream.awaitMaintenance(); CdcStream.compactionFailures(table) }
      // a missing base file fails every rewrite that reads its bucket, while
      // merge-on-read appends (which read no data files) keep committing
      val aside = java.nio.file.Paths.get(s"$dir/aside.parquet")
      def hideABase(): java.nio.file.Path = {
        val f = table.root.resolve(table.manifest.files.find(_.kind == FileEntry.BASE).get.path)
        java.nio.file.Files.move(f, aside); f
      }
      assert(step(0) == 0)
      val hidden = hideABase()
      assert(step(1) == 1)
      assert(step(2) == 2)
      java.nio.file.Files.move(aside, hidden)
      assert(step(3) == 0, "a successful compaction resets the count")
      hideABase()
      assert((4 to 6).map(step) == Seq(1, 2, 3))
      val e = intercept[IllegalStateException](batch(7))
      assert(e.getMessage.contains("failed 3 times in a row"), e.getMessage)
      assert(e.getCause != null, "the last compaction failure is the cause")
      assert(table.manifest.lastSourceEpoch == 6, "the failing batch must not commit")
      assert(CdcStream.compactionFailures(table) == 0, "raising clears the count")
    } finally rmrf(dir)
  }
}
