package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The curation lifecycle, end to end and EXECUTABLE — the runnable
  * form of README's "Operating decontamination" story, so the ops
  * walk can be driven, not just read:
  *
  *  1. register an eval set in the standing benchmark n-gram registry
  *  2. stream-ingest with the full gate (quality → decontamination →
  *     near-dup dedup → payload → stats), via the real streaming sink
  *  3. snapshot `t0` (zero-copy, manifest-only)
  *  4. a NEW eval set lands after ingest: register it through the
  *     SAME registry stream (one checkpoint — a fresh checkpoint
  *     against a standing store is the misconfiguration the store
  *     mark guards against) and run the retroactive sweep
  *  5. repair the stats store incrementally from the pinned deltas
  *  6. a gate-less BACKFILL lands after the sweep — invisible to an
  *     unchanged-registry sweep (no-op by design): fsck names the
  *     gap as an `info` finding, and `forceRetroSweep` (mark-only
  *     re-registration + sweep) closes it; the registry sink is
  *     stopped FIRST, per its live-stream caveat
  *  7. snapshot `t1`; diff `t0 → t1` (fast path: new dirs +
  *     sweep-window tombstones only)
  *  8. export `t1` as deterministically-sharded gzip JSONL with a
  *     self-describing `_MANIFEST`
  *  9. the refresh hand-off, consumer side: export `t0` full, export
  *     the `t0 → t1` delta, `applyExportDelta` — the applied corpus
  *     equals `t1`'s own export (and the manifests' provenance pins
  *     which delta belongs to which base)
  * 10. fsck the root — a clean lifecycle leaves zero findings
  *
  * Usage (the fixture ships in the repo):
  * {{{
  * sbt "runMain graft.streaming.LifecycleDemo \
  *   src/test/resources/lifecycle_docs.jsonl /tmp/graft-lifecycle"
  * }}}
  * Docs with `doc_id < 100` are the corpus; `doc_id = 100` is the
  * eval set known BEFORE ingest (its contaminated doc is gated out),
  * `doc_id = 101` the one that lands after (its contaminated doc is
  * swept retroactively), `doc_id = 102` the gate-less backfill doc
  * quoting eval set B (tombstoned by the forced sweep).
  * LifecycleDemoSpec runs [[run]] against the same fixture, so this
  * walk cannot rot. */
object LifecycleDemo {

  final case class Summary(admitted: Set[Long], tombstoned: Long,
      gapBatches: Long, forcedTombstoned: Long, gapAfterForce: Long,
      removedInDiff: Set[Long], exportedDocs: Long,
      appliedDocs: Set[Long], findings: Long)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: runMain graft.streaming.LifecycleDemo <docsJsonl> <rootDir>")
    val spark = graft.GraftSession.local()
    try run(spark, args(0), args(1))
    finally spark.stop()
  }

  def run(spark: SparkSession, docsPath: String,
      rootDir: String): Summary = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    def log(s: String): Unit = println(s"[lifecycle] $s")
    val docs = spark.read.json(docsPath)
      .select(col("doc_id").cast("long"), col("text"))
    val corpus = docs.where(col("doc_id") < 100L)
    def slice(pred: org.apache.spark.sql.Column) =
      docs.where(pred).collect().toIndexedSeq
        .map(r => (r.getLong(0), r.getString(1)))
    val bench = s"$rootDir/bench"

    // ONE registry stream for the whole lifecycle: eval sets arrive
    // as registered, and the store's _batch mark expects monotone
    // batch ids from one checkpoint
    val evalIn = MemoryStream[(Long, String)]
    val registry = Streaming.benchmarkIndexSink(
      evalIn.toDF().toDF("doc_id", "text"), "text", bench,
      s"$rootDir/_ck_bench", n = 8).start()
    try {
      log("1. register eval set A in the standing n-gram registry")
      evalIn.addData(slice(col("doc_id") === 100L): _*)
      registry.processAllAvailable()

      log("2. stream-ingest with the gate: quality -> DECON -> " +
        "near-dup -> payload -> stats")
      val in = MemoryStream[(Long, String)]
      val q = Streaming.curationIngestSink(
        in.toDF().toDF("doc_id", "text"), "text", "doc_id", rootDir,
        s"$rootDir/_ck_ingest", minQuality = 0.0,
        benchmarkDir = Some(bench))
        .start()
      try {
        for (half <- Seq(col("doc_id") <= 5L,
            col("doc_id") > 5L && col("doc_id") < 100L)) {
          in.addData(slice(half): _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      val admitted = Streaming.readCurationCorpus(spark, rootDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      log(s"   admitted ${admitted.toSeq.sorted.mkString(",")} " +
        "(the eval-A contaminated doc was gated out at admission)")

      log("3. snapshot t0 (zero-copy: pinned dirs + sweep mark)")
      Streaming.snapshotCorpus(spark, rootDir, "t0")

      log("4. eval set B lands AFTER ingest: register, then sweep")
      evalIn.addData(slice(col("doc_id") === 101L): _*)
      registry.processAllAvailable()
      val tombstoned = Streaming.retroDecontaminate(
        spark, rootDir, "text", "doc_id", bench)
      log(s"   sweep tombstoned $tombstoned doc(s)")

      log("5. incremental stats repair from the sweep's pinned deltas")
      val sweepsApplied =
        Streaming.subtractTombstonedStats(spark, rootDir)
      log(s"   subtracted $sweepsApplied sweep delta(s) — no corpus " +
        "scan")

      log("6. a gate-less backfill lands AFTER the sweep: fsck names " +
        "the gap, forceRetroSweep closes it")
      // the force bumps the registry mark, which would outrun a LIVE
      // benchmarkIndexSink stream's checkpoint ids (its later
      // registrations would be skipped by the exactly-once guard) —
      // stop the sink first, exactly as the sweep docs instruct
      registry.stop()
      Streaming.curationIngestBatch(
        docs.where(col("doc_id") === 102L), "text", "doc_id",
        rootDir, 2L, 0.0, 0.0, 1000.0, 8, 4, 3)
      def gapFindings(): Long = Streaming.fsckCurationStore(spark,
          rootDir)
        .where(col("status") === "info" &&
          col("path").endsWith("_sweep_corpus")).count()
      val gapBatches = gapFindings()
      log(s"   fsck info findings naming the unswept backfill: " +
        s"$gapBatches")
      val forcedTombstoned = Streaming.forceRetroSweep(
        spark, rootDir, "text", "doc_id", bench)
      val gapAfterForce = gapFindings()
      log(s"   forced sweep tombstoned $forcedTombstoned doc(s); " +
        s"gap findings now: $gapAfterForce")
      // the force pinned new stats deltas — apply them so the final
      // fsck's stats view stays consistent
      Streaming.subtractTombstonedStats(spark, rootDir)

      log("7. snapshot t1; diff t0 -> t1")
      Streaming.snapshotCorpus(spark, rootDir, "t1")
      val diff = Streaming.diffSnapshots(spark, rootDir, "t0", "t1",
        "doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      diff.foreach { case (id, ch) => log(s"   $ch doc $id") }

      log("8. export t1: derived shard count, gzip, manifest from " +
        "the write itself")
      Streaming.exportSnapshot(spark, rootDir, "t1",
        s"$rootDir/export_t1", "doc_id", codec = Some("gzip"))
      val mfPath = new org.apache.hadoop.fs.Path(
        s"$rootDir/export_t1/_MANIFEST")
      val mfFs = mfPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val mfIn = mfFs.open(mfPath)
      val manifest =
        try new String(mfIn.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally mfIn.close()
      log(s"   _MANIFEST $manifest")
      val exported = spark.read.json(s"$rootDir/export_t1").count()

      log("9. the refresh hand-off: export t0 full, export the " +
        "t0->t1 delta, apply it consumer-side — equals t1's export")
      Streaming.exportSnapshot(spark, rootDir, "t0",
        s"$rootDir/export_t0", "doc_id", codec = Some("gzip"))
      Streaming.exportSnapshotDelta(spark, rootDir, "t0", "t1",
        s"$rootDir/delta_t0_t1", "doc_id", codec = Some("gzip"))
      val applied = Streaming.applyExportDelta(spark,
        s"$rootDir/export_t0", s"$rootDir/delta_t0_t1", "doc_id")
      val appliedDocs = applied.select("doc_id").collect()
        .map(_.getLong(0)).toSet
      log(s"   applied corpus: ${appliedDocs.toSeq.sorted.mkString(",")}")

      log("10. fsck the root (O(metadata); empty = clean bill of " +
        "health)")
      val findings = Streaming.fsckCurationStore(spark, rootDir)
      val nFind = findings.count()
      if (nFind > 0) findings.show(100, truncate = false)
      log(s"   findings: $nFind")

      Summary(admitted, tombstoned, gapBatches, forcedTombstoned,
        gapAfterForce,
        diff.filter(_._2 == "removed").map(_._1).toSet, exported,
        appliedDocs, nFind)
    } finally registry.stop()
  }
}
