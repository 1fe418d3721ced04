package graft

import org.apache.spark.sql.functions._

/** Empirical export-sizing probe (dev tool, like ScaleProbe): builds
  * a multi-GB curation corpus by replicating the documents fixture,
  * snapshots it, runs [[graft.streaming.Streaming.exportSnapshot]]
  * with derived shard counts (`nShards = 0`) for each codec, and
  * prints the resulting shard-size histogram against the 512 MB
  * target — the evidence that the codec-aware expansion factor lands
  * shards near the target instead of 3× under it for compressed
  * exports.
  *
  * Usage: runMain graft.ExportProbe [replicas] [sfDir] [workDir]
  */
object ExportProbe {
  def main(args: Array[String]): Unit = {
    val replicas =
      if (args.length > 0 && args(0) != "skew") args(0).toInt else 1000
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val work = if (args.length > 2) args(2) else "/tmp/graft-export-probe"
    val spark = GraftSession.local()

    def rmr(p: String): Unit = {
      val d = new java.io.File(p)
      Option(d.listFiles).foreach(_.foreach(f => rmr(f.getPath)))
      d.delete(); ()
    }
    rmr(work)
    val root = s"$work/store"

    // replicated corpus with perturbed ids/texts — the rep marker
    // keeps rows distinct so parquet cannot collapse them to one page
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // skew mode (`ExportProbe skew [sfDir] [workDir]`): the
    // compressibility-adversarial corpus — batch 0 all
    // hyper-compressible (one repeated word), batches 1-3 all
    // pseudo-random hex (incompressible), so the ONE calibration
    // candidate file necessarily measures a mode the majority of the
    // corpus does not have. Prices whether calibrated sizing can
    // land shards >2× target on pathological skew (the case a
    // size-capped shard split would exist for).
    val skew = args.headOption.contains("skew")
    val corpus =
      if (!skew)
        base.crossJoin(spark.range(replicas).toDF("rep"))
          .select((col("doc_id") * replicas + col("rep")).as("doc_id"),
            concat(col("text"), lit(" replica marker "), col("rep"))
              .as("text"))
      else spark.range(400000L).toDF("doc_id").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          // hyper-compressible: 9.6 KB of one row-unique 32-char unit
          expr("repeat(md5(cast(doc_id as string)), 300)"))
          .otherwise(expr(
            // incompressible-ish: 9.6 KB of 75 DISTINCT sha512 hexes
            "concat_ws('', transform(sequence(1, 75), " +
              "i -> sha2(concat(cast(doc_id as string), '-', i), 512)))"))
          .as("text"))
    // four committed batch dirs — the export's sizing listing walks
    // the pinned dirs exactly as it would a real ingest history
    // skew mode packs the compressible batch into fewer files so its
    // parquet parts land ≥8 MB — making one of THEM the calibration
    // candidate (smallest ≥8 MB) while the corpus majority is
    // incompressible: the adversarial shape for one-file calibration
    for (b <- 0 to 3)
      corpus.where(pmod(col("doc_id"), lit(4)) === b)
        .repartition(if (skew && b == 0) 4 else 8)
        .write.parquet(s"$root/corpus/batch=$b")
    val pq = {
      var bytes = 0L
      val it = new org.apache.hadoop.fs.Path(s"$root/corpus")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(new org.apache.hadoop.fs.Path(s"$root/corpus"), true)
      while (it.hasNext) bytes += it.next().getLen
      bytes
    }
    println(f"[probe] corpus parquet bytes: ${pq / 1e6}%.0f MB")
    graft.streaming.Streaming.snapshotCorpus(spark, root, "p")

    // the calibration factors on their own, including codecs whose
    // TEXT sink cannot encode here (zstd → the parquet-side second
    // fallback measures it through zstd-jni) — the PERF.md probe rows
    val storeFs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pinned = graft.streaming.Streaming.pinnedFiles(
      storeFs, root, Seq(0L, 1L, 2L, 3L))
    for (codec <- Seq(None, Some("gzip"), Some("zstd"))) {
      val f = graft.streaming.Streaming.measuredExpansion(
        spark, pinned, codec, s"$work/.cal-${codec.getOrElse("plain")}")
      println(f"[probe] calibrated expansion codec=" +
        f"${codec.getOrElse("plain")}%-5s factor=" +
        f.map(v => f"$v%.3f").getOrElse("(fallback)") +
        " (×1.1 pad included)")
    }

    for (codec <- Seq(None, Some("gzip"), Some("zstd"))) {
      val out = s"$work/export-${codec.getOrElse("plain")}"
      val t0 = System.nanoTime()
      // a codec missing from THIS environment (text-sink zstd rides
      // Hadoop's ZStandardCodec, which needs native libhadoop) skips
      // its row and the probe continues to the next codec
      val available =
        try {
          graft.streaming.Streaming.exportSnapshot(spark, root, "p",
            out, "doc_id", nShards = 0, codec = codec)
          true
        } catch {
          case e: Exception
              if e.getMessage != null &&
                e.getMessage.contains("CODEC_NOT_AVAILABLE") =>
            println(s"[probe] codec=${codec.getOrElse("plain")} " +
              "unavailable in this environment (text-sink zstd needs " +
              "native hadoop) — skipped")
            false
        }
      if (available) {
        val s = (System.nanoTime() - t0) / 1e9
        // one size per shard = the sum of its shard=N dir's part files
        val sizes = new java.io.File(out).listFiles()
          .filter(_.getName.startsWith("shard="))
          .map(d => Option(d.listFiles()).map(_.map(_.length()).sum)
            .getOrElse(0L)).sorted
        val tot = sizes.sum / 1e6
        println(f"[probe] codec=${codec.getOrElse("plain")}%-5s " +
          f"$s%6.1f s  shards=${sizes.length}%3d  total=$tot%7.0f MB  " +
          f"min=${sizes.min / 1e6}%6.0f MB  " +
          f"mean=${sizes.sum / sizes.length / 1e6}%6.0f MB  " +
          f"max=${sizes.max / 1e6}%6.0f MB  (target 512 MB)")
      }
    }
    spark.stop()
  }
}
