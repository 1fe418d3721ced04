package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._

/** Empirical scale probe (dev tool, like Explain): replicates the
  * documents fixture N× with perturbed ids/texts and injects a
  * degenerate all-identical cluster, then times the dedup family.
  * The point is evidence for the 100 TB posture claims: per-doc cost
  * stays flat as the corpus grows, and a boilerplate cluster large
  * enough to be a whole-bucket-in-one-row OOM under the round-1 design
  * routes through the join path instead.
  *
  * Usage: runMain graft.ScaleProbe [replicas] [degenerateDocs] [sfDir]
  *
  * `runMain graft.ScaleProbe lifecycle [replicas] [degenerateDocs]
  * [sfDir]` runs ONLY the standing-store evidence path — the
  * exact-Jaccard octile admission merges (per-batch wall + standing
  * prefix-read fraction), the bimodal banded-vs-global read counts,
  * and the ingest/sweep/snapshot/export lifecycle — so the
  * sublinearity claims can be re-measured a decade up (e.g.
  * replicas=200 ≈ 1M docs vs the standing 105k table) without paying
  * for the whole-family sweep at that scale.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    // `retro` = the lifecycle mode minus the octile admission phase
    // (re-measure sweeps/snapshots/exports without re-paying the
    // index merges)
    val retroOnly = args.headOption.contains("retro")
    val lifecycleOnly = args.headOption.contains("lifecycle") || retroOnly
    val a = if (lifecycleOnly) args.drop(1) else args
    val replicas = if (a.length > 0) a(0).toInt else 20
    val degenerate = if (a.length > 1) a(1).toInt else 5000
    val sfDir = if (a.length > 2) a(2) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val n0 = base.count()
    // collision-proof id spaces: replicated ids live in
    // [0, (maxId+1)*replicas); boilerplate starts right above, whatever
    // the base id distribution looks like
    val maxId = base.agg(max("doc_id")).head().getLong(0)
    // replicate with distinct ids; tag each replica's text so replicas are
    // near-dups of each other (same prefix, one marker token appended).
    // In lifecycle mode the clique size is CAPPED at 20 regardless of
    // replicas: each group of 20 shares a 12-token salt that pushes
    // inter-group Jaccard below the 0.8 admission threshold, so a 10x
    // corpus carries 10x MORE near-dup cliques of the same size — the
    // production growth shape (more dup clusters, not bigger ones) —
    // instead of quadratically more verify pairs per clique, which
    // would measure the data's pair count, not the store's scaling
    val replicated = if (lifecycleOnly)
      base.crossJoin(spark.range(replicas).toDF("rep"))
        .select((col("doc_id") * replicas + col("rep")).as("doc_id"),
          concat(col("text"), lit(" rep"), pmod(col("rep"), lit(20)),
            lit(" "), concat_ws(" ", (1 to 12).map(i =>
              substring(md5(concat_ws("-", col("doc_id"),
                floor(col("rep") / 20), lit(i))), 1, 8)): _*))
            .as("text"))
    else base.crossJoin(
        spark.range(replicas).toDF("rep"))
      .select((col("doc_id") * replicas + col("rep")).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"))
    val boiler = spark.range(degenerate)
      .select((col("id") + lit((maxId + 1) * replicas)).as("doc_id"),
        lit("identical boilerplate navigation footer text repeated on every page").as("text"))
    val corpus = replicated.unionByName(boiler)
      .repartition(spark.sparkContext.defaultParallelism)
      .cache()
    val total = corpus.count()
    println(s"[probe] corpus: $total docs ($n0 base x $replicas + $degenerate degenerate)")

    def time(label: String, denom: Long, unit: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $label%-28s $rows%10d rows  $s%7.1f s  ${denom / s}%9.0f $unit")
    }

    if (!lifecycleOnly) {
    // row-local text family first: these must scale at scan speed (zero
    // exchanges), so docs/s here is the per-core ceiling for the text path
    time("text profile (row-local)", total, "docs/s") {
      val toks = Text.tokens(col("text"))
      corpus.select(col("doc_id"),
        Text.qualityScore(col("text")).as("q"),
        Text.langId(col("text")).as("lang"),
        Text.simhash(col("text")).as("sh"),
        Text.tokenEntropy(toks).as("h"),
        Text.topToken(toks).as("tt"))
    }

    time("exact dedup", total, "docs/s")(Dedup.exact(corpus, "text", "doc_id"))
    time("fingerprint dedup", total, "docs/s")(
      Dedup.byFingerprint(corpus, "text", "doc_id"))
    time("simhash pairs (capped)", total, "docs/s")(Dedup.simhashPairs(
      corpus, "text", "doc_id", bits = 32, prefixBits = 12, maxHamming = 2,
      maxBucket = 2000))
    time("minhash LSH pairs (capped)", total, "docs/s")(
      Dedup.minhashCandidatePairs(
        corpus, "text", "doc_id", numHashes = 8, bands = 4, shingleSize = 3,
        maxBucket = 2000))
    // EXACT prefix-filter Jaccard join at replicated scale: every base
    // doc's replicas are a ~0.93-Jaccard near-dup clique, so t = 0.95
    // forces the operator to generate and VERIFY every intra-clique
    // candidate (~n0 x C(replicas,2) pairs) and reject them — the
    // worst honest case for the verify stage, while the prefix phase
    // must keep cross-clique candidates near zero (replica-distinct
    // rare shingles). Throughput here is the operator's cost ceiling;
    // real thresholds sit below the clique similarity and return the
    // pairs instead of discarding them.
    time("prefix jaccard (t=0.95)", total, "docs/s")(
      Dedup.prefixFilterJaccardPairs(corpus, "text", "doc_id",
        n = 3, minJaccard = 0.95))
    // substring fingerprinting both ways: md5-per-position (the
    // oracle-checkable mode) vs the codegen'd O(n) Rabin-Karp
    // expression — the measured justification for the fast path
    time("substring dups (md5)", total, "docs/s")(
      Dedup.substringDupWindows(corpus, "doc_id", "text",
        windowChars = 40, sampleMod = 20))
    time("substring dups (rolling)", total, "docs/s")(
      Dedup.substringDupWindows(corpus, "doc_id", "text",
        windowChars = 40, sampleMod = 20, rollingHash = true))
    // incremental ingestion: 90% of the corpus is the standing banded
    // index, the other 10% arrives as a batch and is admission-gated —
    // per-batch cost must track BATCH size, with the store side one
    // fixed-width join probe
    time("incremental admit (10% batch)", total / 10, "batch docs/s") {
      val store = corpus.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val batch = corpus.where(pmod(col("doc_id"), lit(10)) === 0)
      Dedup.admitAgainstIndex(batch, "text", "doc_id",
        Dedup.minhashIndex(store, "text", "doc_id"))
    }
    // streaming admission against an ON-DISK bucketed index: feed the
    // corpus through mergeDedupIndexBatch in equal slices (sliced by
    // BASE doc so each batch is mostly novel and the index genuinely
    // grows) and report per-batch wall time — the bh= partition prune
    // plus the broadcast-streamed index join must keep it ~flat while
    // the standing index grows ~linearly
    // shared scaffold for the two standing-store ingestion probes:
    // slice by BASE doc (doc_id / replicas) so each batch is mostly
    // novel and the standing store genuinely grows — the load-bearing
    // predicate lives ONCE; per-batch wall time is reported so
    // flatness-while-the-store-grows is visible
    def ingestSlices(label: String, tmpPrefix: String)(
        merge: (org.apache.spark.sql.DataFrame, String, Int) => Unit): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory(tmpPrefix).toString
      val nb = 8
      (0 until nb).foreach { i =>
        val b = corpus.where(
          pmod(floor(col("doc_id") / replicas), lit(nb)) === i)
        val t0 = System.nanoTime()
        merge(b, tmp, i)
        println(f"[probe] $label batch $i%2d " +
          f"(standing ~ $i/$nb of corpus)  ${(System.nanoTime() - t0) / 1e9}%7.1f s")
        if (label == "dedup-index merge" && i == nb / 2 - 1) {
          // mid-run maintenance: collapse the per-batch dirs; later
          // merges then list/open one compacted tree + their own dirs
          val c0 = System.nanoTime()
          graft.streaming.Streaming.compactDedupIndex(spark, s"$tmp/index")
          println(f"[probe] dedup-index compaction " +
            f"after batch $i%2d          ${(System.nanoTime() - c0) / 1e9}%7.1f s")
        }
      }
    }
    ingestSlices("dedup-index merge", "graft-dixprobe") { (b, tmp, i) =>
      graft.streaming.Streaming.mergeDedupIndexBatch(
        b, "text", "doc_id", s"$tmp/index", i.toLong)
      ()
    }
    // END-TO-END curation ingest (gate -> dedup -> payload -> stats,
    // one exactly-once pass): per-batch wall time must track BATCH
    // size while the corpus, the banded index and the stats all grow
    ingestSlices("curation ingest", "graft-ingestprobe") { (b, tmp, i) =>
      graft.streaming.Streaming.curationIngestBatch(
        b, "text", "doc_id", tmp, i.toLong,
        minQuality = 0.0, lenLo = 0.0, lenHi = 5000.0,
        numHashes = 8, bands = 4, shingleSize = 3)
    }
    } // !lifecycleOnly
    // EXACT-Jaccard streaming admission (the q204 machinery as a
    // sink): frozen order pinned once over the full corpus, then
    // LENGTH-OCTILE batches merge against the growing two-tree store.
    // Slicing by length gives each batch a narrow size envelope — the
    // case the szb= band dirs serve: however many jb= digest buckets
    // a batch touches, its reads skip every band outside
    // [t·mn, mx/t], so per-batch admission I/O stays bounded by the
    // batch, not index age. (A batch whose sizes span the whole
    // corpus — the old base-id slicing — reads every band and falls
    // back to the jb= prune.) Mid-run compaction folds the per-batch
    // dirs like the dedup-index probe, the production maintenance
    // posture.
    if (!retroOnly) locally {
      val frozen = Dedup.shingleDfTable(corpus, "text", 3)
      frozen.count() // materialize the pin outside the timed loop
      val nb = 8
      // slice by EXACT shingle-set size octile (computed once,
      // untimed): char-length octiles map to heavily-overlapping sz
      // ranges, which would blur the size-envelope prune this probe
      // exists to measure
      val szByDoc = Dedup.orderedShingleSets(corpus, "text", "doc_id", 3,
          Some(frozen))
        .select(col("__id").as("doc_id"), col("__sz").cast("double").as("l"))
        .localCheckpoint()
      val cuts = szByDoc
        .stat.approxQuantile("l", (1 until nb).map(_.toDouble / nb).toArray,
          0.001)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-jixprobe").toString
      (0 until nb).foreach { i =>
        val lo = if (i == 0) Double.MinValue else cuts(i - 1)
        val hi = if (i == nb - 1) Double.MaxValue else cuts(i)
        val b = corpus.join(
          szByDoc.where(col("l") > lo && col("l") <= hi)
            .select("doc_id"), Seq("doc_id"), "left_semi")
        val t0 = System.nanoTime()
        graft.streaming.Streaming.mergeJaccardIndexBatch(
          b, "text", "doc_id", s"$tmp/index", i.toLong, frozen,
          n = 3, minJaccard = 0.8)
        val wall = (System.nanoTime() - t0) / 1e9
        // read-I/O isolation (untimed): standing prefix rows the
        // NEXT batch's prune would scan vs the whole tree — wall
        // time above also carries the batch's own shingling cost,
        // which grows with doc length across octiles; this pair is
        // the store-read trend on its own
        val bsets = Dedup.orderedShingleSets(b, "text", "doc_id", 3,
          Some(frozen))
        val szr = bsets.agg(min("__sz"), max("__sz")).collect().head
        val pref = spark.read.parquet(s"$tmp/index/prefix")
        val total = pref.count()
        val read = if (szr.isNullAt(0)) 0L else {
          val (slo, shi) = Dedup.sizeEnvelope(
            szr.getAs[Number](0).longValue,
            szr.getAs[Number](1).longValue, 0.8)
          pref.where(col("szb").between(Dedup.jaccardSizeBandOf(slo),
              Dedup.jaccardSizeBandOf(shi)) &&
              col("sz").between(slo, shi)).count()
        }
        println(f"[probe] jaccard-index merge batch $i%2d " +
          f"(standing ~ $i/$nb of corpus)  $wall%7.1f s  " +
          f"read $read%9d of $total%9d standing rows")
        if (i == nb / 2 - 1) {
          val c0 = System.nanoTime()
          graft.streaming.Streaming.compactJaccardIndex(spark, s"$tmp/index")
          println(f"[probe] jaccard-index compaction " +
            f"after batch $i%2d          ${(System.nanoTime() - c0) / 1e9}%7.1f s")
        }
      }
      // MIXED-size batch against the full standing store — the
      // per-band envelope's whole point. A BIMODAL batch (smallest +
      // largest octile together, re-idd so every doc is a 1.0-Jaccard
      // near-dup of its stored original) makes a single global
      // [t·mn, mx/t] envelope cover essentially the entire store,
      // while the per-band OR reads only the two end bands' ranges.
      // Both counts are reported (untimed) next to the timed merge.
      locally {
        val bi = corpus.join(
            szByDoc.where(col("l") <= cuts(0) || col("l") > cuts(nb - 2))
              .select("doc_id"), Seq("doc_id"), "left_semi")
          .select((col("doc_id") + lit((maxId + 1) * replicas * 2))
            .as("doc_id"), col("text"))
        val bsets = Dedup.orderedShingleSets(bi, "text", "doc_id", 3,
          Some(frozen)).localCheckpoint()
        val pref = spark.read.parquet(s"$tmp/index/prefix")
        val totalRows = pref.count()
        val szr = bsets.agg(min("__sz"), max("__sz")).collect().head
        val (glo, ghi) = Dedup.sizeEnvelope(
          szr.getAs[Number](0).longValue,
          szr.getAs[Number](1).longValue, 0.8)
        val readGlobal = pref.where(
          col("szb").between(Dedup.jaccardSizeBandOf(glo),
            Dedup.jaccardSizeBandOf(ghi)) &&
          col("sz").between(glo, ghi)).count()
        val readBanded = pref.where(
          Dedup.sizeEnvelopePredicate(bsets, 0.8,
            pref.columns.contains("szb"))).count()
        val t0 = System.nanoTime()
        graft.streaming.Streaming.mergeJaccardIndexBatch(
          bi, "text", "doc_id", s"$tmp/index", nb.toLong, frozen,
          n = 3, minJaccard = 0.8)
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[probe] jaccard-index BIMODAL batch      $wall%7.1f s  " +
          f"read banded $readBanded%9d vs global $readGlobal%9d " +
          f"of $totalRows%9d standing rows")
      }
      // END-TO-END exact-Jaccard curation ingest (gate -> frozen-order
      // exact dedup admission -> payload -> stats, one exactly-once
      // pass per batch): the curationIngestSinkExact cost figure, same
      // octile slicing so the szb= prune is exercised in-store
      if (!lifecycleOnly) locally {
        val tmpE = java.nio.file.Files
          .createTempDirectory("graft-ingestprobe-exact").toString
        (0 until nb).foreach { i =>
          val lo = if (i == 0) Double.MinValue else cuts(i - 1)
          val hi = if (i == nb - 1) Double.MaxValue else cuts(i)
          val b = corpus.join(
            szByDoc.where(col("l") > lo && col("l") <= hi)
              .select("doc_id"), Seq("doc_id"), "left_semi")
          val t0 = System.nanoTime()
          graft.streaming.Streaming.curationIngestBatchExact(
            b, "text", "doc_id", tmpE, i.toLong,
            minQuality = 0.0, lenLo = 0.0, lenHi = 1e9,
            dfTable = frozen, n = 3, minJaccard = 0.8)
          println(f"[probe] exact curation ingest batch $i%2d " +
            f"(standing ~ $i/$nb of corpus)  ${(System.nanoTime() - t0) / 1e9}%7.1f s")
        }
      }
    }
    // decontamination: 1% of docs stand in for the benchmark set;
    // broadcast-semi-join inside the scan, so docs/s ~ text family
    if (!lifecycleOnly) time("decontaminate (1% bench)", total, "docs/s")(
      Dedup.ngramContamination(
        corpus.where(pmod(col("doc_id"), lit(100)) =!= 0),
        corpus.where(pmod(col("doc_id"), lit(100)) === 0),
        "text", "doc_id", n = 8))
    // RETROACTIVE sweep over a standing curation payload: each new
    // benchmark costs ONE corpus read against its own grams broadcast
    // — registry growth moves the broadcast, never the scan. Two
    // sweeps book the incremental claim (sweep 2 scans only batch-1
    // grams, with sweep-1's dead anti-joined out up front). Replicas
    // share 8-grams with their base, so a benchmarked doc takes its
    // whole replica cluster with it — contamination hits in clusters,
    // which is the production shape
    locally {
      val tmpR = java.nio.file.Files
        .createTempDirectory("graft-retroprobe").toString
      // benchmark selection: contamination spreads to a hit doc's
      // whole near-dup clique (shared base 8-grams). In standard mode
      // pmod(id, 100) residues pick ~1% of DOCS (≈25% of the corpus
      // once cliques amplify, the r10 booking). In lifecycle mode the
      // id space is base*replicas + rep with 20-doc salt-capped
      // cliques, and a %100 residue would hit ~2 replicas of EVERY
      // base — a sweep that tombstones 100% of the corpus measures
      // only itself. Select whole BASE residues instead (rep == 0 of
      // every 20th base): ~5% of cliques per benchmark, disjoint
      // across the three residues by construction.
      def benchSlice(r: Int) =
        if (lifecycleOnly)
          corpus.where(pmod(col("doc_id"), lit(20L * replicas)) ===
            r.toLong * replicas)
        else
          corpus.where(pmod(col("doc_id"), lit(100)) ===
            (if (r == 3) 37 else r))
      // payload + stats through the ingest's own tail, so the sweeps
      // pin stats deltas and the repair pair below can be booked
      var t0i = System.nanoTime()
      graft.streaming.Streaming.ingestTail(corpus, "text", tmpR, 0L,
        0.0, 5000.0)
      println(f"[probe] ingest tail (payload+stats)   $total%10d docs " +
        f"${(System.nanoTime() - t0i) / 1e9}%7.1f s")
      graft.streaming.Streaming.mergeBenchmarkNgramBatch(
        benchSlice(0), "text", s"$tmpR/bench", 0L, n = 8)
      var t0 = System.nanoTime()
      val s1 = graft.streaming.Streaming.retroDecontaminate(
        spark, tmpR, "text", "doc_id", s"$tmpR/bench")
      println(f"[probe] retro sweep 1 (1%% bench)      $s1%10d dead " +
        f"${(System.nanoTime() - t0) / 1e9}%7.1f s")
      graft.streaming.Streaming.mergeBenchmarkNgramBatch(
        benchSlice(1), "text", s"$tmpR/bench", 1L, n = 8)
      t0 = System.nanoTime()
      val s2 = graft.streaming.Streaming.retroDecontaminate(
        spark, tmpR, "text", "doc_id", s"$tmpR/bench")
      println(f"[probe] retro sweep 2 (+1%% bench)     $s2%10d dead " +
        f"${(System.nanoTime() - t0) / 1e9}%7.1f s")
      // SNAPSHOT lifecycle on the same standing corpus: creation is
      // manifest-only (O(metadata) at any corpus size), and the
      // run-to-run diff's fast path reads only the delta — booked
      // against the brute-force two-anti-join it falls back to
      t0 = System.nanoTime()
      graft.streaming.Streaming.snapshotCorpus(spark, tmpR, "t0")
      println(f"[probe] snapshot create (standing)    " +
        f"${(System.nanoTime() - t0) / 1e9}%7.2f s")
      // second epoch: 1/8 of the corpus re-idd into batch=1, one more
      // benchmark registered and swept, then snapshot t1
      graft.streaming.Streaming.ingestTail(
        corpus.where(pmod(col("doc_id"), lit(8)) === 0)
          .select((col("doc_id") + lit((maxId + 1) * replicas * 3))
            .as("doc_id"), col("text")),
        "text", tmpR, 1L, 0.0, 5000.0)
      // residue 37 lands in replica cliques the first two benchmarks
      // did NOT touch (cliques are 20 consecutive ids, so residues
      // 0/1 share cliques; 37 hits a disjoint fifth) — the sweep
      // between the snapshots tombstones fresh docs and the diff's
      // removed leg is non-trivial
      graft.streaming.Streaming.mergeBenchmarkNgramBatch(
        benchSlice(3), "text", s"$tmpR/bench", 2L, n = 8)
      graft.streaming.Streaming.retroDecontaminate(
        spark, tmpR, "text", "doc_id", s"$tmpR/bench")
      graft.streaming.Streaming.snapshotCorpus(spark, tmpR, "t1")
      t0 = System.nanoTime()
      val nFast = graft.streaming.Streaming.diffSnapshots(
        spark, tmpR, "t0", "t1", "doc_id").queryExecution.toRdd.count()
      val fastS = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val va = graft.streaming.Streaming.readSnapshot(spark, tmpR, "t0")
        .select("doc_id")
      val vb = graft.streaming.Streaming.readSnapshot(spark, tmpR, "t1")
        .select("doc_id")
      val nBrute = vb.join(va, Seq("doc_id"), "left_anti")
        .unionByName(va.join(vb, Seq("doc_id"), "left_anti"))
        .distinct().queryExecution.toRdd.count()
      println(f"[probe] snapshot diff fast-path       $nFast%10d rows " +
        f"$fastS%7.1f s  vs brute $nBrute%10d rows " +
        f"${(System.nanoTime() - t0) / 1e9}%7.1f s")
      // stats repair pair: the pinned-delta subtract (O(tombstoned
      // docs)) vs the full clean-corpus recompute it replaces
      t0 = System.nanoTime()
      val nSub = graft.streaming.Streaming
        .subtractTombstonedStats(spark, tmpR)
      println(f"[probe] stats repair (subtract)       $nSub%10d swps " +
        f"${(System.nanoTime() - t0) / 1e9}%7.1f s")
      t0 = System.nanoTime()
      graft.streaming.Streaming.rebuildCurationStats(
        spark, tmpR, "text", 0.0, 5000.0)
      println(f"[probe] stats repair (full rebuild)   " +
        f"${(System.nanoTime() - t0) / 1e9}%7.1f s")
      // export: derived shard count, codec'd, manifest from the write
      t0 = System.nanoTime()
      graft.streaming.Streaming.exportSnapshot(spark, tmpR, "t1",
        s"$tmpR/export_t1", "doc_id", codec = Some("gzip"))
      val expS = (System.nanoTime() - t0) / 1e9
      val mf = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$tmpR/export_t1/_MANIFEST")), "UTF-8")
      println(f"[probe] export t1 (gzip jsonl)        $expS%7.1f s  $mf")
      // fsck the full lifecycle root: one driver-side metadata pass
      t0 = System.nanoTime()
      val nFsck = graft.streaming.Streaming
        .fsckCurationStore(spark, tmpR).count()
      println(f"[probe] fsck lifecycle root           $nFsck%10d find " +
        f"${(System.nanoTime() - t0) / 1e9}%7.1f s")
      // fsck cost is metadata-bound: a many-batch root (128 dirs +
      // sweeps/snapshots above) books the per-dir price
      val tmpM = java.nio.file.Files
        .createTempDirectory("graft-fsckmany").toString
      (0 until 128).foreach { b =>
        spark.range(b * 10, b * 10 + 10)
          .select(col("id").as("doc_id"), lit("tiny probe doc text")
            .as("text"))
          .coalesce(1).write.parquet(s"$tmpM/corpus/batch=$b")
      }
      t0 = System.nanoTime()
      val nFsckM = graft.streaming.Streaming
        .fsckCurationStore(spark, tmpM).count()
      println(f"[probe] fsck 128-batch root           $nFsckM%10d find " +
        f"${(System.nanoTime() - t0) / 1e9}%7.1f s")
    }
    if (!lifecycleOnly) {
    // greedy subword segmentation: fold (O(|V|) per position) vs the
    // trie expression (O(piece length)) on the same curated vocab, plus
    // the trie at a 10k-piece production-scale vocab the fold can't touch
    time("wordpiece segment (fold)", total, "docs/s")(
      corpus.select(col("doc_id"),
        size(Text.greedyPieces(col("text"), SearchQueries.WpVocab))
          .as("n_pieces")))
    time("wordpiece segment (trie)", total, "docs/s")(
      corpus.select(col("doc_id"),
        size(Text.greedyPiecesTrie(col("text"), SearchQueries.WpVocab))
          .as("n_pieces")))
    val bigVocab = Iterator.iterate(Seq("")) { prev =>
      prev.flatMap(p => "etaoinshrdlu".map(c => p + c))
    }.drop(1).flatten.take(10000).toSeq
    time("wordpiece trie (10k vocab)", total, "docs/s")(
      corpus.select(col("doc_id"),
        size(Text.greedyPiecesTrie(col("text"), bigVocab))
          .as("n_pieces")))

    // BPE: train on the word histogram (vocabulary-scale iterations),
    // then encode the full corpus through the rank-map expression
    val bt0 = System.nanoTime()
    val bpeRules = Bpe.trainBpe(corpus, "text", 12)
    println(f"[probe] bpe train (12 merges)  " +
      f"       ${bpeRules.size}%10d rules ${(System.nanoTime() - bt0) / 1e9}%7.1f s")
    time("bpe encode (rank map)", total, "docs/s")(
      corpus.select(col("doc_id"),
        size(Bpe.encodeFast(col("text"), bpeRules)).as("n_pieces")))

    // unigram-LM: train over the histogram head (vocabulary-scale)
    // and encode the corpus (DP per DISTINCT word, broadcast back)
    time("unigram-lm train (500 words)", total, "docs/s")(
      UnigramLm.trainUnigram(Bpe.wordHistogram(corpus, "text")))
    val probePlog = UnigramLm.trainedPieceLogProbs(
      Bpe.wordHistogram(corpus, "text"))
    time("unigram-lm encode", total, "docs/s")(
      UnigramLm.encodeDocs(corpus, "text", "doc_id", probePlog))

    // count-min sketch over every token occurrence: the cell grid is
    // d x 256 no matter the vocabulary — pure map-side-combine build
    time("cms build (d=4)", total, "docs/s")(Sketch.cmsBuild(
      corpus.select(explode(Text.tokens(col("text"))).as("tok")),
      "tok", d = 4))

    // hashed-feature classifier at a production bucket count: the
    // broadcast-join weight table (262,144 rows, a few MB) — the
    // literal-array form cannot express this width at all
    val lrnBuckets = 1 << 18
    val bigW = spark.range(lrnBuckets)
      .select(col("id").cast("int").as("bucket"),
        (sin(col("id").cast("double")) / 4.0).as("w"))
    time("applyLinear (262k buckets)", total, "docs/s")(
      Learning.applyLinear(
        Learning.hashedFeatures(corpus, "doc_id", "text", lrnBuckets),
        bigW, 0.125))
    time("trainLinearDist 1 iter (262k)", total, "docs/s")(
      Learning.trainLinearDist(
        Learning.hashedFeatures(corpus, "doc_id", "text", lrnBuckets),
        corpus.select(col("doc_id"),
          (col("doc_id") % 2).cast("double").as("y")),
        lrnBuckets, 0.5, 1))

    // ------------------------------------------------- curation family
    // chunk+pack is the full context-window pipeline: tokenize, explode
    // to ~len/stride chunks, one shard shuffle, running-sum pack ids
    time("chunk 32/24 + pack 2048", total, "docs/s")(
      Curation.packSequences(
        Curation.chunkTokens(corpus, "doc_id", "text", 32, 24)
          .withColumn("shard", Curation.shard(col("doc_id"), 256).cast("long")),
        Seq("shard"), Seq(col("doc_id"), col("chunk_idx")),
        "chunk_tokens", 2048))
    // per-key cap on a synthetic 997-way key — exercises the map-side
    // WindowGroupLimit pre-filter under many groups
    time("cap 100 per key (997 keys)", total, "docs/s")(
      Curation.capPerKey(
        corpus.withColumn("src", pmod(col("doc_id"), lit(997))),
        Seq("src"), Seq(length(col("text")).desc, col("doc_id").asc), 100))
    time("pmi bigrams (min 100)", total, "docs/s")(
      Curation.pmiBigrams(corpus, "text", minCount = 100))
    corpus.unpersist()

    // ------------------------------------------------ time-series family
    // replicate events across disjoint user-id spaces: same per-user
    // density, replicas x more keys — the window partitions independently
    // events.ts is TIMESTAMP(NANOS) parquet — GraftSession reads it via
    // the long path; truncate to micros exactly like SparkEntry.t
    val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
    val evBase = (if (evRaw.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      evRaw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else if (evRaw.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      evRaw.withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
    else evRaw).select("user_id", "ts", "value")
    val ev0 = evBase.count()
    val maxUser = evBase.agg(max("user_id")).head().getLong(0)
    val events = evBase.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("user_id") + col("rep") * (maxUser + 1)).as("user_id"),
        col("ts"), col("value"))
      .repartition(spark.sparkContext.defaultParallelism)
      .cache()
    val eTotal = events.count()
    println(s"[probe] events: $eTotal ($ev0 base x $replicas)")
    time("resample 6h linear", eTotal, "events/s")(
      TimeSeries.resampleLinear(events, "user_id", "ts", "value", 21600))

    // z-order layout clustering of the replicated event stream: the
    // write-side pass (range repartition + in-partition sort on the
    // interleaved value) — row-local math, one range exchange
    time("z-order cluster (2 dims)", eTotal, "events/s")(
      Layout.zorderBy(events,
        col("user_id"), 0.0, (maxUser + 1).toDouble * replicas,
        col("value"), 0.0, 500.0, bits = 8,
        numPartitions = spark.sparkContext.defaultParallelism))
    events.unpersist()

    // ------------------------------------------------- similarity family
    // replicate embeddings with a deterministic per-replica perturbation:
    // replica r scales dimension (r mod dim) by 1 + (r+1)/1000, so every
    // replica (including r=0) differs from the base vector
    val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val e0 = embBase.count()
    val vecs = embBase.crossJoin(spark.range(replicas).toDF("rep"))
      .select((col("vec_id") * replicas + col("rep")).as("vec_id"),
        transform(col("embedding"), (v, i) =>
          when(i === pmod(col("rep"), size(col("embedding"))),
            v * (lit(1.0) + (col("rep") + 1) / 1000.0)).otherwise(v))
          .as("embedding"))
      .repartition(spark.sparkContext.defaultParallelism)
      .cache()
    val vTotal = vecs.count()
    println(s"[probe] vectors: $vTotal ($e0 base x $replicas)")
    val q = array((0 until 64).map(d => lit(math.sin(d + 1))): _*)
    time("brute-force topk", vTotal, "vecs/s")(Similarity.bruteForceTopK(
      vecs, "embedding", "vec_id", q, 10))
    time("sign-LSH topk (8 planes)", vTotal, "vecs/s")(Similarity.lshTopK(
      vecs, "embedding", "vec_id", q, dim = 64, planes = 8, k = 10))
    val cents = embBase.filter(col("vec_id") < 64)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    time("IVF topk (64 lists, probe 4)", vTotal, "vecs/s")(Similarity.ivfTopK(
      vecs, "embedding", "vec_id", cents, q, nprobe = 4, k = 10))
    time("embedding near-dup (capped)", vTotal, "vecs/s")(
      Similarity.embeddingNearDupPairs(
        vecs, "embedding", "vec_id", dim = 64, planes = 10, minCosine = 0.999,
        maxBucket = 2000))

    // PQ at replicated scale: codebook (16 codes), full-corpus encode,
    // ADC scoring from a 3-query distance table — the parts whose cost
    // must stay linear in the corpus with constant-size sketch state
    val pqCb = Quantize.pqCodebook(vecs, "embedding", "vec_id",
      m = 4, k = 16, iters = 2, dim = 64)
    time("pq codebook (4x16, 2 passes)", vTotal, "vecs/s")(pqCb)
    val cbCached = pqCb.cache()
    cbCached.count()
    time("pq encode", vTotal, "vecs/s")(Quantize.pqEncode(
      vecs, cbCached, "embedding", "vec_id", m = 4, dim = 64))
    val pqQs = embBase.orderBy("vec_id").limit(3)
    time("pq ADC topk (3 queries)", vTotal, "vecs/s")(Quantize.pqAdcTopK(
      vecs, pqQs, cbCached, "embedding", "vec_id", "vec_id",
      m = 4, dim = 64, k = 10))
    cbCached.unpersist()
    vecs.unpersist()
    } // !lifecycleOnly
    spark.stop()
  }
}
