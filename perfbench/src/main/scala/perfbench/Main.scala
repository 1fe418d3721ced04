package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{BenchTables, SparkEntry}
import graft.pipelines.Pipelines
import graft.streaming.Streaming

/** Benchmark process: runs one workload against the engine and writes
  * every raw measurement to `<out>/result.json`; `run.py` turns them into
  * metrics and checks the outputs.
  *
  * Usage: Main --workload <dedup_graph|daily_tick>
  *   --data <parquet dir> --input <generated inputs> --out <dir>
  *   --trace <0|1> --cores <n>
  *
  * A workload is a cold unit followed by exactly one warm unit (a query
  * pass, or a daily tick). Traced, the cold unit and a second warm unit
  * run under the span recorder; the untraced warm units on either side of
  * it price the recorder itself.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    new Run(o("workload"), o("data"), o("input"), o("out"),
      o("trace") == "1", o("cores").toInt).run()
  }

  /** Writes the result records with the JSON library Spark ships;
    * field names become snake_case (`wallS` -> `wall_s`). */
  val json: ObjectMapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
}

final case class OpRec(unit: String, name: String, kind: String,
  wallS: Double, constructS: Double, planS: Double, execS: Double,
  rows: Long, error: String, pinsMbBefore: Double, pinsMb: Double,
  pinRdds: Int)

/** The cold setup, from process start to the first op being ready. */
final case class SetupRec(buildS: Double, firstScanS: Double)

/** What one ETL sink wrote for the run date. */
final case class SinkOut(unit: String, job: String, table: String,
  rows: Long, files: Int, bytes: Long)

final case class PinsEnd(mb: Double, rdds: Int)

final case class Result(workload: String, cores: Int, traced: Boolean,
  setup: SetupRec, units: Seq[String], ops: Seq[OpRec],
  outputs: Seq[SinkOut], pinsEnd: PinsEnd, trace: Spans.TraceOut)

final class Run(workload: String, dataDir: String, inputDir: String,
                outDir: String, trace: Boolean, cores: Int) {
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val units = mutable.ArrayBuffer.empty[String]
  private var setupRec: SetupRec = _
  private val outputs = mutable.ArrayBuffer.empty[SinkOut]
  private var spark: SparkSession = _
  private var spans: Spans = _
  private var traced = false

  private def now() = System.nanoTime()
  private def secs(t0: Long, t1: Long) = (t1 - t0) / 1e9

  def run(): Unit = {
    setup()
    val wl: Workload = workload match {
      case "dedup_graph" => new QueryPasses
      case "daily_tick" => new DailyTick
      case other => sys.error(s"unknown workload $other")
    }
    if (trace) {
      traced = true; wl.unit(0)
      traced = false; detach(); wl.unit(1)
      attach(); traced = true; wl.unit(2)
      traced = false; detach(); wl.unit(3)
    } else {
      wl.unit(0)
      wl.unit(1)
    }
    val (pinMb, pinRdds) = pins()
    wl.finish()
    Files.createDirectories(Paths.get(outDir))
    Main.json.writeValue(new File(s"$outDir/result.json"),
      Result(workload, cores, trace, setupRec, units.toList, ops.toList,
        outputs.toList, PinsEnd(pinMb, pinRdds),
        if (spans != null) spans.dump else null))
    spark.stop()
  }

  // ------------------------------------------------------------- setup

  /** The one cold setup the run pays: from process start, the session
    * build, then the tables registered through the engine's own
    * `SparkEntry.t` and a warm-up scan of `events`. */
  private def setup(): Unit = {
    val w0 = ManagementFactory.getRuntimeMXBean.getStartTime
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.graft.widenReads", "true")
      .config("spark.graft.cacheTables", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$outDir/spark-warehouse")
      .config("spark.local.dir", s"$outDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w1 = System.currentTimeMillis()
    if (trace) {
      spans = new Spans(spark.sparkContext)
      attach()
      spans.record(Spans.SpanRec("setup/build", "setup", "session", w0, w1))
      spans.enter("setup/first_scan", "setup", "session")
    }
    for (t <- Tables) BenchTables.table(spark, dataDir, t)
    BenchTables.table(spark, dataDir, "events").count() // warm-up scan
    val w2 = System.currentTimeMillis()
    setupRec = SetupRec((w1 - w0) / 1e3, (w2 - w1) / 1e3)
    if (trace) {
      spans.exit("setup/first_scan", null)
      spans.record(Spans.SpanRec("setup", "run", "setup", w0, w2))
    }
  }

  /** The sf0.01 tables the dedup_graph ops read. */
  private val Tables = Seq("events", "documents")

  private def attach(): Unit = {
    spark.sparkContext.addSparkListener(spans)
    spark.streams.addListener(spans.streaming)
  }

  private def detach(): Unit = {
    spans.drain("detach")
    spark.sparkContext.removeSparkListener(spans)
    spark.streams.removeListener(spans.streaming)
  }

  // -------------------------------------------------------- op timing

  private def enter(id: String, parent: String, kind: String): Unit =
    if (traced) spans.enter(id, parent, kind)
  private def exit(id: String, resume: String): Unit =
    if (traced) spans.exit(id, resume)

  /** MB and RDD count held in Spark storage right now. */
  private def pins(): (Double, Int) = {
    val cached = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (cached.map(r => r.memSize + r.diskSize).sum / 1e6, cached.length)
  }

  /** One op in phases; each phase is `name -> body`, timed back to back. */
  private def op(unit: String, name: String, kind: String,
                 phases: Seq[(String, () => Long)]): Unit = {
    val id = s"$unit/$name"
    val (mb0, _) = pins()
    enter(id, unit, kind)
    val times = mutable.ArrayBuffer.empty[Double]
    var rows = -1L
    var err: String = null
    val t0 = now()
    var tp = t0
    val it = phases.iterator
    while (err == null && it.hasNext) {
      val (ph, body) = it.next()
      // a single-phase op's phase is its layer (etl, stream, maint)
      enter(s"$id/$ph", id, if (phases.size == 1) kind else ph)
      try rows = body()
      catch { case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      }
      val t = now()
      times += secs(tp, t); tp = t
      exit(s"$id/$ph", id)
    }
    val wall = secs(t0, tp)
    exit(id, unit)
    val (mb, n) = pins()
    val Seq(c, p, e) =
      if (phases.size == 3) times.toSeq.padTo(3, 0.0) else Seq(0.0, 0.0, wall)
    ops += OpRec(unit, name, kind, wall, c, p, e, rows, err, mb0, mb, n)
    if (err != null) System.err.println(s"[perfbench] $id failed: $err")
  }

  private def unitSpan[T](unit: String, kind: String)(body: => T): T = {
    units += unit
    enter(unit, "run", kind)
    try body finally exit(unit, null)
  }

  trait Workload {
    def unit(i: Int): Unit
    def finish(): Unit
  }

  // -------------------------------------------------------- dedup_graph

  /** Unit 0 is the cold pass: every cached relation dropped before each
    * query, queries in name order as `graft.Bench` runs them. The order is
    * fixed because the process's JIT warm-up lands on the first queries,
    * and the pass total moved by 25% with the order. Unit 1 is the warm
    * pass, in the seed's order (traced runs add units 2 and 3). A warm
    * pass starts with the cached relations dropped too, so what it finds
    * pinned never depends on which query ran last before it; within the
    * pass, queries ride each other's pins. */
  final class QueryPasses extends Workload {
    private val order = readLines(s"$inputDir/order.txt")
    private val registry = SparkEntry.queries
    /** The last pass's DataFrames, whose answers `finish` dumps. */
    private val last = mutable.LinkedHashMap.empty[String, DataFrame]

    def unit(i: Int): Unit = {
      val name = if (i == 0) "cold" else s"warm$i"
      unitSpan(name, "pass") {
        if (i > 0) spark.catalog.clearCache()
        for (q <- if (i == 0) order.sorted else order) {
          if (i == 0) spark.catalog.clearCache()
          val fn = registry(q)
          var df: DataFrame = null
          op(name, q, "query", Seq(
            "construct" -> (() => { df = fn(spark, dataDir); last(q) = df; -1L }),
            "plan" -> (() => { df.queryExecution.executedPlan; -1L }),
            "exec" -> (() => df.queryExecution.toRdd.count())))
        }
      }
    }

    /** Every run dumps each answer of the last pass, after all timing,
      * for the full-content oracle check. */
    def finish(): Unit = for ((q, df) <- last) {
      val dir = s"$outDir/answers/$q"
      try df.coalesce(1).write.mode("overwrite").parquet(dir)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] answer dump $q failed: ${e.getMessage}")
      }
    }
  }

  // -------------------------------------------------------- daily_tick

  /** Unit i is day i+1: the eight ETL jobs over that day's CSVs, the
    * day's documents through the curation ingest sink in micro-batches,
    * then snapshot, compaction, fsck and a corpus read-back. */
  final class DailyTick extends Workload {
    private val days = readLines(s"$inputDir/days.txt").map { l =>
      val Array(d, date, nb) = l.split("\t"); (d.toInt, (date, nb.toInt))
    }.toMap
    private val wh = s"$outDir/warehouse"
    private val store = s"$outDir/store"
    private var mem: MemoryStream[(Long, String)] = _
    private var query: StreamingQuery = _

    private def in(day: Int, f: String) = s"$inputDir/day$day/$f"

    /** Row/file/byte count of what a sink wrote for `runDate`, from the
      * parquet footers (no Spark job runs between measured ops). */
    private def sinkOut(unit: String, job: String, table: String,
                        runDate: String, append: Boolean): Unit = {
      val path = s"$wh/$table"
      val dir = new File(if (append) s"$path/crawl_date=$runDate" else path)
      val files = Option(dir.listFiles).toSeq.flatten
        .filter(f => f.getName.startsWith("part-"))
      val conf = spark.sparkContext.hadoopConfiguration
      val rows = files.map { f =>
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new HPath(f.getPath), conf))
        try r.getRecordCount finally r.close()
      }.sum
      outputs += SinkOut(unit, job, table, rows, files.size, files.map(_.length).sum)
    }

    private def etl(unit: String, job: String)(body: => Unit)
                   (sinks: (String, Boolean)*): Unit = {
      op(unit, s"etl.$job", "etl", Seq("run" -> (() => { body; -1L })))
      val runDate = days(unit.stripPrefix("day").toInt)._1
      for ((t, append) <- sinks) sinkOut(unit, s"etl.$job", t, runDate, append)
    }

    def unit(i: Int): Unit = {
      val day = i + 1
      val name = s"day$day"
      val (runDate, nBatches) = days(day)
      unitSpan(name, "day") {
        runEtl(name, day, runDate)
        ingest(name, day, nBatches)
        maintain(name, day)
      }
    }

    private def runEtl(u: String, day: Int, runDate: String): Unit = {
      val P = Pipelines
      etl(u, "audisto") {
        val crawl = P.selectCrawl(P.readCrawlList(spark,
          in(day, "audisto_crawls_list.json")), runDate)
        require(crawl.isDefined, s"no crawl started on $runDate")
        P.appendDaily(P.audisto(spark.read.option("header", true).csv(
          in(day, "audisto_pages_chunk_0.csv"),
          in(day, "audisto_pages_chunk_1.csv")), runDate), s"$wh/audisto_pages")
      }("audisto_pages" -> true)
      etl(u, "sf_html") {
        val (slim, content) = P.sfHtml(P.readCsv(spark, in(day, "internal_html.csv")),
          runDate)
        content.persist()
        try {
          P.appendDaily(slim, s"$wh/html_slim")
          P.appendDaily(content, s"$wh/content_history")
          P.replaceTable(content, s"$wh/content_current")
        } finally content.unpersist()
      }("html_slim" -> true, "content_history" -> true, "content_current" -> false)
      etl(u, "midoco") {
        P.appendDaily(P.midoco(P.readCsvLatin1(spark, in(day, "midoco_report.csv")),
          runDate), s"$wh/bookings")
      }("bookings" -> true)
      etl(u, "inlinks") {
        P.replaceTable(P.inlinks(P.readCsv(spark, in(day, "all_inlinks.csv")),
          runDate), s"$wh/inlinks")
      }("inlinks" -> false)
      etl(u, "orphans") {
        P.appendDaily(P.orphans(
          P.readCsv(spark, in(day, "search_console_orphan_urls.csv")),
          P.readCsv(spark, in(day, "sitemaps_orphan_urls.csv")), runDate),
          s"$wh/orphans")
      }("orphans" -> true)
      etl(u, "backlinks") {
        P.appendDaily(P.backlinks(P.readCsv(spark, in(day, "link_metrics_all.csv")),
          runDate), s"$wh/backlinks")
      }("backlinks" -> true)
      etl(u, "images") {
        val pictures = P.readCsv(spark, in(day, "internal_html.csv"))
          .filter(graft.ops.Urls.doctype(col("Address"),
            P.SiteConfig().pictureExts) === "Picture")
          .select("Address", "Status Code", "Size (bytes)")
        P.appendDaily(P.images(P.readCsv(spark, in(day, "internal_images.csv")),
          pictures, runDate), s"$wh/images")
      }("images" -> true)
      etl(u, "hreflang") {
        P.replaceTable(P.hreflang(P.readCsv(spark,
          in(day, "hreflang_missing_return_links.csv")), runDate),
          s"$wh/hreflang_missing")
        P.replaceTable(P.hreflang(P.readCsv(spark,
          in(day, "hreflang_non200_hreflang_urls.csv")), runDate),
          s"$wh/hreflang_non200")
      }("hreflang_missing" -> false, "hreflang_non200" -> false)
    }

    /** One standing stream for the whole run, as a production ingest
      * keeps its checkpoint: each day's batches continue its batch ids. */
    private def ingest(u: String, day: Int, nBatches: Int): Unit = {
      if (query == null)
        op(u, "ingest.open", "stream", Seq("run" -> (() => {
          val ss = spark
          import ss.implicits._
          mem = MemoryStream[(Long, String)](ss)
          query = Streaming.curationIngestSink(mem.toDF().toDF("doc_id", "text"),
            "text", "doc_id", store, s"$outDir/ingest_ckpt",
            minQuality = MinQuality).start()
          -1L
        })))
      for (b <- 1 to nBatches) {
        val rows = readLines(in(day, s"batch$b.tsv")).map { l =>
          val Array(id, _, text) = l.split("\t", 3); (id.toLong, text)
        }
        op(u, s"ingest.batch$b", "stream", Seq("run" -> (() => {
          mem.addData(rows)
          query.processAllAvailable()
          rows.size.toLong
        })))
      }
    }

    private def maintain(u: String, day: Int): Unit = {
      op(u, "maint.snapshot", "maint", Seq("run" -> (() => {
        Streaming.snapshotCorpus(spark, store, s"day$day"); -1L })))
      op(u, "maint.compact", "maint", Seq("run" -> (() => {
        Streaming.compactCurationCorpus(spark, store); -1L })))
      var findings: Array[String] = Array.empty
      op(u, "maint.fsck", "maint", Seq("run" -> (() => {
        findings = Streaming.fsckCurationStore(spark, store).collect()
          .map(_.toSeq.mkString(" | "))
        findings.length.toLong })))
      var corpus: Array[(Long, String)] = Array.empty
      op(u, "maint.readback", "maint", Seq("run" -> (() => {
        corpus = Streaming.readCurationCorpus(spark, store)
          .select("doc_id", "text").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        corpus.length.toLong })))
      write(s"$outDir/fsck_day$day.txt", findings.mkString("\n"))
      write(s"$outDir/corpus_day$day.tsv",
        corpus.map { case (i, t) => s"$i\t$t" }.mkString("\n"))
    }

    def finish(): Unit = if (query != null) query.stop()
  }

  /** Quality floor of the ingest gate: prose scores ~0.8, symbol junk ~0.4. */
  private val MinQuality = 0.6

  // ------------------------------------------------------------ output

  private def readLines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p), UTF_8).asScala.toSeq.filter(_.nonEmpty)

  private def write(p: String, s: String): Unit = {
    Files.createDirectories(Paths.get(p).getParent)
    Files.writeString(Paths.get(p), s, UTF_8)
  }
}

/** Prints the DuckDB oracle SQL of the named queries as one JSON object
  * (used once, by make_oracle.py, to compute the stored oracle answers). */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val all = SparkEntry.oracleSql
    println(Main.json.writeValueAsString(args.map(n => n -> all(n)).toMap))
  }
}
