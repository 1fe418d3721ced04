package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Suite-wide physical-plan guards: every registered query is planned
  * (not executed) against the smallest fixture and checked for
  * plan-shape regressions that correctness tests cannot catch.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("no registered query plans a non-broadcast cartesian product") {
    // events.parquet is TIMESTAMP(NANOS): the shared test session must
    // opt into the long-read path SparkEntry.t normalizes
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        // BroadcastNestedLoopJoin (band/fuzzy joins, 1-row totals) is a
        // deliberate bounded pattern; CartesianProduct means both sides
        // were too big to broadcast — a shuffle-explosion at scale
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"queries planning a cartesian product: ${offenders.mkString(", ")}")
  }

  test("no registered query plans a partition-less window over unbounded input") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // A Window with an empty partition spec funnels its ENTIRE input
    // through one task — the anti-pattern class residualAdcTopK and
    // marginMining were individually fixed for. Sweep every registered
    // query's optimized logical plan (stable node shape; the physical
    // WindowExec prints ambiguously). Allowlist: windows whose input is
    // provably bounded by construction.
    val allowlisted = Set(
      // q124 zipf needs no entry: its rank window sits on a unary
      // chain over limit(100), which limitBounded proves directly
      "q201_ks_drift",          // CDF window over the nBuckets-grain (10-row) histogram
      "q205_token_budget",      // water-filling windows run at SOURCE cardinality (~20 rows)
      "q207_budgeted_sample"    // same allocation substrate as q205
    )
    // A window whose unary input chain bottoms out in a Limit is
    // bounded by construction (rank-over-top-k after orderBy+limit) —
    // structurally provable, no allowlist entry needed
    import org.apache.spark.sql.catalyst.plans.logical.{
      GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow}
    def limitBounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => true
      case u if u.children.size == 1 => limitBounded(u.children.head)
      case _ => false
    }
    val hasGlobal = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val globals = fn(spark, sfDir).queryExecution.optimizedPlan.collect {
          case w: LWindow
              if w.partitionSpec.isEmpty && !limitBounded(w.child) => w
        }
        name -> globals.nonEmpty
    }.toMap
    val offenders = hasGlobal.collect {
      case (name, true) if !allowlisted(name) => name
    }.toSeq.sorted
    assert(offenders.isEmpty,
      s"queries planning a global window: ${offenders.mkString(", ")}")
    // the allowlist is TWO-sided: an entry whose query no longer plans
    // a partition-less window is a pre-excused hole — prune it
    val stale = allowlisted.filterNot(q => hasGlobal.getOrElse(q, false))
      .toSeq.sorted
    assert(stale.isEmpty,
      "stale allowlist entries (query no longer plans a global " +
        s"window — remove them): ${stale.mkString(", ")}")
  }

  test("no file under src/main/scala but GraftSession builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val files = Files.walk(root)
    val builders = try files.iterator().asScala.filter { p =>
      p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftSession.scala" &&
        Files.readString(p).contains("SparkSession.builder")
    }.map(root.relativize(_).toString).toList.sorted
    finally files.close()
    assert(builders.isEmpty, "build the session with GraftSession.local(): " +
      builders.mkString(", "))
  }

  /** `file: count` of thread/future constructs under a source root
    * beyond what each file is allowed: the fork-join helper owns all
    * threads that run Spark work; the lease heartbeat and Bench's CPU
    * sampler are the two threads that run none. Comment lines are
    * skipped. */
  private def concurrencyOffenders(root: java.nio.file.Path): List[String] = {
    val construct = (raw"\bFuture\b|\bExecutionContext\b|new Thread\b|" +
      raw"\bExecutors\.|ForkJoinPool").r
    val allowed = Map("streaming/Streaming.scala" -> 1, "Bench.scala" -> 1)
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> p)
      .filter(_._1 != "graft/streaming/ForkJoin.scala")
      .flatMap { case (rel, p) =>
        val n = Files.readAllLines(p).asScala.count { l =>
          val t = l.trim
          !t.startsWith("//") && !t.startsWith("*") && !t.startsWith("/*") &&
            construct.findFirstIn(l).nonEmpty
        }
        val ok = allowed.collectFirst {
          case (suffix, k) if rel.endsWith(suffix) => k }.getOrElse(0)
        if (n > ok) Some(s"$rel: $n") else None
      }.toList.sorted
    finally files.close()
  }

  test("no Future, ExecutionContext or raw Thread runs Spark work outside " +
      "the one fork-join helper") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val offenders = concurrencyOffenders(root)
    assert(offenders.isEmpty, "fork Spark work through " +
      s"graft.streaming.ForkJoin: ${offenders.mkString(", ")}")
    // the lint bites: a copy of the tree with one Future added fails it
    val mutant = Files.createTempDirectory("graft-lint")
    val src = Files.walk(root)
    try src.iterator().asScala.foreach { p =>
      val to = mutant.resolve(root.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally src.close()
    val target = mutant.resolve("graft/streaming/Streaming.scala")
    Files.writeString(target, Files.readString(target) +
      "\nobject Mutant { val f = scala.concurrent.Future.unit }\n")
    assert(concurrencyOffenders(mutant) === List(
      "graft/streaming/Streaming.scala: 2"))
  }

  test("filters and projections reach the parquet scan") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // q01: the shipdate predicate must appear in PushedFilters, not just
    // in a post-scan Filter
    val q01 = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(q01.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"q01 shipdate filter not pushed:\n$q01")
    // q02 projects 3 of 9 orders columns: the scan schema must be pruned
    val q02 = SparkEntry.queries("q02_topk_orders")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val readSchema = q02.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_totalprice")
      && !readSchema.contains("o_comment") && !readSchema.contains("o_orderdate"),
      s"q02 scan not column-pruned: $readSchema")
  }

  test("z-order value computation is row-local (no hash exchange)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val plan = SparkEntry.queries("q177_zorder")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // buckets + interleave must fuse into the scan stage; the only
    // exchange is the final sort's range partitioning
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q177 shuffled a row-local computation:\n$plan")
  }

  test("residual ADC serving rank is a distributed top-k, not a global window") {
    import spark.implicits._
    // the billion-vector serving path: the final rank must plan as
    // TakeOrderedAndProject (per-task k-row heaps, driver merges heaps)
    // — a partition-less row_number window would funnel EVERY probed
    // candidate through one ranking task
    val codes = Seq((1L, 0L, Seq(0, 1)), (2L, 1L, Seq(1, 0)))
      .toDF("id", "cluster", "codes")
    val qres = Seq((0L, Seq(0.1, 0.2, 0.3, 0.4)),
      (1L, Seq(0.0, 0.1, 0.2, 0.3))).toDF("cluster", "qv")
    val codebook = Seq((0, 0, Seq(0.0, 0.0)), (0, 1, Seq(1.0, 1.0)),
      (1, 0, Seq(0.0, 0.0)), (1, 1, Seq(1.0, 1.0)))
      .toDF("subspace", "code", "cvec")
    val plan = graft.ops.Quantize.residualAdcTopK(codes, qres, codebook,
        "qv", "id", m = 2, dim = 4, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    assert(!plan.contains("Window"),
      s"residual rank fell back to a window:\n$plan")
  }

  test("margin-mining top-pairs is a distributed top-k, not a global window") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val plan = SparkEntry.queries("q178_margin_pairs")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-pairs did not plan as TakeOrderedAndProject:\n$plan")
  }

  test("priority sampling plans as a distributed top-k") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val plan = SparkEntry.queries("q198_priority_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"A-Res top-n did not plan as TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"A-Res top-n fell back to a global sort:\n$plan")
  }

  test("hard-negative mining: per-query rank runs as WindowGroupLimit, " +
      "queries broadcast") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val plan = SparkEntry.queries("q190_hard_negatives")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // partial per-partition top-k BEFORE the exchange: the corpus x
    // queries cross product never shuffles beyond k rows per partition
    assert(plan.contains("WindowGroupLimit"),
      s"rank <= k did not compile to WindowGroupLimit:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"query side not broadcast:\n$plan")
  }

  test("exact-Jaccard admission probes the standing prefix table via a " +
      "broadcast semi-join and ranks nothing through a global window") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val plan = SparkEntry.queries("q204_jaccard_admission")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the batch's prefix digests are the provably-small side: at 100 TB
    // the corpus-scale prefix table must be SCANNED against a broadcast
    // of the batch digests, never shuffled on the digest key
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"),
      s"prefix probe is not a broadcast semi-join:\n$plan")
    // candidate ranking/dedup is groupBy + anti-join — any partition-
    // less Window here would funnel all candidates through one task
    assert(!plan.contains("Window"),
      s"admission plan grew a window:\n$plan")
  }

  test("budgeted sampling broadcasts the source-grain rate table; " +
      "the corpus side rides the scan") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val plan = SparkEntry.queries("q207_budgeted_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the allocation/take_rate table is source-cardinality: the doc
    // join must be a broadcast hash join keyed on the renamed rate
    // column, with the row-local md5 coin fused into its condition —
    // the corpus never sort-merge-joins to meet the rate table (its
    // only exchanges are the audit aggregation's own source-grain
    // partials)
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("__bs_src"),
      s"rate table not broadcast-joined:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus sort-merge-joined the rate table:\n$plan")
  }

  test("grid range join is an equi-shuffle join, not a nested loop") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val plan = SparkEntry.queries("q193_range_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"grid blocking degenerated to a nested loop:\n$plan")
    // the cell-keyed equi-join is a hash/sort-merge join
    assert(plan.contains("Join") && plan.contains("__cell"),
      s"no cell-keyed equi-join found:\n$plan")
  }

  test("row-local text queries add no exchange beyond their aggregation") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // q19/q20/q25 are scan -> row-local expressions (+ optional final
    // sort); they must not hash-shuffle the corpus
    Seq("q19_quality_score", "q20_lang_id", "q25_simhash",
        "q117_gopher_quality", "q118_line_dedup", "q119_script_profile",
        "q120_quantize_int8").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val hashExchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).length
      assert(hashExchanges <= 1, // q20 aggregates; the rest sort only
        s"$q: expected at most one hash exchange, plan:\n$plan")
    }
  }
}
