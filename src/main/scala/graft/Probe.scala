package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev probe for registered queries (not part of the Bench/Verify contract).
  * Each round runs every named query once, in the given order, so two
  * names are an interleaved A/B and one name is a repeat timing. Every
  * run rebuilds the DataFrame through [[SparkEntry.queries]] (like
  * Bench: a reused frame would skip stages via shuffle reuse) and books
  * construct seconds, execute seconds (`queryExecution.toRdd.count()`)
  * and the Spark jobs each phase launched; the probe ends with each
  * name's minimum. With `planDir`, round 1 also writes
  * `<planDir>/<name>.txt`, the formatted physical plan after execution.
  * Usage: runMain graft.Probe <q1,q2,...> [rounds] [sfDir] [planDir]
  */
object Probe {
  final case class Run(round: Int, name: String,
                       constructS: Double, constructJobs: Int,
                       executeS: Double, executeJobs: Int)

  private val PhaseKey = "graft.probe.phase"
  private val Drain = "drain"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: runMain graft.Probe <q1,q2,...> [rounds] [sfDir] [planDir]")
    val rounds = if (args.length > 1) args(1).toInt else 2
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    try run(spark, args(0).split(",").toSeq, rounds, sfDir, args.lift(3))
    finally spark.stop()
  }

  def run(spark: SparkSession, names: Seq[String], rounds: Int,
          sfDir: String, planDir: Option[String]): Seq[Run] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val sc = spark.sparkContext
    // jobs are attributed by the phase local property they were
    // submitted under, so late listener delivery cannot misattribute
    // them; a marker job's start trails every earlier start on the
    // listener queue, so seeing it means the tallies are complete
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val drained = new Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
          .foreach { k =>
            if (k == Drain) drained.release()
            else jobs.computeIfAbsent(k, _ => new AtomicInteger).incrementAndGet()
          }
    }
    def phase[A](key: String)(f: => A): (A, Double) = {
      sc.setLocalProperty(PhaseKey, key)
      val t0 = System.nanoTime()
      try (f, (System.nanoTime() - t0) / 1e9)
      finally sc.setLocalProperty(PhaseKey, null)
    }
    def jobsOf(key: String): Int = Option(jobs.get(key)).fold(0)(_.get)
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    sc.addSparkListener(listener)
    val runs = try {
      for (round <- 1 to rounds; name <- names) yield {
        val tag = s"$round/$name"
        val (df, constructS) =
          phase(s"$tag/construct")(SparkEntry.queries(name)(spark, sfDir))
        val (_, executeS) = phase(s"$tag/execute")(df.queryExecution.toRdd.count())
        phase(Drain)(sc.parallelize(Seq(1), 1).count())
        require(drained.tryAcquire(30, TimeUnit.SECONDS),
          "listener did not deliver the drain marker job")
        if (round == 1) planDir.foreach { d =>
          Files.writeString(Paths.get(d, s"$name.txt"),
            df.queryExecution.explainString(FormattedMode))
        }
        val r = Run(round, name, constructS, jobsOf(s"$tag/construct"),
          executeS, jobsOf(s"$tag/execute"))
        println(f"[probe] round $round $name%-28s construct $constructS%7.3f s " +
          f"(${r.constructJobs}%3d jobs) execute $executeS%7.3f s " +
          f"(${r.executeJobs}%3d jobs)")
        r
      }
    } finally sc.removeSparkListener(listener)
    names.distinct.foreach { name =>
      val rs = runs.filter(_.name == name)
      println(f"[probe] min $name%-28s construct " +
        f"${rs.map(_.constructS).min}%7.3f s execute " +
        f"${rs.map(_.executeS).min}%7.3f s total " +
        f"${rs.map(r => r.constructS + r.executeS).min}%7.3f s")
    }
    runs
  }
}
