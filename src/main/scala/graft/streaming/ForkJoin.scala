package graft.streaming

/** The one place the engine runs Spark work on threads of its own:
  * a store write's independent effects (a micro-batch's index write,
  * payload write and stats parts) forked and joined inside the held
  * lease.
  *
  * Each effect runs on a fresh thread, never a pool, so it inherits
  * the caller's Spark local properties at creation: the streaming
  * batch id and the query's job group ride along, every job an effect
  * launches is attributed to its batch, and `query.stop()` cancels it
  * like any job of the stream thread. [[all]] returns only after every
  * effect has finished, so no effect outlives the lease its caller
  * holds, and a failure is rethrown only once its siblings have
  * joined: the store is never released with a write still in flight.
  */
private[graft] object ForkJoin {

  /** Name prefix of every effect thread (specs look them up by it). */
  private[graft] val ThreadPrefix = "graft-effect-"

  /** Run `effects` concurrently and wait for all of them. The first
    * failure in argument order is rethrown, the others attached to it
    * as suppressed. An interrupt of the caller is passed on to the
    * effects and restored on the caller once they have joined. */
  def all(effects: (() => Unit)*): Unit =
    if (effects.size == 1) effects.head()
    else if (effects.nonEmpty) {
      val failures = new Array[Throwable](effects.size)
      val threads = effects.zipWithIndex.map { case (effect, i) =>
        val t = new Thread(() =>
          try effect() catch { case e: Throwable => failures(i) = e },
          s"$ThreadPrefix$i")
        t.setDaemon(true)
        t.start()
        t
      }
      var interrupted = false
      threads.foreach { t =>
        while (t.isAlive)
          try t.join()
          catch { case _: InterruptedException =>
            if (!interrupted) threads.foreach(_.interrupt())
            interrupted = true
          }
      }
      if (interrupted) Thread.currentThread().interrupt()
      // join() orders every effect's write of `failures` before this read
      failures.filter(_ != null) match {
        case Array() => ()
        case errs =>
          errs.tail.foreach(errs.head.addSuppressed)
          throw errs.head
      }
    }
}
