package graft.core

import java.util.concurrent.{CancellationException, CountDownLatch,
  Executors, ThreadFactory, ThreadPoolExecutor, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Dataset, SparkSession}

/** The one primitive for overlapping independent Spark job chains.
  *
  * Spark schedules jobs submitted from several driver threads
  * concurrently, so two chains that read only pinned, read-only inputs
  * can pay their per-job launch latency side by side instead of one
  * after the other. `Overlap(spark, width, label) { ov => ... }` runs
  * `body` on the calling thread; `ov.fork { ... }` starts a chain on one
  * of `width` scope-private threads and `join()` waits for its value.
  *
  * The scope owns the whole lifecycle, so no call site repeats it:
  *
  *  - Pool threads are created from the calling thread before `body`
  *    runs: Spark's inheritable local properties (the caller's job
  *    group, tags and description — its cancellation handle) reach every
  *    forked job. Each fork adds one tag unique to this call
  *    (`graft-<label>-<n>`, process-wide counter); tags are additive, so
  *    the caller's own tags stay.
  *  - On the first failure — a fork throwing, `body` throwing, or a
  *    `join` running past `timeout` — forks that have not started yet
  *    never run, in-flight forks' jobs are cancelled through the tag,
  *    and the scope waits for every fork, with no timeout.
  *  - Then every cleanup registered with [[Scope.onFailure]] (or pin
  *    handed to [[Scope.own]]) runs exactly once, newest first, and the
  *    first failure is rethrown with the others attached as suppressed. A fork registers a cleanup for
  *    each pin it creates, so a failed parallel step leaves no blocks
  *    behind whichever fork or caller stage failed.
  *  - The call never returns while a fork is running, and no scope
  *    thread outlives it. On success no cleanup runs: what the forks
  *    produced belongs to the caller.
  *
  * `timeout` bounds every `join` from the moment the scope opens
  * (default unbounded); it does not bound the wait for stopped forks.
  */
object Overlap {
  private val seq = new AtomicLong

  def apply[A](spark: SparkSession, width: Int, label: String,
      timeout: Duration = Duration.Inf)(body: Scope => A): A = {
    val scope = new Scope(spark,
      s"graft-$label-${seq.incrementAndGet()}", width, timeout)
    scope.run(body)
  }

  /** A forked chain's eventual value. */
  final class Fork[T] private[Overlap] (scope: Scope) {
    private[Overlap] val done = new CountDownLatch(1)
    @volatile private[Overlap] var result: Either[Throwable, T] = _

    /** The fork's value, or its failure rethrown; a
      * `TimeoutException` once the scope's timeout has passed. */
    def join(): T = {
      if (!scope.awaitBounded(done))
        throw new TimeoutException(
          s"${scope.tag}: fork not done within ${scope.timeout}")
      result.fold(e => throw e, identity)
    }
  }

  final class Scope private[Overlap] (spark: SparkSession,
      val tag: String, width: Int, private[Overlap] val timeout: Duration) {
    private val deadline =
      if (timeout.isFinite) System.nanoTime() + timeout.toNanos
      else Long.MaxValue
    private val aborted = new AtomicBoolean(false)
    private val failures = ArrayBuffer.empty[Throwable]
    private val cleanups = ArrayBuffer.empty[() => Unit]
    private val threads = ArrayBuffer.empty[Thread]
    private val pool = Executors.newFixedThreadPool(width,
      new ThreadFactory {
        def newThread(r: Runnable): Thread = threads.synchronized {
          val t = new Thread(r, s"$tag-${threads.size}")
          t.setDaemon(true)
          threads += t
          t
        }
      }).asInstanceOf[ThreadPoolExecutor]
    pool.prestartAllCoreThreads()

    /** Start `run` on a scope thread. */
    def fork[T](run: => T): Fork[T] = {
      val f = new Fork[T](this)
      pool.execute { () =>
        f.result =
          if (aborted.get) Left(new CancellationException(
            s"$tag: aborted before this fork started"))
          else try {
            spark.sparkContext.addJobTag(tag)
            Right(run)
          } catch { case e: Throwable => fail(e); Left(e) }
        f.done.countDown()
      }
      f
    }

    /** Run `cleanup` iff the scope fails, after every fork has stopped.
      * Callable from `body` and from forks. */
    def onFailure(cleanup: => Unit): Unit =
      cleanups.synchronized(cleanups += (() => cleanup))

    /** `ds`, with its pin released iff the scope fails. */
    def own[T](ds: Dataset[T]): Dataset[T] = {
      onFailure(Pins.release(ds))
      ds
    }

    private def fail(e: Throwable): Unit = {
      failures.synchronized {
        if (!failures.exists(_ eq e)) failures += e
      }
      if (aborted.compareAndSet(false, true))
        try spark.sparkContext.cancelJobsWithTag(tag)
        catch { case c: Throwable => failures.synchronized(failures += c) }
    }

    private[Overlap] def awaitBounded(l: CountDownLatch): Boolean =
      if (deadline == Long.MaxValue) { l.await(); true }
      else l.await(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)

    private def awaitQuietly(await: () => Unit): Unit = {
      var interrupted = false
      var waiting = true
      while (waiting)
        try { await(); waiting = false }
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
    }

    private[Overlap] def run[A](body: Scope => A): A = {
      val out = try Some(body(this))
        catch { case e: Throwable => fail(e); None }
      // queued forks still run (as cancelled, once aborted), so a
      // terminated pool means every fork has finished
      pool.shutdown()
      awaitQuietly(() =>
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS))
      threads.synchronized(threads.toList).foreach(t =>
        awaitQuietly(() => t.join()))
      if (failures.isEmpty) out.get
      else {
        val first = failures.head
        cleanups.reverseIterator.foreach { c =>
          try c() catch { case e: Throwable => failures += e }
        }
        failures.iterator.drop(1).filterNot(_ eq first)
          .foreach(first.addSuppressed)
        throw first
      }
    }
  }
}
