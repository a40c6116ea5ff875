package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CancellationException, ConcurrentLinkedQueue,
  CountDownLatch, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Pins.PinnedDataset

/** Fault injection for the one overlap primitive: every failure path a
  * fork of Spark job chains can take — a failing fork, a failing body,
  * a join past its bound — must stop the siblings, release what the
  * completed ones left behind exactly once, and return with no fork
  * and no scope thread still running.
  */
class OverlapSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("overlap")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private class Boom(msg: String) extends RuntimeException(msg)

  /** A Spark job whose 4 tasks run ~`ms` each unless killed first. */
  private def slowJob(ms: Int): Long = {
    val steps = ms / 20
    spark.sparkContext.parallelize(1 to 4, 4).map { x =>
      val tc = TaskContext.get()
      var i = 0
      while (i < steps && !tc.isInterrupted()) { Thread.sleep(20); i += 1 }
      x
    }.count()
  }

  private def scopeThreadsAlive(tag: String): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(s"$tag-"))
      .map(_.getName)

  private def pinnedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Unpersist bookkeeping is asynchronous: drain briefly. */
  private def leakedPins(keep: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10.seconds.toNanos
    var left = pinnedIds() -- keep
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      left = pinnedIds() -- keep
    }
    left
  }

  test("a failing fork is rethrown only after its siblings finish, with " +
      "the other failures suppressed") {
    val siblingDone = new AtomicBoolean(false)
    var tag = ""
    val e = intercept[Boom] {
      Overlap(spark, 3, "spec-rethrow") { ov =>
        tag = ov.tag
        val a = ov.fork[Unit] { Thread.sleep(50); throw new Boom("a") }
        ov.fork { Thread.sleep(600); siblingDone.set(true) }
        ov.fork[Unit] { Thread.sleep(100); throw new Boom("c") }
        a.join()
      }
    }
    assert(e.getMessage == "a")
    assert(siblingDone.get, "rethrown while a sibling was still running")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("c"))
    assert(scopeThreadsAlive(tag).isEmpty)
  }

  test("a failing fork cancels a sibling's in-flight Spark job through " +
      "the scope tag") {
    val started = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[Boom] {
        Overlap(spark, 2, "spec-cancel") { ov =>
          ov.fork(slowJob(60000))
          ov.fork[Unit] {
            assert(started.await(30, TimeUnit.SECONDS))
            throw new Boom("fail fast")
          }
        }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 30, s"the sibling's job ran on for $secs s")
      assert(e.getSuppressed.exists(_.getMessage.contains("cancel")),
        e.getSuppressed.map(_.toString).mkString("; "))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("release callbacks run exactly once, newest first, and only for " +
      "what completed forks and the body registered") {
    val s = spark
    import s.implicits._
    val keep = pinnedIds()
    val released = new ConcurrentLinkedQueue[String]()
    intercept[Boom] {
      Overlap(spark, 2, "spec-release") { ov =>
        ov.onFailure(released.add("body"))
        val done = ov.fork {
          val p = ov.own((1 to 10).toDF("x").pin())
          ov.onFailure(released.add("done"))
          p
        }
        ov.fork[Unit] {
          done.join()
          throw new Boom("fails before registering anything")
        }
        done.join()
      }
    }
    assert(released.asScala.toSeq == Seq("done", "body"))
    assert(leakedPins(keep).isEmpty, "a completed fork's pin leaked")
    // success hands everything to the caller: no cleanup runs
    val out = Overlap(spark, 1, "spec-release-ok") { ov =>
      val f = ov.fork(ov.own((1 to 10).toDF("x").pin()))
      ov.onFailure(released.add("never"))
      f.join()
    }
    assert(!released.contains("never"))
    assert(out.count() == 10)
    Pins.release(out)
  }

  test("a queued fork never starts after an abort") {
    val started = new AtomicBoolean(false)
    val e = intercept[Boom] {
      Overlap(spark, 1, "spec-queue") { ov =>
        ov.fork[Unit](throw new Boom("first"))
        val queued = ov.fork(started.set(true))
        queued.join()
      }
    }
    assert(e.getMessage == "first")
    assert(!started.get, "a fork queued behind the failure ran")
    assert(e.getSuppressed.exists(_.isInstanceOf[CancellationException]))
  }

  test("forked jobs carry the caller's job group and tags plus the " +
      "scope's own tag") {
    val props = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        props.add(e.properties)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup("spec-group", "overlap spec")
    sc.addJobTag("spec-caller-tag")
    try {
      var tag = ""
      Overlap(spark, 2, "spec-props") { ov =>
        tag = ov.tag
        ov.fork(sc.parallelize(1 to 4, 2).count())
        ov.fork(sc.parallelize(1 to 4, 2).count())
      }
      val deadline = System.nanoTime() + 10.seconds.toNanos
      def mine = props.asScala.toSeq.filter(p =>
        Option(p.getProperty("spark.job.tags")).exists(_.contains(tag)))
      while (mine.size < 2 && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(mine.size == 2, s"forked jobs without the scope tag $tag")
      mine.foreach { p =>
        assert(p.getProperty("spark.jobGroup.id") == "spec-group")
        assert(Set("spec-caller-tag", tag)
          .subsetOf(p.getProperty("spark.job.tags").split(",").toSet))
      }
      assert(!sc.getJobTags().contains(tag),
        "the scope tag leaked onto the caller's thread")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.removeJobTag("spec-caller-tag")
    }
  }

  test("a join past the timeout rethrows TimeoutException, cancels the " +
      "fork and leaks no pins") {
    val s = spark
    import s.implicits._
    val keep = pinnedIds()
    val pinned = new CountDownLatch(1)
    val t0 = System.nanoTime()
    intercept[TimeoutException] {
      Overlap(spark, 1, "spec-timeout", 300.millis) { ov =>
        val f = ov.fork {
          ov.own((1 to 10).toDF("x").pin())
          pinned.countDown()
          slowJob(60000)
        }
        // the bound runs from scope open: past it, join fails at once
        pinned.await()
        f.join()
      }
    }
    assert((System.nanoTime() - t0) / 1e9 < 30)
    assert(leakedPins(keep).isEmpty, "a timed-out scope leaked a pin")
  }

  test("no scope thread outlives the call, on success or failure") {
    var tags = Seq.empty[String]
    Overlap(spark, 3, "spec-threads") { ov =>
      tags :+= ov.tag
      (1 to 5).map(i => ov.fork(i)).map(_.join()).sum
    }
    intercept[Boom] {
      Overlap(spark, 3, "spec-threads") { ov =>
        tags :+= ov.tag
        ov.fork(Thread.sleep(200))
        throw new Boom("body")
      }
    }
    assert(tags.distinct.size == 2, "scope tags must be unique per call")
    tags.foreach(t => assert(scopeThreadsAlive(t).isEmpty, t))
  }

  test("no thread pool is created in src/main outside Overlap and the " +
      "ingester daemon's worker pool") {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), "run from the repo root")
    val allowed = Set("graft/core/Overlap.scala",
      "graft/ingest/IngesterMain.scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed.exists(a => p.endsWith(a)))
      .flatMap { p =>
        new String(Files.readAllBytes(p)).linesIterator.zipWithIndex
          .filter { case (l, _) =>
            l.contains("Executors.new") ||
              l.contains("ExecutionContext.fromExecutor")
          }
          .map { case (_, i) => s"$p:${i + 1}" }
      }.toList
    assert(offenders.isEmpty,
      s"hand-rolled pool outside Overlap: ${offenders.mkString(", ")}")
    val daemon = new String(Files.readAllBytes(
      root.resolve("graft/ingest/IngesterMain.scala")))
    assert(daemon.split("Executors\\.new", -1).length - 1 == 1,
      "IngesterMain may hold only the daemon's one worker pool")
  }
}
