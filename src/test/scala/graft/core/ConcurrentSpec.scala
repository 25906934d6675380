package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.AnalysisException
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.SparkSpec

class ConcurrentSpec extends SparkSpec {

  test("actions overlap and results come back in input order") {
    val n = 4
    // every action waits until all n have started: a serial runner
    // (or a pool smaller than n) would time out here
    val started = new CountDownLatch(n)
    val out = Concurrent.all((0 until n).map { i => () =>
      started.countDown()
      assert(started.await(30, TimeUnit.SECONDS), "actions did not overlap")
      Thread.sleep((n - i) * 20L) // later inputs finish first
      i * 10
    })
    assert(out === (0 until n).map(_ * 10))
    assert(Concurrent.all(Seq.empty[() => Int]).isEmpty)
  }

  test("a failure is rethrown only after every action has finished") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Concurrent.all(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(300); slowDone.set(true) },
        () => throw new UnsupportedOperationException("second")))
    }
    assert(slowDone.get, "failure surfaced while an action was still running")
    assert(e.getMessage === "first", "first failure in input order wins")
    assert(e.getSuppressed.map(_.getClass).toSeq ===
      Seq(classOf[UnsupportedOperationException]))
  }

  test("a Spark failure keeps its original exception type") {
    // validateAll maps a missing table's AnalysisException to None; a
    // wrapped (ExecutionException) failure would escape that handler
    val missing = java.nio.file.Files.createTempDirectory("graft-conc")
      .resolve("no_such_table").toString
    intercept[AnalysisException] {
      Concurrent.all(Seq(() => ParquetTable.read(spark, missing).count(),
        () => spark.range(10).count()))
    }
  }

  test("jobs started in helper threads carry the caller's job group") {
    val sc = spark.sparkContext
    val group = s"concurrent-spec-${System.nanoTime()}"
    sc.setJobGroup(group, "ConcurrentSpec")
    val seen =
      try Concurrent.all((1 to 3).map { i => () =>
        spark.range(i * 100).count()
        sc.getLocalProperty("spark.jobGroup.id")
      })
      finally sc.clearJobGroup()
    assert(seen === Seq(group, group, group))
    // the status store fills from the (asynchronous) listener bus
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(sc.statusTracker.getJobIdsForGroup(group).length >= 3)
    }
  }
}
