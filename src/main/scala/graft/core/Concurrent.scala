package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Runs independent driver-side actions — table writes, CSV exports,
  * quality-suite aggregations — at the same time.
  *
  * At lakehouse-stage table sizes each action is a handful of short
  * Spark jobs, and most of its wall time is driver work (planning,
  * codegen, file listing, output commit) during which the executor
  * threads sit idle. Overlapping independent actions lets one action's
  * tasks fill the gaps of another's driver work; the actions still
  * share the one SparkContext and its task slots.
  *
  * Each call gets its own pool with one thread per action. Those
  * threads are created by the calling thread, so they inherit its
  * Spark local properties (job group, description, scheduler pool) and
  * active session: jobs an action starts carry the caller's
  * `spark.jobGroup.id` as if the caller had run them itself.
  *
  * Results come back in input order. A failure is rethrown only after
  * EVERY action has finished, so a caller that retries (a DAG task)
  * never runs its next attempt while a stale write is still going. The
  * rethrown exception is the first failure in input order with its
  * original type (not wrapped in an ExecutionException); later
  * failures ride along as suppressed exceptions.
  */
object Concurrent {

  def all[A](actions: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(math.max(1, actions.size))
    try {
      val futures = actions.map(a => pool.submit(new Callable[A] {
        def call(): A = a()
      }))
      val outcomes = futures.map { f =>
        try Right(f.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Right(a) => a }
      }
    } finally pool.shutdown()
  }
}
