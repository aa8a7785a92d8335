package graft

import java.util.concurrent.{ExecutionException, ExecutorService, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Independent Spark writes run at the same time, so that each write's job
  * and commit latency hides behind the others' (the star-table loads of
  * [[graft.warehouse.Warehouse]] and the per-batch writes of
  * [[graft.etl.WarehouseSink]]).
  *
  *  - Each body runs through `SQLExecution.withThreadLocalCaptured`: it sees
  *    the caller's active session and local properties (job group, job
  *    description, streaming batch id), so cancelling the caller's job group
  *    cancels the overlapped jobs too.
  *  - [[all]] returns only after every body has finished, failed or not. A
  *    caller that sees a failure never races a sibling write still running
  *    over the same files. The first failure, in argument order, is rethrown
  *    with the others added as suppressed.
  *  - Bodies must not call [[all]] themselves: the pool is bounded, and a
  *    body waiting on queued work behind it would never wake.
  */
object Overlap {

  /** One thread per star table, the widest fan-out of any caller. Daemon
    * threads: the pool must not keep the JVM alive. */
  private lazy val pool: ExecutorService =
    Executors.newFixedThreadPool(4, new ThreadFactory {
      private val n = new AtomicInteger(0)
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-overlap-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      }
    })

  /** Run `bodies` concurrently and wait for all of them. An interrupt of the
    * caller is remembered, not acted on, until every body is done; it is then
    * rethrown unless a body failed. */
  def all(spark: SparkSession)(bodies: (() => Unit)*): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val running = bodies.map(b => SQLExecution.withThreadLocalCaptured(session, pool)(b()))
    var interrupted = false
    val failures = running.flatMap { f =>
      var outcome: Option[Throwable] = null
      while (outcome == null) {
        try { f.get(); outcome = None }
        catch {
          case _: InterruptedException => interrupted = true
          case e: ExecutionException => outcome = Some(e.getCause)
        }
      }
      outcome
    }
    failures.headOption match {
      case Some(first) =>
        if (interrupted) Thread.currentThread().interrupt()
        failures.tail.foreach(first.addSuppressed)
        throw first
      case None if interrupted => throw new InterruptedException
      case None =>
    }
  }
}
