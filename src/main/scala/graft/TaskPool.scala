package graft

import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, ExecutionException, ExecutorService,
  LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Runs the independent steps of one call at once on its Spark session.
  *
  *  - The pool is [[GraftSession.cpus]] daemon threads owned by the call:
  *    [[TaskPool.apply]] builds it, and when `body` returns or throws it
  *    shuts the pool down and joins every thread it started. Daemon
  *    threads, so a pool can never keep the JVM alive.
  *  - A task runs under the Spark thread state of the thread that forked
  *    it: the SparkContext local properties (job group, job description,
  *    scheduler pool) and the active session, as Spark's own
  *    [[SQLExecution.withThreadLocalCaptured]] carries them. A job a task
  *    submits is attributed as if the forking thread had submitted it. A
  *    shared pool such as `ExecutionContext.global` would run it under
  *    whatever state its threads inherited from their creator.
  *  - [[Task.get]] rethrows a task's failure as the task threw it, not
  *    wrapped. When `body` throws, the tasks not yet started are dropped
  *    and the running ones finish; none is interrupted, since a thread
  *    interrupted inside a Spark call can leave it half done (a broadcast
  *    half stored).
  *
  * The pool starts tasks in the order they are forked, so a task may
  * wait for a task forked before it, never for one forked after it.
  */
object TaskPool {

  /** Thread-name prefix of every pool thread. */
  val ThreadPrefix = "graft-pool-"

  private val threadIds = new AtomicInteger()

  /** A forked task. */
  final class Task[T] private[TaskPool] (future: CompletableFuture[T]) {
    /** Waits for the task; its failure is rethrown as thrown. */
    def get: T = try future.get() catch { case e: ExecutionException => throw e.getCause }
  }

  /** Forks tasks onto the call's pool. */
  final class Scope private[TaskPool] (spark: classic.SparkSession, exec: ExecutorService) {
    def fork[T](body: => T): Task[T] =
      new Task(SQLExecution.withThreadLocalCaptured(spark, exec)(body))
  }

  def apply[T](spark: SparkSession)(body: Scope => T): T = {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val queue = new LinkedBlockingQueue[Runnable]()
    val exec = new ThreadPoolExecutor(GraftSession.cpus, GraftSession.cpus, 0L, TimeUnit.MILLISECONDS, queue,
      (r: Runnable) => {
        val t = new Thread(r, s"$ThreadPrefix${threadIds.incrementAndGet()}")
        t.setDaemon(true)
        threads.add(t)
        t
      })
    var done = false
    try {
      val result = body(new Scope(spark.asInstanceOf[classic.SparkSession], exec))
      done = true
      result
    } finally {
      exec.shutdown()
      // a running task waits only for tasks forked before it, which have
      // all started: dropping the rest strands no running task
      if (!done) queue.clear()
      exec.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      threads.forEach(_.join())
    }
  }
}
