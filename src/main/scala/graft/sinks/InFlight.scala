package graft.sinks

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors, Future}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.TaskContext

/** The one bounded, order-preserving call loop of the remote legs:
  * embedding calls, sink upserts, and the chat and chunk-validation
  * calls. Calls run on one pool of daemon threads named
  * `<name>-<partition>-<n>`; at most `limit` are pending (submitted and
  * not yet settled), and they settle in submission order, a failed call
  * rethrowing its own cause.
  *
  * Close policy: `close` drops the unsettled results but lets every
  * submitted call finish (an upsert is idempotent and the other calls
  * pure, so none is interrupted), and returns once every pool thread
  * has exited. Built inside a Spark task, it also closes when the task
  * ends (success, failure or kill), so no thread outlives its task. */
private[graft] final class InFlight[B](limit: Int, name: String) extends AutoCloseable {
  private val task = Option(TaskContext.get())
  private val threads = new ConcurrentLinkedQueue[Thread]()
  private val pool = Executors.newFixedThreadPool(limit, (r: Runnable) => {
    val t = new Thread(r, s"$name-${task.fold(0)(_.partitionId())}-${threads.size}")
    t.setDaemon(true)
    threads.add(t)
    t
  })
  /** Submitted calls, oldest first. */
  private val pending = mutable.Queue.empty[Future[B]]
  task.foreach(_.addTaskCompletionListener[Unit](_ => close()))

  def isFull: Boolean = pending.size >= limit
  def isEmpty: Boolean = pending.isEmpty
  /** Start `call`; a caller that finds the loop full settles first. */
  def submit(call: => B): Unit = pending += pool.submit[B](() => call)
  /** Wait for the oldest pending call: its result, or its failure. */
  def settle(): B = try pending.dequeue().get() catch { case e: ExecutionException => throw e.getCause }

  override def close(): Unit = {
    pending.clear()
    pool.shutdown()
    var interrupted = false
    threads.forEach { t =>
      while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
  }
}

private[graft] object InFlight {

  /** `call` over `in`, up to `limit` calls pending, results in input
    * order. Input is read on the caller's thread, and a call is started
    * whenever the consumer asks for more while fewer than `limit` are
    * pending. The pool closes with the task, or on `close` outside one. */
  def ordered[A, B](in: Iterator[A], limit: Int, name: String)(call: A => B): Iterator[B] with AutoCloseable =
    new Iterator[B] with AutoCloseable {
      private val calls = new InFlight[B](limit, name)
      // input is read on this thread; only `call` runs on the pool
      private def fill(): Unit = while (!calls.isFull && in.hasNext) { val a = in.next(); calls.submit(call(a)) }
      override def hasNext: Boolean = { fill(); !calls.isEmpty }
      override def next(): B = if (hasNext) calls.settle() else throw new NoSuchElementException(name)
      override def close(): Unit = calls.close()
    }

  /** One task's batched remote map: `in` cut into `size`-element calls of
    * `call`, up to `limit` pending on threads `graft-<name>-…`. Each call
    * comes back with its inputs, in input order, as its answer (checked
    * to hold one result per input) or its failure. */
  def batched[A, B](in: Iterator[A], size: Int, limit: Int, name: String)(
      call: IndexedSeq[A] => IndexedSeq[B]): Iterator[(IndexedSeq[A], Try[IndexedSeq[B]])] =
    ordered(in.grouped(size).map(_.toIndexedSeq), limit, s"graft-$name") { batch =>
      batch -> Try(call(batch)).map { out =>
        require(out.length == batch.length, s"$name call returned ${out.length} results for ${batch.length} inputs")
        out
      }
    }
}
