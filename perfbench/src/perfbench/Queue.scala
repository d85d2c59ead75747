package perfbench

import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}
import java.util.concurrent.locks.LockSupport

import graft.sources.remote.{BatchCallResult, QueueMessage, RemoteQueueClient, RemoteQueueClientFactory}

/** The benchmark's in-memory queue service. The connector instantiates
  * [[PerfQueueClient]] by class name inside its partition readers; in
  * `local[n]` those run in this JVM, so every client talks to this one
  * object.
  *
  * Messages are numbered 0..capacity-1 and their receipt handle is
  * `m<index>`, so an ack lands in a flat array: the stub records the time
  * and the count of every ack, which is what the latency metrics and the
  * exactly-once-ack check read. The backlog count is exact, so
  * `processAllAvailable` and a drain end as soon as the last message is
  * leased. Leases never lapse: a message that is received and never acked
  * shows up as unacked, not as a redelivery.
  */
object PerfQueue {
  private val lock = new Object
  private val visible = new java.util.ArrayDeque[QueueMessage]()
  private val backlogCount = new AtomicLong(0L)

  @volatile private var ackedAt = new AtomicLongArray(0)
  @volatile private var ackCount = new AtomicIntegerArray(0)

  /** Acks since the last [[reset]]. */
  val deleted = new AtomicLong(0L)
  /** Service calls over the whole process, never reset. */
  val receiveCalls = new AtomicLong(0L)
  val received = new AtomicLong(0L)
  val deleteCalls = new AtomicLong(0L)
  val deletedTotal = new AtomicLong(0L)

  /** Empties the queue and sizes the ack record for `capacity` messages. */
  def reset(capacity: Int): Unit = lock.synchronized {
    visible.clear()
    backlogCount.set(0L)
    ackedAt = new AtomicLongArray(capacity)
    ackCount = new AtomicIntegerArray(capacity)
    deleted.set(0L)
  }

  def handle(index: Int): String = "m" + index

  def enqueue(index: Int, payload: String): Unit = lock.synchronized {
    visible.add(QueueMessage(payload, Map.empty, handle(index)))
    backlogCount.incrementAndGet()
  }

  def backlog: Long = backlogCount.get()

  def receive(max: Int): Seq[QueueMessage] = {
    val out = lock.synchronized {
      val n = math.min(max, visible.size)
      val b = Vector.newBuilder[QueueMessage]
      var i = 0
      while (i < n) { b += visible.poll(); i += 1 }
      backlogCount.addAndGet(-n.toLong)
      b.result()
    }
    receiveCalls.incrementAndGet()
    received.addAndGet(out.size.toLong)
    out
  }

  def delete(handles: Seq[String]): BatchCallResult = {
    val now = System.nanoTime()
    handles.foreach { h =>
      val i = h.substring(1).toInt
      ackCount.incrementAndGet(i)
      ackedAt.set(i, now)
    }
    deleteCalls.incrementAndGet()
    deleted.addAndGet(handles.size.toLong)
    deletedTotal.addAndGet(handles.size.toLong)
    BatchCallResult(handles.size, Nil)
  }

  /** `System.nanoTime` of the last ack of message `i`, 0 if never acked. */
  def ackedAtNanos(i: Int): Long = ackedAt.get(i)
  def acks(i: Int): Int = ackCount.get(i)

  /** Blocks until `n` messages are acked in total or `timeoutMs` passes. */
  def awaitAcked(n: Long, timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (deleted.get() < n && System.nanoTime() < deadline)
      LockSupport.parkNanos(1000000L)
    deleted.get() >= n
  }
}

final class PerfQueueClient extends RemoteQueueClient {
  override def receive(max: Int, waitMs: Long, visibilityTimeoutSec: Int): Seq[QueueMessage] =
    PerfQueue.receive(max)
  override def deleteBatch(handles: Seq[String]): BatchCallResult = PerfQueue.delete(handles)
  override def changeVisibilityBatch(handles: Seq[String], timeoutSec: Int): BatchCallResult =
    BatchCallResult(handles.size, Nil)
  override def approximateBacklog(): Long = PerfQueue.backlog
}

class PerfQueueFactory extends RemoteQueueClientFactory {
  override def create(): RemoteQueueClient = new PerfQueueClient
}
