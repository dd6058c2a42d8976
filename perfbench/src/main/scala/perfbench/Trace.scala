package perfbench

import graft.pipeline.{RestClient, RestResponse, Restore}
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** Latency samples plus a busy-time sum, safe to feed from executor
  * threads (local mode: one JVM, so a global object is shared by every
  * deserialized copy of a decorator). */
final class Latencies {
  private val samples = new ConcurrentLinkedQueue[java.lang.Long]()
  def add(nanos: Long): Unit = samples.add(nanos)
  def clear(): Unit = samples.clear()
  def count: Int = samples.size
  def busySeconds: Double = samples.asScala.map(_.longValue).sum / 1e9
  def quantileMs(q: Double): Double = Stats.quantile(
    samples.asScala.map(_.longValue / 1e6).toVector, q)
}

/** Counters of the `RestClient` decorator. */
object RestTrace {
  val lat = new Latencies
  val bytes = new LongAdder
  val status400 = new LongAdder
  val ok = new LongAdder
  val shallow = new LongAdder
  val shrinks = new LongAdder
  val grows = new LongAdder
  /** last `limitToFirst` asked per path, to see page-size decisions */
  val lastLimit = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def reset(): Unit = {
    lat.clear(); Seq(bytes, status400, ok, shallow, shrinks, grows).foreach(_.reset())
    lastLimit.clear()
  }
}

/** Times and classifies every GET the live export makes. Holds no
  * state of its own, so copies shipped to executor tasks all report
  * into [[RestTrace]]. */
final class TracedRestClient(inner: RestClient) extends RestClient {
  override def getR(path: String, query: Map[String, String]): RestResponse = {
    val t0 = System.nanoTime()
    val r = inner.getR(path, query)
    RestTrace.lat.add(System.nanoTime() - t0)
    RestTrace.bytes.add(r.body.length.toLong)
    if (r.status == 400) RestTrace.status400.increment()
    if (r.status >= 200 && r.status < 300) RestTrace.ok.increment()
    if (query.get("shallow").contains("true")) RestTrace.shallow.increment()
    query.get("limitToFirst").foreach { l =>
      val prev = RestTrace.lastLimit.put(path, l.toInt)
      if (prev != null && prev > l.toInt) RestTrace.shrinks.increment()
      if (prev != null && prev < l.toInt) RestTrace.grows.increment()
    }
    r
  }
  override def patch(path: String, bodyJson: String): Boolean =
    inner.patch(path, bodyJson)
}

/** Counters of the `Restore.KVSink` decorator, one set per restore
  * kind (full restore, diff restore). */
final class SinkStats {
  val lat = new Latencies
  val keys = new LongAdder
  val rejected = new LongAdder
  def reset(): Unit = { lat.clear(); keys.reset(); rejected.reset() }
}
object SinkTrace {
  val full = new SinkStats
  val diff = new SinkStats
  def of(kind: String): SinkStats = if (kind == "full") full else diff
}

final class TracedSink(inner: Restore.KVSink, kind: String) extends Restore.KVSink {
  override def update(path: String, batch: Map[String, String]): Boolean = {
    val t0 = System.nanoTime()
    val ok = inner.update(path, batch)
    val s = SinkTrace.of(kind)
    s.lat.add(System.nanoTime() - t0)
    if (ok) s.keys.add(batch.size.toLong) else s.rejected.increment()
    ok
  }
}

/** Records Spark scheduler events with their timestamps; the query
  * workload attributes them to queries and phases by time window after
  * draining the bus. Storage memory is tracked from block updates (the
  * pins operators hold via persist / localCheckpoint). */
final class EventLog extends SparkListener {
  import EventLog.Task
  val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  /** (time, storage bytes in memory after the update) */
  val storage = new ConcurrentLinkedQueue[(Long, Long)]()
  private val blockMem = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val memNow = new AtomicLong(0L)

  def clear(): Unit = { jobs.clear(); stages.clear(); tasks.clear(); storage.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()): Long)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled))
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    val now = info.memSize
    val before = Option(if (now > 0) blockMem.put(id, now) else blockMem.remove(id))
      .map(_.longValue).getOrElse(0L)
    storage.add((System.currentTimeMillis(), memNow.addAndGet(now - before)))
  }
}

object EventLog {
  final case class Task(launch: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        inBytes: Long, shufRead: Long, shufWrite: Long,
                        fetchWaitMs: Long, spillDisk: Long)
}

object Stats {
  /** Linear-interpolated quantile (the 'inclusive' method); 0 when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
