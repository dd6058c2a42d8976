package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** One unit of measured work: named step times plus the operations
  * attempted and failed in it. */
final case class UnitResult(steps: Seq[(String, Double)], attempted: Int,
                            failed: Int, errors: Seq[String])

trait Workload {
  /** Load the inputs under `dataDir` and do the first work on them
    * that a user pays once per data set (first-use index builds, the
    * first backup). */
  def prepare(dataDir: String): Unit
  /** Unrecorded units run after set-up, when set-up does not already
    * run every code path a unit runs (JIT warm-up). */
  def warmupUnits: Int
  def unit(traced: Boolean): UnitResult
  /** Per-layer metrics, averaged over the traced units. */
  def layers(): Map[String, Double]
  /** Untimed checks and outputs after the measurement; returns errors. */
  def finish(outDir: String): Seq[String]
}

/** JVM side of the benchmark (driven by perfbench/run.py).
  *
  * Usage: perfbench.Main <workload> <workDir> <seed> <seconds> <trace 0|1>
  *          <dataDir1,dataDir2,...> [key=value ...]
  *
  * Set-up runs `prepare` once per data dir (identical inputs under
  * distinct paths, so every pass rebuilds its persisted indexes). The
  * retained heap is taken right after set-up, when every run has done
  * the same work. Warm-up units follow where set-up leaves code paths
  * cold; the measurement then repeats units on the last dir until
  * `seconds` have passed and at least three units ran. With trace=1
  * units alternate traced and untraced in ABBA order, so the tracing
  * overhead is measured in the same run without the warm-up drift
  * biasing it. Prints one line `PERFBENCH <json>` last. */
object Main {
  /** Exits explicitly: Spark and the rig leave non-daemon threads. */
  def main(args: Array[String]): Unit =
    try { run(args); sys.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  private def run(args: Array[String]): Unit = {
    val Array(workload, work, seedS, secondsS, traceS, dirsS) = args.take(6)
    val opts = args.drop(6).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    watchGc()
    val dataDirs = dirsS.split(',').toSeq
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ready = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val w: Workload = workload match {
      case "live_roundtrip" => new LiveWorkload(spark, work, seed,
        opts("docs").toInt, opts("payload_cap").toInt, opts("patch_cap").toInt,
        opts.get("drop_edge").contains("1"))
      case _ => new QueryWorkload(spark, opts("queries").split(',').toSeq, cores)
    }
    val prepareS = dataDirs.map { d =>
      val t0 = System.nanoTime(); w.prepare(d); (System.nanoTime() - t0) / 1e9
    }
    val retainedMb = retainedHeapMb()
    (1 to w.warmupUnits).foreach(_ => w.unit(traced = false))
    val units = Vector.newBuilder[(Boolean, UnitResult)]
    val t0 = System.nanoTime()
    var n = 0
    while (n < (if (trace) 4 else 3) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && (n % 4 == 0 || n % 4 == 3) // ABBA: drift cancels
      units += (traced -> w.unit(traced))
      n += 1
    }
    val done = units.result()
    val outDir = s"$work/out"
    new java.io.File(outDir).mkdirs()
    val finishErrors = w.finish(outDir)

    val totals = (tr: Boolean) => done.filter(_._1 == tr).map(_._2.steps.map(_._2).sum)
    val overhead =
      if (trace) Stats.median(totals(true)) / Stats.median(totals(false)) - 1.0 else 0.0
    val stepNames = done.head._2.steps.map(_._1)
    val result = Map(
      "jvm_ready_s" -> ready,
      "prepare_s" -> prepareS.asJava,
      "unit_s" -> done.map(_._2.steps.map(_._2).sum).asJava,
      "steps" -> stepNames.map(s => s -> done.flatMap(_._2.steps.toMap.get(s)).asJava).toMap.asJava,
      "attempted" -> (done.map(_._2.attempted).sum + 1),
      "failed" -> (done.map(_._2.failed).sum + (if (finishErrors.nonEmpty) 1 else 0)),
      "errors" -> (done.flatMap(_._2.errors) ++ finishErrors).distinct.take(20).asJava,
      "retained_heap_mb" -> retainedMb,
      "layers" -> (w.layers() ++ Map("trace.overhead_frac" -> overhead,
        "jvm.peak_heap_mb" -> peakAfterGc.get / 1048576.0,
        "jvm.peak_rss_mb" -> peakRssMb())).asJava,
      "cores" -> cores)
    spark.stop()
    println("PERFBENCH " + new ObjectMapper().writeValueAsString(result.asJava))
  }

  /** What the session holds: heap in use right after a full collection,
    * the least of three. The pause between them lets Spark's cleaner
    * release what the previous collection made unreachable. */
  private def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Thread.sleep(200)
    used / 1048576.0
  }.min

  /** Peak heap in use right after a collection (the live set plus
    * floating garbage), over every GC of the run. */
  private val peakAfterGc = new java.util.concurrent.atomic.AtomicLong(0L)
  private def watchGc(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .filter { case (pool, _) => !pool.contains("Metaspace") && !pool.contains("Code") &&
              !pool.contains("Compressed") }
            .map(_._2.getUsed).sum
          peakAfterGc.accumulateAndGet(used, math.max)
        }, null, null)
      case _ => ()
    }

  /** VmHWM of this process: the peak resident set. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
}
