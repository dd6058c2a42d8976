package perfbench

import graft.{GraftQuery, SparkEntry}
import graft.operators._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One query execution's time window, for attributing listener events. */
private final case class Window(name: String, buildStart: Long, execStart: Long,
                                end: Long, buildS: Double, execS: Double,
                                phasesMs: Map[String, Long])

/** Runs a fixed list of `SparkEntry.queries` as one sweep per unit.
  * Each query is built (`fn(spark, dir)`, the build phase) and then
  * forced by walking every row of its own physical plan (the exec
  * phase), with the cache cleared first, as `graft.Bench` does. Every
  * execution's row count must equal the first one's; the DuckDB oracle
  * check of the outputs runs after the measurement (see run.py). */
final class QueryWorkload(spark: SparkSession, names: Seq[String],
                          cores: Int) extends Workload {
  private val fns = SparkEntry.queries
  require(names.forall(fns.contains), s"unknown queries: ${names.filterNot(fns.contains)}")

  private val modules: Seq[(String, Seq[GraftQuery])] = Seq(
    "Relational" -> Relational.queries, "Functions" -> Functions.queries,
    "Events" -> Events.queries, "TextAnalysis" -> TextAnalysis.queries,
    "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
    "Stats" -> Stats.queries, "Sql" -> Sql.queries,
    "Multimodal" -> Multimodal.queries, "Incremental" -> Incremental.queries,
    "Curation" -> Curation.queries, "Retrieval" -> Retrieval.queries)
  private val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  private var dir: String = _
  private val expectedRows = mutable.Map.empty[String, Long]
  private val log = new EventLog
  private val layerSums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var tracedUnits = 0

  /** Set-up already runs one full sweep per data dir, but the first
    * repeat on the same dir is still about 10% slower than the rest. */
  val warmupUnits = 1

  def prepare(dataDir: String): Unit = {
    dir = dataDir
    unit(traced = false)
  }

  def unit(traced: Boolean): UnitResult = {
    if (traced) { log.clear(); spark.sparkContext.addSparkListener(log) }
    val steps = Vector.newBuilder[(String, Double)]
    val windows = Vector.newBuilder[Window]
    val errors = Vector.newBuilder[String]
    names.foreach { name =>
      spark.catalog.clearCache()
      val b0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try {
        val df = fns(name)(spark, dir)
        val e0 = System.currentTimeMillis(); val n1 = System.nanoTime()
        val rows = spark.sparkContext.longAccumulator
        df.queryExecution.toRdd.foreachPartition((it: Iterator[_]) => rows.add(it.size.toLong))
        val n2 = System.nanoTime()
        steps += name -> (n2 - n0) / 1e9
        System.err.println(f"perfbench: $name%s ${(n2 - n0) / 1e9}%.3f s")
        windows += Window(name, b0, e0, System.currentTimeMillis(),
          (n1 - n0) / 1e9, (n2 - n1) / 1e9,
          df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs })
        val want = expectedRows.getOrElseUpdate(name, rows.value)
        if (want != rows.value.longValue)
          errors += s"$name: ${rows.value} rows, first run gave $want"
      } catch {
        case e: Exception => errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    if (traced) {
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext, 10000L)
      spark.sparkContext.removeSparkListener(log)
      attribute(windows.result())
      tracedUnits += 1
    }
    val errs = errors.result()
    UnitResult(steps.result(), names.size, errs.size, errs)
  }

  /** Splits the scheduler events of one traced sweep by query and
    * phase, using each query's build / exec time window. */
  private def attribute(ws: Seq[Window]): Unit = {
    def in(t: Long, from: Long, to: Long) = t >= from && t <= to
    val jobs = log.jobs.asScala.map(_.longValue).toVector
    val stages = log.stages.asScala.map(_.longValue).toVector
    val tasks = log.tasks.asScala.toVector
    val storage = log.storage.asScala.toVector
    var peakPin = 0L
    ws.foreach { w =>
      val add = (k: String, v: Double) => layerSums(k) += v
      add("build.s", w.buildS)
      add("build.jobs", jobs.count(in(_, w.buildStart, w.execStart - 1)))
      add("exec.s", w.execS)
      add("exec.jobs", jobs.count(in(_, w.execStart, w.end)))
      add("exec.stages", stages.count(in(_, w.execStart, w.end)))
      val all = tasks.filter(t => in(t.launch, w.buildStart, w.end))
      val exec = all.filter(t => in(t.launch, w.execStart, w.end))
      add("exec.tasks", exec.size)
      add("exec.task_s", exec.map(_.runMs).sum / 1e3)
      add("task.s", all.map(_.runMs).sum / 1e3)
      add("task.cpu_s", all.map(_.cpuNs).sum / 1e9)
      add("task.gc_s", all.map(_.gcMs).sum / 1e3)
      add("shuffle.write_mb", all.map(_.shufWrite).sum / 1e6)
      add("shuffle.read_mb", all.map(_.shufRead).sum / 1e6)
      add("shuffle.fetch_wait_s", all.map(_.fetchWaitMs).sum / 1e3)
      add("spill.disk_mb", all.map(_.spillDisk).sum / 1e6)
      add("scan.input_mb", all.map(_.inBytes).sum / 1e6)
      add("catalyst.analysis_s", w.phasesMs.getOrElse("analysis", 0L) / 1e3)
      add("catalyst.optimizer_s", w.phasesMs.getOrElse("optimization", 0L) / 1e3)
      add("catalyst.planning_s", w.phasesMs.getOrElse("planning", 0L) / 1e3)
      add(s"module.${moduleOf(w.name)}.s", w.buildS + w.execS)
      storage.filter(s => in(s._1, w.buildStart, w.end))
        .foreach(s => peakPin = math.max(peakPin, s._2))
    }
    layerSums("pins.storage_mb") += peakPin / 1e6
  }

  def layers(): Map[String, Double] = {
    val n = math.max(tracedUnits, 1).toDouble
    val per = layerSums.map { case (k, v) => k -> v / n }.toMap.withDefaultValue(0.0)
    val spent = per("build.s") + per("exec.s")
    per ++ Map(
      "build.share" -> (if (spent > 0) per("build.s") / spent else 0.0),
      "exec.task_busy_frac" ->
        (if (per("exec.s") > 0) per("exec.task_s") / (per("exec.s") * cores) else 0.0)
    ) - "exec.task_s" ++
      modules.map { case (m, _) => s"module.$m.s" -> per(s"module.$m.s") }
  }

  /** Writes each query's output once more (untimed) for the oracle
    * check, plus the oracle SQL, in `graft.Verify`'s layout. */
  def finish(outDir: String): Seq[String] = {
    val errors = Vector.newBuilder[String]
    names.foreach { name =>
      try fns(name)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Exception => errors += s"$name: output write failed: ${e.getMessage}" }
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      mapper.writeValueAsString(oracles.asJava))
    errors.result()
  }
}
