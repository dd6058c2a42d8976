package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.Tables
import graft.pipeline.{Export, HttpRestClient, LiveExport, RestClient, Restore, TreeCodec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The live backup round trip against the loopback [[Rig]], one round
  * trip per unit:
  *
  *  - export:      `LiveExport.export` + `Export.writeBackup` of snapshot 1
  *  - incremental: the seeded mutation (untimed), a second export,
  *                 `Export.diffBackups`, then `Restore.restoreDiff` into
  *                 a server holding snapshot 1
  *  - restore:     `Restore.restore` of backup 1 into an empty server
  *
  * Both restores are checked by comparing leaf-edge sets
  * (`TreeCodec.flatten(snapshot).toSet`). Whole-tree JSON equality
  * would reject a correct restore: the rig keeps the `{}` parents that
  * null-PATCHes empty, which Firebase prunes.
  *
  * Set-up (per data dir) builds the tree from the tables, seeds the
  * rig and takes the first backup.
  *
  * The tree: `/users/<user_id>/<event_id> = {type, value, props: {k}}`
  * from the events table, `/docs/<doc_id> = {lang, source, text}` and
  * a flat fan-out index `/doc_lang/<doc_id> = lang` from the first
  * `docs` documents. */
final class LiveWorkload(spark: SparkSession, work: String, seed: Long,
                         docs: Int, maxPayloadBytes: Int, maxPatchKeys: Int,
                         dropEdge: Boolean) extends Workload {
  private val mapper = new ObjectMapper()
  private val rig = new Rig(maxPayloadBytes, maxPatchKeys)
  private var s1Json: String = _
  private var s1Edges: Set[TreeCodec.Edge] = _
  private var s2Json: String = _
  private var s2Edges: Set[TreeCodec.Edge] = _
  private val layerSums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var tracedUnits = 0
  private var refRequests = 0.0
  private var srcBytes = 0L

  private def edges(json: String): Set[TreeCodec.Edge] = TreeCodec.flatten(json).toSet

  private def buildTree(dir: String): ObjectNode = {
    val root = mapper.createObjectNode()
    val users = root.putObject("users")
    Tables.events(spark, dir).select("user_id", "event_id", "event_type", "value", "props")
      .collect().foreach { r =>
        val u = Option(users.get(r.getLong(0).toString)).map(_.asInstanceOf[ObjectNode])
          .getOrElse(users.putObject(r.getLong(0).toString))
        val e = u.putObject(r.getLong(1).toString)
        e.put("type", r.getString(2)); e.put("value", r.getDouble(3))
        e.set[JsonNode]("props", mapper.readTree(r.getString(4)))
      }
    val d = root.putObject("docs")
    val idx = root.putObject("doc_lang")
    Tables.documents(spark, dir).filter(col("doc_id") < docs)
      .select("doc_id", "lang", "source", "text").collect().foreach { r =>
        val n = d.putObject(r.getLong(0).toString)
        n.put("lang", r.getString(1)); n.put("source", r.getString(2)); n.put("text", r.getString(3))
        idx.put(r.getLong(0).toString, r.getString(1))
      }
    root
  }

  /** About 1% of the leaf edges change, seeded: event values rewritten,
    * event subtrees deleted, new events added, document texts edited. */
  private def mutate(root: ObjectNode): Unit = {
    val rng = new scala.util.Random(seed)
    val users = root.get("users").asInstanceOf[ObjectNode]
    val events = users.fields().asScala.toVector.flatMap { u =>
      u.getValue.fieldNames().asScala.map(e => (u.getKey, e))
    }.sortBy { case (u, e) => (u.toLong, e.toLong) }
    val nextId = events.map(_._2.toLong).max + 1
    events.foreach { case (u, e) =>
      val p = rng.nextDouble()
      val user = users.get(u).asInstanceOf[ObjectNode]
      if (p < 0.008) user.get(e).asInstanceOf[ObjectNode].put("value", rng.nextInt(100000) / 100.0)
      else if (p < 0.011) user.remove(e)
    }
    (0 until math.max(1, events.size / 500)).foreach { i =>
      val (u, _) = events(rng.nextInt(events.size))
      val e = users.get(u).asInstanceOf[ObjectNode].putObject((nextId + i).toString)
      e.put("type", "view"); e.put("value", 1.0); e.putObject("props").put("k", i)
    }
    val d = root.get("docs").asInstanceOf[ObjectNode]
    d.fieldNames().asScala.toVector.foreach { k =>
      if (rng.nextDouble() < 0.01)
        d.get(k).asInstanceOf[ObjectNode].put("text", s"edited ${rng.nextInt(1000)}")
    }
  }

  /** Set-up runs only the first export; one round trip warms the rest. */
  val warmupUnits = 1

  def prepare(dataDir: String): Unit = {
    val tree = buildTree(dataDir)
    s1Json = mapper.writeValueAsString(tree)
    srcBytes = s1Json.length.toLong
    s1Edges = edges(s1Json)
    mutate(tree)
    s2Json = mapper.writeValueAsString(tree)
    s2Edges = edges(s2Json)
    rig.seed(s1Json)
    val url = rig.url
    Export.writeBackup(LiveExport.export(spark, () => new HttpRestClient(url)),
      s"$work/backup1")
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def unit(traced: Boolean): UnitResult = {
    val url = rig.url
    val client: () => RestClient =
      if (traced) () => new TracedRestClient(new HttpRestClient(url))
      else () => new HttpRestClient(url)
    def sink(kind: String): Restore.KVSink =
      if (traced) new TracedSink(new Restore.HttpKVSink(url), kind)
      else new Restore.HttpKVSink(url)
    if (traced) { RestTrace.reset(); SinkTrace.full.reset(); SinkTrace.diff.reset() }
    val (b1, b2) = (s"$work/backup1", s"$work/backup2")
    val errors = Vector.newBuilder[String]
    val busy0 = rig.busyNanos.get
    val wall0 = System.nanoTime()
    rig.seed(s1Json)

    val g0 = rig.gets.get
    val (rows1, planS) = timed(LiveExport.export(spark, client))
    val planReq = rig.gets.get - g0
    val (_, writeS) = timed(Export.writeBackup(rows1, b1))
    val exportReq = rig.gets.get - g0

    rig.seed(s2Json)
    val (_, export2S) = timed(Export.writeBackup(LiveExport.export(spark, client), b2))
    val (diff, diffS) = timed(Export.diffBackups(
      Export.readBackup(spark, b1), Export.readBackup(spark, b2)))
    rig.seed(s1Json)
    val (_, applyS) = timed(Restore.restoreDiff(diff, sink("diff")))
    if (edges(rig.snapshot()) != s2Edges)
      errors += "restoreDiff: server tree differs from snapshot 2"

    rig.seed("{}")
    val p0 = rig.patches.get
    val backup = Export.readBackup(spark, b1)
    val (_, restoreS) = timed(Restore.restore(
      if (dropEdge) backup.filter(!(col("path") === "/doc_lang" && col("key") === "0"))
      else backup, sink("full")))
    val restoreReq = rig.patches.get - p0
    if (edges(rig.snapshot()) != s1Edges)
      errors += "restore: server tree differs from snapshot 1"
    val wall = (System.nanoTime() - wall0) / 1e9
    System.err.println(f"perfbench: round trip $wall%.3f s (export ${planS + writeS}%.3f, " +
      f"incremental ${export2S + diffS + applyS}%.3f, restore $restoreS%.3f), " +
      s"export $exportReq GETs, restore $restoreReq PATCHes")

    if (traced) {
      val add = (k: String, v: Double) => layerSums(k) += v
      tracedUnits += 1
      add("live.export_s", planS + writeS)
      add("live.incremental_s", export2S + diffS + applyS)
      add("live.restore_s", restoreS)
      add("live.export_requests", exportReq)
      add("live.restore_requests", restoreReq)
      add("liveexport.plan_s", planS)
      add("liveexport.plan_requests", planReq)
      add("export.write_s", writeS)
      add("export.diff_s", diffS)
      add("export.backup_mb", dirBytes(b1) / 1e6)
      add("export.bytes_per_src_byte", dirBytes(b1).toDouble / srcBytes)
      add("export.changed_keys", SinkTrace.diff.keys.sum.toDouble)
      val gets = RestTrace.lat.count
      add("rest.get_requests", gets)
      add("rest.get_mb", RestTrace.bytes.sum / 1e6)
      add("rest.get_ms_p50", RestTrace.lat.quantileMs(0.5))
      add("rest.get_ms_p99", RestTrace.lat.quantileMs(0.99))
      add("rest.status_400", RestTrace.status400.sum.toDouble)
      add("rest.shallow_requests", RestTrace.shallow.sum.toDouble)
      add("rest.page_shrinks", RestTrace.shrinks.sum.toDouble)
      add("rest.page_grows", RestTrace.grows.sum.toDouble)
      add("rest.busy_s", RestTrace.lat.busySeconds)
      add("rest.useful_frac", if (gets > 0) RestTrace.ok.sum.toDouble / gets else 0.0)
      val full = SinkTrace.full
      add("restore.updates", full.lat.count)
      add("restore.keys_per_update", full.keys.sum.toDouble / math.max(full.lat.count, 1))
      add("restore.rejected_updates", full.rejected.sum.toDouble)
      add("restore.update_ms_p50", full.lat.quantileMs(0.5))
      add("restore.update_ms_p99", full.lat.quantileMs(0.99))
      add("restore.busy_s", full.lat.busySeconds)
      val busy = (rig.busyNanos.get - busy0) / 1e9
      add("rig.server_busy_s", busy)
      add("rig.server_busy_frac", busy / wall)
    }
    val errs = errors.result()
    UnitResult(Seq("export" -> (planS + writeS),
      "incremental" -> (export2S + diffS + applyS), "restore" -> restoreS),
      3, errs.size, errs)
  }

  private def dirBytes(d: String): Long = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    finally walk.close()
  }

  /** The reference's own algorithm: one single-threaded walker over the
    * whole tree. Its request count is the baseline the distributed
    * export's `export_requests` is read against. */
  private def referenceWalk(): Seq[String] = {
    rig.seed(s1Json)
    val g0 = rig.gets.get
    val got = new LiveExport.Walker(new HttpRestClient(rig.url)).fetchTree("/").toSet
    refRequests = rig.gets.get - g0
    if (got != s1Edges) Seq("reference walk: edges differ from snapshot 1") else Nil
  }

  def layers(): Map[String, Double] = {
    val n = math.max(tracedUnits, 1).toDouble
    layerSums.map { case (k, v) => k -> v / n }.toMap ++
      Map("ref.export_requests" -> refRequests)
  }

  /** Untimed checks after the measurement: the reference walk, and a
    * negative control proving the edge-set check catches one dropped
    * edge on a real restore. */
  def finish(outDir: String): Seq[String] = {
    val ref = referenceWalk()
    rig.seed("{}")
    val docs = Export.subtree(Export.readBackup(spark, s"$work/backup1"), "/doc_lang")
    Restore.restore(docs.filter(col("key") =!= "0"), new Restore.HttpKVSink(rig.url))
    val want = s1Edges.filter(_.path == "/doc_lang")
    val control =
      if (edges(rig.snapshot()) == want) Seq("negative control: a restore missing one edge passed the check")
      else Nil
    rig.stop()
    ref ++ control
  }
}
