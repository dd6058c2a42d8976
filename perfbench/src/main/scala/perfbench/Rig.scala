package perfbench

import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** The benchmark's loopback Firebase server: a JSON tree behind the
  * JDK `HttpServer`, answering the slice of the REST surface the
  * engine's live export and restore use.
  *
  *   GET   <path>.json?shallow=true                       {key: true, ...}
  *   GET   <path>.json?orderBy="$key"&limitToFirst=N
  *                    [&startAt="k"]                      key-ordered page
  *   PATCH <path>.json  {k: v, ...}                       merge children
  *
  * A page whose body exceeds `maxPayloadBytes` answers HTTP 400
  * `Payload is too large` (the trigger for the client's page halving
  * and go-deeper descent); a PATCH with more than `maxPatchKeys` keys
  * answers 400 (the trigger for the restore's batch halving).
  *
  * Object nodes only: the trees the benchmark seeds hold no arrays.
  * Keys order by Firebase's `$key` rule (integer names first,
  * numerically), written here independently of the client's ordering.
  * Every handler runs under one lock; `busyNanos` sums the time spent
  * inside it, so the benchmark can tell when the rig rather than the
  * program is the bottleneck.
  *
  * The JVM must run with `-Dsun.net.httpserver.nodelay=true`: without
  * TCP_NODELAY every small response waits out the delayed-ACK timer
  * (about 40 ms per request on Linux loopback). */
final class Rig(maxPayloadBytes: Int, maxPatchKeys: Int) {
  private val mapper = new ObjectMapper()
  private var root: ObjectNode = mapper.createObjectNode()
  val gets = new AtomicInteger(0)
  val patches = new AtomicInteger(0)
  val busyNanos = new AtomicLong(0L)

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)

  def seed(json: String): Unit = synchronized {
    root = mapper.readTree(json).asInstanceOf[ObjectNode]
  }
  def snapshot(): String = synchronized { mapper.writeValueAsString(root) }

  private def nodeAt(path: String): JsonNode =
    if (path == "/" || path.isEmpty) root
    else path.stripPrefix("/").split('/').foldLeft(root: JsonNode) {
      (n, seg) => if (n != null && n.isObject) n.get(seg) else null
    }

  private def parseQuery(raw: String): Map[String, String] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split('&').toSeq.map { kv =>
      val dec = (s: String) =>
        java.net.URLDecoder.decode(s, StandardCharsets.UTF_8.name())
      val i = kv.indexOf('=')
      if (i < 0) dec(kv) -> "" else dec(kv.take(i)) -> dec(kv.drop(i + 1))
    }.toMap

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def tooLarge(ex: HttpExchange): Unit =
    respond(ex, 400, """{"error":"Payload is too large"}""")

  private def handle(ex: HttpExchange): Unit = synchronized {
    val t0 = System.nanoTime()
    try {
      val path = {
        val p = ex.getRequestURI.getPath.stripSuffix(".json")
        if (p.isEmpty) "/" else p
      }
      val q = parseQuery(ex.getRequestURI.getRawQuery)
      val isPatch = ex.getRequestMethod == "PATCH" ||
        "PATCH" == ex.getRequestHeaders.getFirst("X-HTTP-Method-Override")
      if (isPatch) {
        patches.incrementAndGet()
        val patch = mapper.readTree(ex.getRequestBody.readAllBytes())
        if (!patch.isObject || patch.size() > maxPatchKeys) tooLarge(ex)
        else {
          val target = path.stripPrefix("/").split('/').filter(_.nonEmpty)
            .foldLeft(root) { (n, seg) =>
              n.get(seg) match {
                case o: ObjectNode => o
                case _ => val c = mapper.createObjectNode(); n.set[JsonNode](seg, c); c
              }
            }
          // Firebase update semantics: a null value deletes the key
          patch.fields().asScala.foreach { e =>
            if (e.getValue.isNull) target.remove(e.getKey)
            else target.set[JsonNode](e.getKey, e.getValue)
          }
          respond(ex, 200, "{}")
        }
      } else {
        gets.incrementAndGet()
        (nodeAt(path), q.get("shallow"), q.get("orderBy")) match {
          case (null, _, _) => respond(ex, 200, "null")
          case (o: ObjectNode, Some("true"), _) =>
            val out = mapper.createObjectNode()
            o.fieldNames().asScala.foreach(out.put(_, true))
            respond(ex, 200, mapper.writeValueAsString(out))
          case (o: ObjectNode, _, Some("\"$key\"")) =>
            val limit = q.get("limitToFirst").map(_.toInt).getOrElse(Int.MaxValue)
            val startAt = q.get("startAt").map(_.stripPrefix("\"").stripSuffix("\""))
            val page = mapper.createObjectNode()
            o.fieldNames().asScala.toVector.sorted(Rig.NameCompare)
              .dropWhile(k => startAt.exists(Rig.NameCompare.lt(k, _)))
              .take(limit).foreach(k => page.set[JsonNode](k, o.get(k)))
            val body = mapper.writeValueAsString(page)
            if (body.length > maxPayloadBytes) tooLarge(ex)
            else respond(ex, 200, body)
          case (n, _, _) =>
            val body = mapper.writeValueAsString(n)
            if (body.length > maxPayloadBytes) tooLarge(ex)
            else respond(ex, 200, body)
        }
      }
    } catch {
      case e: Throwable =>
        try respond(ex, 500, """{"error":"rig failure"}""")
        catch { case _: Throwable => () }
        System.err.println(s"rig: ${ex.getRequestURI}: $e")
    } finally busyNanos.addAndGet(System.nanoTime() - t0)
  }
}

object Rig {
  /** Firebase's server-side key order: names that are 32-bit integers
    * (ASCII digits, optional '-') first, numerically, shorter string
    * first on equal values; then every other name lexicographically. */
  val NameCompare: Ordering[String] = new Ordering[String] {
    private val IntShape = java.util.regex.Pattern.compile("^(-?)0*(\\d{1,10})$")
    private def intName(k: String): Option[Long] = {
      val m = IntShape.matcher(k)
      if (!m.matches()) None
      else {
        val v = (if (m.group(1) == "-") -1L else 1L) * m.group(2).toLong
        if (v >= Int.MinValue.toLong && v <= Int.MaxValue.toLong) Some(v) else None
      }
    }
    override def compare(a: String, b: String): Int =
      (intName(a), intName(b)) match {
        case (Some(x), Some(y)) =>
          if (x != y) java.lang.Long.compare(x, y)
          else Integer.compare(a.length, b.length)
        case (Some(_), None) => -1
        case (None, Some(_)) => 1
        case (None, None) => a.compareTo(b)
      }
  }
}
