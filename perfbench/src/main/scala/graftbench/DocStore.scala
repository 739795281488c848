package graftbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process document store speaking the wire shapes of
  * `graft.sources.HttpScrollConnector`:
  * {{{
  *  POST   <ns>/_search?table=T&slice=I&slices=M&size=K
  *  POST   <ns>/_scroll?id=S
  *  POST   <ns>/_bulk?table=T      (NDJSON action/source pairs)
  *  GET    <ns>/_count?table=T
  *  GET    <ns>/_tables
  *  DELETE <ns>/_table?table=T
  * }}}
  * `<ns>` is the URL path before the operation, so one store serves the
  * source root and one destination root per task.
  *
  * Costs are what a real store's would be, not the harness's: sources
  * are kept pre-serialized, a scroll page costs O(page size) (slice I of
  * M is every M-th document from position I, addressed by arithmetic),
  * and an upsert costs O(1) (id -> position map). Four handler threads
  * (one per `local[4]` core), all daemons.
  */
final class DocStore {

  private final class Table {
    val sources = ArrayBuffer.empty[String]
    val ids = ArrayBuffer.empty[String]
    val positions = new java.util.HashMap[String, Integer]()
  }

  private final class Scroll(val table: Table, val slice: Int, val slices: Int, val size: Int, var next: Int)

  private val tables = new ConcurrentHashMap[String, Table]()
  private val scrolls = new ConcurrentHashMap[String, Scroll]()
  private val scrollSeq = new AtomicLong()

  val requests = new AtomicLong()
  val docsServed = new AtomicLong()
  val docsPosted = new AtomicLong()
  /** Upserts that replaced an id already present: a bulk retry re-posts. */
  val docsReposted = new AtomicLong()
  val busyNanos = new AtomicLong()
  val scanNanos = new AtomicLong()
  val bulkNanos = new AtomicLong()

  def resetCounters(): Unit =
    Seq(requests, docsServed, docsPosted, docsReposted, busyNanos, scanNanos, bulkNanos).foreach(_.set(0))

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  private val pool = Executors.newFixedThreadPool(4, new ThreadFactory {
    private val n = new AtomicInteger()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"docstore-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    ()
  }

  private def key(ns: String, table: String): String = s"$ns\u0000$table"

  /** Load a table directly (the corpus seeding path, not over HTTP). */
  def load(ns: String, table: String, sources: Iterator[String]): Long = {
    val t = new Table
    sources.foreach { s =>
      val id = t.sources.size.toString
      t.positions.put(id, t.sources.size)
      t.ids += id
      t.sources += s
    }
    tables.put(key(ns, table), t)
    t.sources.size.toLong
  }

  /** Every table of a namespace prefix, with its stored sources. */
  def tablesUnder(nsPrefix: String): Seq[(String, Seq[String])] =
    tables.asScala.toSeq.collect {
      case (k, t) if k.startsWith(nsPrefix) =>
        k.substring(k.indexOf('\u0000') + 1) -> t.synchronized(t.sources.toVector)
    }

  def dropUnder(nsPrefix: String): Unit =
    tables.keySet().asScala.filter(_.startsWith(nsPrefix)).foreach(tables.remove)

  // ------------------------------------------------------------------ HTTP

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    requests.incrementAndGet()
    try {
      val path = ex.getRequestURI.getPath
      val cut = path.lastIndexOf('/')
      val ns = path.substring(0, math.max(cut, 0))
      val op = path.substring(cut + 1)
      val q = params(ex.getRequestURI.getRawQuery)
      (ex.getRequestMethod, op) match {
        case ("POST", "_search") =>
          Option(tables.get(key(ns, q("table")))) match {
            case None => reply(ex, 404, """{"error":"no such table"}""")
            case Some(t) =>
              val sc = new Scroll(t, q("slice").toInt, q("slices").toInt, q("size").toInt, 0)
              val id = scrollSeq.incrementAndGet().toString
              scrolls.put(id, sc)
              page(ex, id, sc)
          }
        case ("POST", "_scroll") =>
          Option(scrolls.get(q("id"))) match {
            case None => reply(ex, 404, """{"error":"no such scroll"}""")
            case Some(sc) => page(ex, q("id"), sc)
          }
        case ("POST", "_bulk") => bulk(ex, ns, q("table"))
        case ("GET", "_count") =>
          Option(tables.get(key(ns, q("table")))) match {
            case None => reply(ex, 404, """{"error":"no such table"}""")
            case Some(t) => reply(ex, 200, s"""{"count":${t.synchronized(t.sources.size)}}""")
          }
        case ("GET", "_tables") =>
          val prefix = key(ns, "")
          val names = tables.keySet().asScala.toSeq.filter(_.startsWith(prefix))
            .map(k => "\"" + k.substring(prefix.length).replace("\"", "\\\"") + "\"").sorted
          reply(ex, 200, names.mkString("[", ",", "]"))
        case ("DELETE", "_table") =>
          reply(ex, if (tables.remove(key(ns, q("table"))) != null) 200 else 404, "{}")
        case _ => reply(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      case e: Exception => reply(ex, 500, s"""{"error":"${e.toString.replace("\"", "'")}"}""")
    } finally {
      ex.close()
      val ns = System.nanoTime() - t0
      busyNanos.addAndGet(ns)
      val op = ex.getRequestURI.getPath
      if (op.endsWith("/_search") || op.endsWith("/_scroll")) scanNanos.addAndGet(ns)
      else if (op.endsWith("/_bulk")) bulkNanos.addAndGet(ns)
    }
  }

  /** Next page of one slice: positions slice + slices*k for k in
    * [next, next+size), read straight out of the pre-serialized array.
    */
  private def page(ex: HttpExchange, scrollId: String, sc: Scroll): Unit = {
    val sb = new java.lang.StringBuilder(64 * 1024)
    val served = sc.table.synchronized {
      val n = sc.table.sources.size
      val sliceSize = if (n <= sc.slice) 0 else (n - sc.slice + sc.slices - 1) / sc.slices
      val end = math.min(sliceSize, sc.next + sc.size)
      sb.append("{\"_scroll_id\":\"").append(scrollId).append("\",\"hits\":{\"total\":")
        .append(sliceSize).append(",\"hits\":[")
      var k = sc.next
      while (k < end) {
        val pos = sc.slice + k * sc.slices
        if (k > sc.next) sb.append(',')
        sb.append("{\"_id\":\"").append(sc.table.ids(pos)).append("\",\"_source\":")
          .append(sc.table.sources(pos)).append('}')
        k += 1
      }
      sb.append("]}}")
      val servedNow = end - sc.next
      sc.next = end
      servedNow
    }
    // the empty page is the end-of-scroll signal; the context lives until then
    if (served == 0) scrolls.remove(scrollId)
    docsServed.addAndGet(served.toLong)
    reply(ex, 200, sb.toString)
  }

  private def bulk(ex: HttpExchange, ns: String, table: String): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val t = tables.computeIfAbsent(key(ns, table), _ => new Table)
    val out = new java.lang.StringBuilder(body.length / 4 + 64)
    out.append("{\"errors\":false,\"items\":[")
    var pos = 0
    var n = 0
    while (pos < body.length) {
      val actionEnd = body.indexOf('\n', pos)
      val srcEnd0 = body.indexOf('\n', actionEnd + 1)
      val srcEnd = if (srcEnd0 < 0) body.length else srcEnd0
      val action = body.substring(pos, actionEnd)
      val src = body.substring(actionEnd + 1, srcEnd)
      val idAt = action.indexOf("\"_id\":\"") + 7
      val id = action.substring(idAt, action.indexOf('"', idAt))
      t.synchronized {
        val prior = t.positions.get(id)
        if (prior == null) {
          t.positions.put(id, t.sources.size)
          t.ids += id
          t.sources += src
        } else {
          t.sources(prior.intValue) = src
          docsReposted.incrementAndGet()
        }
      }
      if (n > 0) out.append(',')
      out.append("{\"index\":{\"_id\":\"").append(id).append("\",\"status\":201}}")
      n += 1
      pos = srcEnd + 1
    }
    out.append("]}")
    docsPosted.addAndGet(n.toLong)
    reply(ex, 200, out.toString)
  }

  private def params(raw: String): Map[String, String] =
    if (raw == null) Map.empty
    else raw.split('&').toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) URLDecoder.decode(kv, StandardCharsets.UTF_8) -> ""
      else URLDecoder.decode(kv.substring(0, i), StandardCharsets.UTF_8) ->
        URLDecoder.decode(kv.substring(i + 1), StandardCharsets.UTF_8)
    }.toMap

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
}
