package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.json4s._
import org.json4s.jackson.JsonMethods

/** One finished request as the client saw it; `warm` marks the unmeasured
  * warm-up block. */
final case class Op(kind: String, route: String, startNs: Long, endNs: Long, ok: Boolean, err: String,
    warm: Boolean)

/** An acknowledged edit of `user_categories`: after the run the stored row
  * must hold the value of the last acknowledgement per (id, field). */
final case class Ack(atNs: Long, id: String, field: String, value: String)

/** Closed-loop HTTP clients: each sends its next request only after the
  * previous reply, with no think time. 80% reads across the list routes
  * with varied view modes, sorts, pages and searches, 20% single-row edits
  * over a Zipf-skewed id pool. Every reply is checked: expected status, parseable JSON, and pages
  * no longer than the requested limit. */
final class ApiClients(port: Int, seed: Long, pool: IndexedSeq[String],
    categories: IndexedSeq[String], searchTerms: IndexedSeq[String]) {
  private val ops = new ConcurrentLinkedQueue[Op]()
  private val acks = new ConcurrentLinkedQueue[Ack]()
  private val base = s"http://127.0.0.1:$port"

  // Zipf(1.1) over the pool: a few ids take most edits
  private val zipfCdf: Array[Double] = {
    val w = pool.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def pick(r: Random): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    pool(math.min(pool.size - 1, if (i >= 0) i else -i - 1))
  }

  private final case class Req(kind: String, route: String, method: String, path: String,
      body: String, limit: Int, ack: Option[(String, String, String)])

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  private sealed trait Shape
  private final case class Read(route: String, path: String, limit: Int, search: Boolean) extends Shape
  private final case class Edit(route: String) extends Shape

  private def page(mode: String, sort: String, dir: String, limit: Int, offset: Int,
      search: Boolean = false) = Read("transactions",
    s"/api/transactions?view_mode=$mode&sort_by=$sort&sort_order=$dir&limit=$limit&offset=$offset",
    limit, search)
  private def plain(route: String, path: String, limit: Int = -1) = Read(route, path, limit, search = false)

  /** One block: 20 requests, 80% reads and 20% single-row edits. The shapes
    * are fixed, so every run and seed asks the same work of the server; the
    * seed picks their order, the search terms, and the edits' ids and
    * values. */
  private val Block: IndexedSeq[Shape] = IndexedSeq(
    page("all", "transacted_date", "desc", 50, 0),
    page("all", "prediction_confidence", "asc", 100, 100),
    page("all", "transacted_date", "desc", 25, 75, search = true),
    page("unvalidated_predicted", "transacted_date", "desc", 25, 0),
    page("unvalidated_predicted", "prediction_confidence", "desc", 50, 50, search = true),
    page("unvalidated_unpredicted", "transacted_date", "asc", 50, 0),
    page("unvalidated_unpredicted", "prediction_confidence", "desc", 25, 25),
    page("validated", "transacted_date", "desc", 100, 0),
    page("validated", "prediction_confidence", "asc", 50, 0, search = true),
    plain("validated", "/api/validated-transactions?limit=50&offset=0", 50),
    plain("validated", "/api/validated-transactions?limit=100&offset=100", 100),
    plain("categories_list", "/api/transactions/categories/list"),
    plain("categories_list", "/api/transactions/categories/list"),
    plain("connections", "/api/control-center/connections"),
    plain("categories", "/api/categories"),
    plain("categories", "/api/categories"),
    Edit("categorize"), Edit("categorize"), Edit("validate"), Edit("notes"))

  private val order = new Random(seed * 7919L).shuffle(Block)

  /** Request `i` of the run. Every block repeats the seed's 20 requests, so
    * after one unmeasured block the server has compiled every query shape
    * the measured blocks send: what is measured is a warm server, as a
    * long-lived one is. */
  private def request(i: Int): Req = {
    val r = new Random(seed * 1000003L + i % Block.size)
    order(i % Block.size) match {
      case Read(route, path, limit, search) =>
        val q = if (search) s"&description_search=${enc(searchTerms(r.nextInt(searchTerms.size)))}" else ""
        Req("read", route, "GET", path + q, null, limit, None)
      case Edit("categorize") =>
        val id = pick(r); val c = categories(r.nextInt(categories.size))
        Req("write", "categorize", "POST", s"/api/transactions/$id/categorize",
          s"""{"master_category":"$c"}""", -1, Some((id, "master_category", c)))
      case Edit("validate") =>
        val id = pick(r); val v = r.nextDouble() < 0.7
        Req("write", "validate", "PUT", s"/api/transactions/$id/validate",
          s"""{"validated":$v}""", -1, Some((id, "validated", v.toString)))
      case Edit(_) =>
        val id = pick(r); val n = s"note-${r.nextInt(1000000)}"
        Req("write", "notes", "PUT", s"/api/transactions/$id/notes",
          s"""{"notes":"$n"}""", -1, Some((id, "notes", n)))
    }
  }

  private def check(req: Req, status: Int, body: String): String = {
    if (status != 200) return s"status $status"
    val json = try JsonMethods.parse(body) catch { case _: Exception => return "unparseable body" }
    if (req.limit > 0) json \ "transactions" match {
      case JArray(rows) if rows.size <= req.limit => null
      case JArray(rows) => s"page of ${rows.size} rows over limit ${req.limit}"
      case _ => "no transactions array"
    } else null
  }

  private var nextIndex = 0
  private var closed = false

  /** The next request index, or None once the deadline has passed at a
    * block boundary: the run ends on whole blocks, at least one. */
  private def take(deadlineNs: Long): Option[Int] = synchronized {
    if (!closed && nextIndex % Block.size == 0 && nextIndex > 0 && System.nanoTime() >= deadlineNs)
      closed = true
    if (closed) None else { nextIndex += 1; Some(nextIndex - 1) }
  }

  @volatile private var warm = false

  /** One unmeasured block: its replies are checked and its edits count as
    * acknowledged; its ops are marked `warm`. */
  def warmUp(clients: Int): Unit = {
    warm = true
    run(clients, deadlineNs = 0L)
    synchronized { nextIndex = 0; closed = false }
    warm = false
  }

  /** Run `clients` closed loops until `deadlineNs` and the end of a block. */
  def run(clients: Int, deadlineNs: Long): Unit = {
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        var i = take(deadlineNs)
        while (i.isDefined) {
          val req = request(i.get)
          val b = HttpRequest.newBuilder(URI.create(base + req.path))
            .timeout(java.time.Duration.ofSeconds(60))
          val built = req.method match {
            case "GET" => b.GET().build()
            case m => b.header("Content-Type", "application/json")
              .method(m, HttpRequest.BodyPublishers.ofString(req.body)).build()
          }
          val t0 = System.nanoTime()
          val (status, body, exc) =
            try { val resp = http.send(built, HttpResponse.BodyHandlers.ofString()); (resp.statusCode(), resp.body(), null) }
            catch { case e: Exception => (-1, "", e.toString) }
          val t1 = System.nanoTime()
          val err = if (exc != null) exc else check(req, status, body)
          ops.add(Op(req.kind, req.route, t0, t1, err == null, err, warm))
          if (err == null) req.ack.foreach { case (id, f, v) => acks.add(Ack(t1, id, f, v)) }
          i = take(deadlineNs)
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def allOps: Seq[Op] = ops.asScala.toSeq
  def allAcks: Seq[Ack] = acks.asScala.toSeq
}
