package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.finance.connector.SimplefinConnector

/** An in-process SimpleFIN server for `Jobs.ingestFleet`: it answers
  * `GET <base>/accounts?start-date=S&end-date=E` from the pages that
  * `gen.py` wrote, one connection per access URL. An account answers only
  * on the pulls inside its active range (a reconnected account stops, its
  * successor starts under a new account id), and a transaction is in a
  * chunk when `S <= transacted_at < E`. */
final class FakeSimplefin(pagesJson: String) extends SimplefinConnector.Transport {
  private implicit val formats: Formats = DefaultFormats

  private final case class Txn(id: String, posted: Long, transacted: Long, amount: String,
      description: String)
  private final case class Account(id: String, name: String, org: String, domain: String,
      firstPull: Int, lastPull: Int, txns: Vector[Txn])

  private val doc = JsonMethods.parse(pagesJson)
  /** host → accounts of that connection */
  private val connections: Map[String, Vector[Account]] =
    (doc \ "connections").children.map { c =>
      val accounts = (c \ "accounts").children.map { a =>
        Account((a \ "id").extract[String], (a \ "name").extract[String],
          (a \ "org").extract[String], (a \ "domain").extract[String],
          (a \ "first_pull").extract[Int], (a \ "last_pull").extract[Int],
          (a \ "transactions").children.map { t =>
            Txn((t \ "id").extract[String], (t \ "posted").extract[Long],
              (t \ "transacted_at").extract[Long], (t \ "amount").extract[String],
              (t \ "description").extract[String])
          }.toVector.sortBy(_.transacted))
      }.toVector
      (c \ "host").extract[String] -> accounts
    }.toMap

  val accessUrls: Seq[String] =
    connections.keys.toSeq.sorted.map(h => s"https://bench:secret@$h/simplefin")

  /** Index of the pull being served; set before each `ingestFleet` call. */
  @volatile var pull: Int = 0
  val calls = new AtomicLong(0)
  val servedBytes = new AtomicLong(0)

  def get(url: String, authHeader: String, timeoutMs: Int): (Int, String) = {
    calls.incrementAndGet()
    val u = new java.net.URI(url)
    val q = u.getRawQuery.split("&").map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val (start, end) = (q("start-date").toLong, q("end-date").toLong)
    val accounts = connections.getOrElse(u.getHost, Vector.empty)
      .filter(a => a.firstPull <= pull && pull <= a.lastPull)
    val body = JObject("errors" -> JArray(Nil), "accounts" -> JArray(accounts.map { a =>
      JObject(
        "id" -> JString(a.id), "name" -> JString(a.name),
        "org" -> JObject("name" -> JString(a.org), "domain" -> JString(a.domain)),
        "transactions" -> JArray(a.txns.filter(t => t.transacted >= start && t.transacted < end)
          .map { t =>
            JObject("id" -> JString(t.id), "posted" -> JLong(t.posted),
              "transacted_at" -> JLong(t.transacted), "amount" -> JString(t.amount),
              "description" -> JString(t.description), "pending" -> JBool(false))
          }.toList))
    }.toList))
    val text = JsonMethods.compact(JsonMethods.render(body))
    servedBytes.addAndGet(text.getBytes("UTF-8").length)
    (200, text)
  }
}
