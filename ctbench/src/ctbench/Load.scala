package ctbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.format.DateTimeFormatter
import java.time.{Duration, Instant, ZoneOffset}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The REST request mix, the answers the oracle expects, the closed-loop
  * clients and the `/stream` subscriber. */
object Load {
  val routes: Vector[String] = Vector("domain", "subdomains", "recent", "tld", "stats", "size")
  /** The route mix as one block of 20 requests (40/20/15/10/10/5 %);
    * each block is shuffled, so every run sends each route its share. */
  private val block = Vector("domain" -> 8, "subdomains" -> 4, "recent" -> 3, "tld" -> 2,
    "stats" -> 2, "size" -> 1).flatMap { case (r, n) => Vector.fill(n)(r) }

  final case class Req(route: String, path: String, key: String)
  final case class Done(route: String, ms: Double, status: Int, bytes: Int, error: Option[String])

  private val mapper = new ObjectMapper()
  val tsFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)
  def day(ms: Long): String = Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC).toLocalDate.toString

  /** What a store holds, as the oracle knows it.
    *
    * `exactTs` is set when the oracle knows every `ts` a certificate
    * landed under (one row per domain and ts): answers are then compared
    * exactly. Otherwise rows carry batch times only the engine knows;
    * every returned row must still be a corpus row (no wrong answer) and
    * every `sure` certificate must show wherever the answer is not
    * truncated. `days` are the dates `/stats` is asked for. */
  final class View(corpus: Seq[Corpus.Cert], sure: Set[String],
      exactTs: Option[Map[String, Seq[Long]]], val days: Vector[String], sizeBytes: Option[Long]) {
    private val sureCerts = corpus.filter(c => sure.contains(c.fingerprint))
    private def index(cs: Seq[Corpus.Cert]) =
      cs.flatMap(c => c.domains.map(d => d -> c)).groupBy(_._1).map { case (d, v) => d -> v.map(_._2) }
    private val byDomain = index(corpus)
    private val sureByDomain = index(sureCerts)
    private val baseOf: Map[String, String] = corpus.flatMap(_.base).toMap
    private def basesIndex(m: Map[String, Seq[Corpus.Cert]]) =
      m.keys.groupBy(baseOf).map { case (b, ds) => b -> ds.toSet }
    private val domainsByBase = basesIndex(byDomain)
    private val sureDomainsByBase = basesIndex(sureByDomain)
    /** Keys by popularity, most certificates first, for Zipf sampling. */
    val popularDomains: Vector[String] = byDomain.toVector.sortBy(kv => (-kv._2.size, kv._1)).map(_._1)
    val popularBases: Vector[String] = domainsByBase.toVector.sortBy(kv => (-kv._2.size, kv._1)).map(_._1)

    private def iso(ms: Long): String = tsFmt.format(Instant.ofEpochMilli(ms))

    def check(req: Req, body: String, nowMs: Long): Option[String] = {
      val js = mapper.readTree(body)
      def rows = js.elements().asScala.toVector
      def strs(r: JsonNode) = r.elements().asScala.map(_.asText).toVector
      req.route match {
        case "domain" =>
          val got = rows.map(strs)
          val d = req.key
          val bad = got.find(r => r(1) != d || !baseOf.get(d).contains(r(2)) ||
            !byDomain.getOrElse(d, Nil).exists(_.fingerprint == r(3)))
          if (bad.nonEmpty) return Some(s"row not in corpus: ${bad.get.take(4)}")
          exactTs match {
            case Some(ts) =>
              val want = byDomain.getOrElse(d, Nil).flatMap(c => ts(c.fingerprint).map(c.fingerprint -> _))
                .sortBy { case (fp, t) => (-t, fp) }.take(100).map { case (fp, t) => (fp, iso(t)) }
              val fps = got.map(r => (r(3), r(0)))
              if (fps != want) Some(s"rows ${fps.take(2)}.. != ${want.take(2)}..") else None
            case None =>
              val all = byDomain.getOrElse(d, Nil)
              val fps = got.map(_(3)).toSet
              if (all.size * 2 <= 100 && !sureByDomain.getOrElse(d, Nil).forall(c => fps(c.fingerprint)))
                Some(s"missing landed certificates for $d")
              else if (got.size > 100) Some("more than 100 rows") else None
          }
        case "subdomains" | "recent" =>
          val got = rows.map(strs)
          val ds = got.map(_(0))
          val all = domainsByBase.getOrElse(req.key, Set.empty)
          if (ds != ds.sorted || ds.distinct.size != ds.size) Some("not sorted distinct")
          else if (!ds.forall(all)) Some(s"domain outside base ${req.key}")
          else exactTs match {
            case Some(ts) =>
              val last = all.toVector.map(d => d -> byDomain(d).flatMap(c => ts(c.fingerprint)).max)
              val want =
                if (req.route == "subdomains") last.sortBy(_._1)
                else last.filter(_._2 > nowMs - 86400000L).sortBy(_._1)
              if (ds != want.map(_._1)) Some(s"domains ${ds.take(3)} != ${want.take(3).map(_._1)}")
              else if (req.route == "subdomains" &&
                got.map(_(1)) != want.map(w => iso(w._2)))
                Some("last_seen mismatch")
              else None
            case None =>
              // streamed rows carry batch times from this run: all recent
              val must = sureDomainsByBase.getOrElse(req.key, Set.empty)
              if (!must.forall(ds.toSet)) Some(s"missing landed domains of ${req.key}") else None
          }
        case "tld" =>
          val got = rows.map(strs)
          val ds = got.map(_(0))
          val suffix = "." + req.key
          val all = byDomain.keys.filter(_.endsWith(suffix))
          if (ds.exists(d => !d.endsWith(suffix) || !byDomain.contains(d))) Some("domain outside tld")
          else if (ds.distinct.size != ds.size || ds.size > 100) Some("duplicate or too many rows")
          else if (got.map(_(1)).zip(got.map(_(1)).drop(1)).exists { case (a, b) => a < b })
            Some("not ordered by last_seen desc")
          else exactTs match {
            case Some(ts) =>
              val want = all.toVector.map(d => d -> byDomain(d).flatMap(c => ts(c.fingerprint)).max)
                .sortBy(kv => (-kv._2, kv._1)).take(100).map(_._1)
              if (ds != want) Some(s"tld ${ds.take(3)} != ${want.take(3)}") else None
            case None =>
              val must = sureByDomain.keys.filter(_.endsWith(suffix))
              if (all.size <= 100 && !must.forall(ds.toSet)) Some("missing landed tld domains")
              else if (all.size > 100 && must.size >= 100 && ds.size != 100) Some("short tld page")
              else None
          }
        case "stats" =>
          val total = js.path("total").asLong(-1)
          val sub = js.path("subdomains").asLong(-1)
          val dom = js.path("domains").asLong(-1)
          def near(est: Long, exact: Int) = math.abs(est - exact) <= 0.15 * exact + 2
          exactTs match {
            case Some(ts) =>
              val ds = corpus.flatMap(c => ts(c.fingerprint).filter(t => day(t) == req.key)
                .flatMap(_ => c.domains))
              val want = ds.size
              if (total != want) Some(s"total $total != $want")
              else if (!near(sub, ds.distinct.size) || !near(dom, ds.map(baseOf).distinct.size))
                Some(s"distinct counts $sub/$dom outside the HLL++ bound")
              else None
            case None =>
              val keys = sureCerts.map(_.domains.size).sum
              val ds = corpus.flatMap(_.domains).distinct
              if (total < 0 || sub < 0 || dom < 0) Some("missing stats fields")
              else if (req.key == day(nowMs) && total < keys) Some(s"total $total below landed $keys")
              else if (sub > ds.size * 1.15 + 2) Some("more distinct domains than the corpus has")
              else None
          }
        case "size" =>
          val b = js.path("bytes").asLong(-1)
          if (b <= 0 || !js.path("human_readable").isTextual) Some(s"bad size $body")
          else sizeBytes.filter(_ != b).map(w => s"bytes $b != $w")
      }
    }

    /** A seeded request stream over this view's keys. */
    def requests(seed: Long, n: Int, missShare: Double = 0.1): Vector[Req] = {
      val r = new java.util.Random(seed ^ 0x7e57L)
      val zd = new Corpus.Zipf(popularDomains.size, 1.0)
      val zb = new Corpus.Zipf(popularBases.size, 1.0)
      val tlds = Corpus.suffixes
      val routes = Iterator.continually {
        val b = block.toArray
        (b.length - 1 to 1 by -1).foreach { i =>
          val j = r.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t }
        b.toVector
      }.flatten.take(n).toVector
      routes.map { route =>
        val miss = r.nextDouble() < missShare
        route match {
          case "domain" =>
            val d = if (miss) s"nx${r.nextInt(1 << 20)}q.example.org" else popularDomains(zd.sample(r))
            Req(route, s"/domain/$d", d)
          case "subdomains" | "recent" =>
            val b = if (miss) s"nx${r.nextInt(1 << 20)}q.org" else popularBases(zb.sample(r))
            Req(route, s"/$route/$b", b)
          case "tld" =>
            var v = r.nextDouble() * tlds.map(_._2).sum
            val t = tlds.find { case (_, w) => v -= w; v < 0 }.getOrElse(tlds.last)._1
            Req(route, s"/tld/$t", t)
          case "stats" =>
            val d = days(r.nextInt(days.size))
            Req(route, s"/stats?date=$d", d)
          case _ => Req(route, "/size", "")
        }
      }
    }
  }

  val client: HttpClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** `clients` closed-loop threads issuing `reqs` in order (wrapping)
    * against `base` until `stop`; returns every completed request. */
  def closedLoop(base: String, reqs: Vector[Req], clients: Int, view: View,
      stop: AtomicBoolean): (Vector[Done], Double) = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = new ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { i =>
      val t = new Thread(() => {
        while (!stop.get()) {
          val req = reqs(next.getAndIncrement() % reqs.size)
          val s = System.nanoTime()
          val done =
            try {
              val resp = client.send(HttpRequest.newBuilder(URI.create(base + req.path))
                .timeout(Duration.ofSeconds(60)).GET().build(), HttpResponse.BodyHandlers.ofString())
              val ms = (System.nanoTime() - s) / 1e6
              val body = resp.body()
              val err =
                if (resp.statusCode() / 100 != 2) Some(s"HTTP ${resp.statusCode()}: ${body.take(200)}")
                else try view.check(req, body, System.currentTimeMillis())
                catch { case e: Exception => Some(s"unreadable answer: $e") }
              Done(req.route, ms, resp.statusCode(), body.length, err)
            } catch {
              case e: Exception => Done(req.route, (System.nanoTime() - s) / 1e6, 0, 0, Some(e.toString))
            }
          out.add(done)
        }
      }, s"ctbench-client-$i")
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    (out.asScala.toVector, (System.nanoTime() - t0) / 1e6)
  }

  /** One `/stream` SSE subscriber recording each row's
    * (fingerprint, domain, log_name) and arrival time. */
  final class Subscriber(base: String) {
    final case class Row(fp: String, domain: String, log: String, atNanos: Long)
    val rows = new ConcurrentLinkedQueue[Row]()
    @volatile var closedEarly = false
    @volatile private var stopping = false
    @volatile private var in: java.io.InputStream = _
    private val thread = new Thread(() => {
      try {
        val resp = client.send(HttpRequest.newBuilder(URI.create(base + "/stream")).GET().build(),
          HttpResponse.BodyHandlers.ofInputStream())
        in = resp.body()
        if (resp.statusCode() != 200) closedEarly = true
        else {
          val rd = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
          var line = rd.readLine()
          while (line != null) {
            if (line.startsWith("data: ")) {
              val a = mapper.readTree(line.substring(6))
              rows.add(Row(a.get(3).asText, a.get(1).asText, a.get(9).asText, System.nanoTime()))
            }
            line = rd.readLine()
          }
          if (!stopping) closedEarly = true // the server ended the stream
        }
      } catch { case _: Exception => if (!stopping) closedEarly = true }
    }, "ctbench-sse")
    thread.setDaemon(true)
    thread.start()

    def close(): Unit = {
      stopping = true
      try Option(in).foreach(_.close()) catch { case _: Exception => () }
      thread.interrupt()
      thread.join(10000)
    }
  }
}
