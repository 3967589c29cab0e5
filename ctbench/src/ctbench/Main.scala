package ctbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ct.{CertStore, CtQueries, Server, StreamIngest}

/** The CT-path benchmark: synthetic CT logs served over HTTP → the DSv2
  * source → `IngestPipeline` → `CertStore` → `Server`'s REST routes and
  * `/stream`, driven through the product's own entry points with their
  * default settings.
  *
  * Workloads:
  *  - `serve`: set-up drains a fixed backlog with `Trigger.AvailableNow`,
  *    each micro-batch stamped one month apart (one sorted file set per
  *    month); then 4 closed-loop clients and a late `/stream` subscriber
  *    read the store with ingest idle.
  *  - `live`: the logs' tree heads grow with time at a fixed rate (open
  *    loop), `StreamIngest` tails them with its default trigger, one
  *    `/stream` subscriber times every entry from its due time, and 2
  *    closed-loop clients read the growing store.
  *
  * Both workloads report every end-to-end metric: on `serve`, `fresh_*`
  * is the late subscriber's catch-up (the time from its connect to each
  * of its first rows) and `ingest_rows_per_s` is the set-up drains' rate.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      tiny: Boolean, workdir: Path)

  /** Input sizes. `batch` is the DSv2 source's default per-log cap. */
  final case class Size(bases: Int, months: Int,
      liveRatePerLog: Double, liveSeedPerLog: Int, catchUpRows: Int, setups: Int, warmSeconds: Double)
  val full = Size(bases = 2000, months = 3,
    liveRatePerLog = 20, liveSeedPerLog = 64, catchUpRows = 3000, setups = 3, warmSeconds = 3)
  val tiny = Size(bases = 40, months = 2,
    liveRatePerLog = 10, liveSeedPerLog = 8, catchUpRows = 50, setups = 2, warmSeconds = 1)
  val batch = graft.ct.Ingestor.BatchSize

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", sys.error("--workload is required"))
    require(Set("serve", "live")(w), s"unknown workload $w")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", m.getOrElse("size", "full") == "tiny",
      Paths.get(m.getOrElse("workdir", "ctbench/.work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.workdir)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("ctbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.workdir.resolve("warehouse").toString)
      .config("spark.local.dir", a.workdir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        val r = new Run(spark, a, if (a.tiny) tiny else full)
        r.go()
        r.report()
        0
      } catch { case e: Throwable => e.printStackTrace(); 2 }
      finally { spark.streams.active.foreach(_.stop()); spark.stop() }
    System.exit(code)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  def parquetBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    finally s.close()
  }
}


final class Run(spark: SparkSession, a: Main.Args, size: Main.Size) {
  import Main._

  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val info = mutable.ArrayBuffer.empty[String]
  private val trace: Option[Trace] = if (a.trace) Some(new Trace(spark)) else None
  private var dirs = 0
  private val certByFp = mutable.Map.empty[String, Corpus.Cert]

  // what the traced sections saw, beside the listeners' own records
  private var logsNow: Seq[FakeLog] = Nil
  private var fakeBusyNs, fakeBytes, parses, tracedNs = 0L
  private var sseRows = 0L
  private val overhead = mutable.LinkedHashMap.empty[String, (Double, Double)] // untraced, traced
  private var httpTraced = Vector.empty[Load.Done]
  private var replayed = Vector.empty[(String, Double, Int)]

  private def gate(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (errors.size < 20) errors += msg }
  }
  private def freshDir(tag: String): Path = { dirs += 1; a.workdir.resolve(s"$tag-$dirs") }
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def sleeper(seconds: Double, stop: AtomicBoolean): Thread = {
    val t = new Thread(() => { Thread.sleep((seconds * 1000).toLong); stop.set(true) })
    t.setDaemon(true); t.start(); t
  }

  /** Run `body` with the trace listeners attached when `on` (and this is
    * the traced run); count the fake logs' work and the parser's calls. */
  private def traced[T](on: Boolean)(body: => T): T = trace match {
    case Some(t) if on =>
      val busy0 = logsNow.map(_.busyNanos.get).sum
      val bytes0 = logsNow.map(_.bytesOut.get).sum
      val p0 = graft.ct.CertParser.parseInvocations.get
      val w0 = System.nanoTime()
      t.attach()
      try body
      finally {
        tracedNs += System.nanoTime() - w0
        fakeBusyNs += logsNow.map(_.busyNanos.get).sum - busy0
        fakeBytes += logsNow.map(_.bytesOut.get).sum - bytes0
        parses += graft.ct.CertParser.parseInvocations.get - p0
        t.detach()
      }
    case _ => body
  }

  private def watch(logs: Seq[FakeLog], entries: Vector[Vector[Corpus.Entry]]): Unit = {
    logsNow = logs
    val byName = logs.map(_.name).zip(entries).toMap
    trace.foreach(_.domainsAt = (log, i) =>
      byName.get(log).flatMap(_.lift(i.toInt)).flatMap(_.cert).map(_.domains.size).getOrElse(0))
  }

  /** Source options: the DSv2 source's default batch size and per-trigger
    * cap; the traced run routes fetches through its timing wrapper. */
  private def options(logs: Seq[FakeLog]): Map[String, String] =
    Map("loglist" -> FakeLog.logList(logs)) ++ trace.map(t => "sourcekey" -> t.sourceKey)

  /** Run `mk` `size.setups` times, keep the last, report the median time. */
  private def setups[T](mk: Int => T)(dispose: T => Unit): T = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (0 until size.setups).foreach { i =>
      last.foreach(dispose)
      val t0 = System.nanoTime()
      last = Some(mk(i))
      times += secs(t0)
    }
    e2e("setup_s") = (Stats.median(times.toSeq), "s")
    info += f"setup_s samples: ${times.map(t => f"$t%.3f").mkString(" ")}"
    last.get
  }

  private def startLogs(entries: Vector[Vector[Corpus.Entry]], head: Vector[Corpus.Entry] => Long => Long) =
    entries.zipWithIndex.map { case (es, j) => new FakeLog(s"bench-log-$j", es, head(es)) }

  /** Drain every log to its head with `Trigger.AvailableNow`; rows/s. */
  private def drain(logs: Seq[FakeLog], store: Path, ckpt: Path,
      ingestTs: () => Timestamp = () => new Timestamp(System.currentTimeMillis())): Double = {
    val t0 = System.nanoTime()
    StreamIngest.start(spark, options(logs), store.toString, ckpt.toString, ingestTs,
      Trigger.AvailableNow()).awaitTermination()
    val s = secs(t0)
    CertStore.read(spark, store.toString).count() / s
  }

  private def storeKeys(store: Path): Set[(String, String, String)] =
    CertStore.read(spark, store.toString).select("fingerprint", "domain", "base_domain").distinct()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private def server(store: Path): Server = {
    val read = () => CertStore.read(spark, store.toString)
    new Server(spark, trace.map(_.timedTable(read)).getOrElse(read), store.toString).start()
  }

  // ------------------------------------------------------------------- serve
  private def serve(): Unit = {
    val shape = Corpus.Shape(perLog = size.months * batch, bases = size.bases)
    // micro-batch k of the drain is stamped k months before the last,
    // which lands 1 h ago: one sorted file set per month, and /recent
    // sees exactly the newest batch
    val now = System.currentTimeMillis() / 1000 * 1000
    val stamps = (0 until size.months).map { k =>
      val back = size.months - 1 - k
      if (back == 0) now - 3600000L
      else java.time.ZonedDateTime.ofInstant(java.time.Instant.ofEpochMilli(now), java.time.ZoneOffset.UTC)
        .withDayOfMonth(1).withHour(12).withMinute(0).withSecond(0).withNano(0)
        .minusMonths(back).toInstant.toEpochMilli
    }
    val rates = mutable.ArrayBuffer.empty[Double]
    val (logs, certs, entries, store) = setups { i =>
      val (entries, certs) = Corpus.generate(a.seed, shape)
      certs.foreach(c => certByFp(c.fingerprint) = c)
      val logs = startLogs(entries, es => _ => es.size.toLong)
      watch(logs, entries)
      val store = freshDir("store")
      val k = new java.util.concurrent.atomic.AtomicInteger(0)
      rates += traced(i == size.setups - 1)(drain(logs, store, freshDir("ckpt"),
        () => new Timestamp(stamps(math.min(k.getAndIncrement(), stamps.size - 1)))))
      (logs, certs, entries, store)
    } { case (logs, _, _, store) => logs.foreach(_.stop()); deleteTree(store) }
    e2e("ingest_rows_per_s") = (Stats.median(rates.toSeq), "rows/s")
    overhead("ingest_rows_per_s") = (rates(rates.size - 2), rates.last)
    // a certificate lands once per micro-batch holding one of its entries
    // (micro-batch k covers entries [k * batch, (k + 1) * batch) of every
    // log; the dedup is per micro-batch)
    val ts: Map[String, Seq[Long]] = entries.flatMap(_.zipWithIndex.collect {
      case (Corpus.Entry(_, Some(c)), i) => c.fingerprint -> i / batch
    }).groupBy(_._1).map { case (fp, v) =>
      fp -> v.map(_._2).distinct.map(k => stamps(math.min(k, stamps.size - 1)))
    }
    val rows = certs.map(c => c.domains.size * ts(c.fingerprint).size).sum
    val got = CertStore.read(spark, store.toString).count()
    gate(got == rows, s"serve store rows $got != oracle $rows")
    gate(storeKeys(store) == Corpus.keys(certs), "serve store keys differ from the oracle's")
    val bytes = parquetBytes(store)
    info += f"serve store: $rows rows, ${size.months} months, $bytes bytes, ${certs.size} certificates"
    val view = new Load.View(certs, certs.map(_.fingerprint).toSet, Some(ts),
      stamps.map(Load.day).distinct.toVector, Some(bytes))
    readPhase(store, view, 4, a.seconds)
    finish(store, entries)
    logs.foreach(_.stop())
  }

  private final case class Measured(done: Vector[Load.Done], wallMs: Double, fresh: Seq[Double], sse: Int)

  /** Closed-loop REST clients plus a late `/stream` subscriber over a
    * store nothing writes to. The traced run measures an untraced and a
    * traced half, then replays the request stream directly. */
  private def readPhase(store: Path, view: Load.View, clients: Int, seconds: Double): Unit = {
    val srv = server(store)
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      val reqs = view.requests(a.seed, 20000)
      warm(base, view, clients)
      def measure(seconds: Double): Measured = {
        val stop = new AtomicBoolean(false)
        val sub = new Load.Subscriber(base)
        val t0 = System.nanoTime()
        val timer = sleeper(seconds, stop)
        val (done, wallMs) = Load.closedLoop(base, reqs, clients, view, stop)
        timer.join()
        // the catch-up sample: the subscriber's first rows, oldest first
        val deadline = System.nanoTime() + 60L * 1000000000L
        val enough = math.min(size.catchUpRows, CertStore.read(spark, store.toString).count().toInt)
        while (sub.rows.size < enough && !sub.closedEarly && System.nanoTime() < deadline) Thread.sleep(20)
        sub.close()
        val rows = sub.rows.asScala.toVector.take(enough)
        gate(rows.size == enough && !sub.closedEarly,
          s"late subscriber got ${rows.size}/$enough rows (closed early: ${sub.closedEarly})")
        checkStreamRows(rows.map(r => (r.fp, r.domain, r.log)))
        Measured(done, wallMs, rows.map(r => (r.atNanos - t0) / 1e6), rows.size)
      }
      if (trace.isEmpty) {
        val m = measure(seconds)
        fresh(m.fresh)
        queries(m.done, m.wallMs, "read phase")
      } else {
        val plain = measure(seconds * 0.35)
        queries(plain.done, plain.wallMs, "untraced half")
        val t = traced(true) {
          val m = measure(seconds * 0.35)
          replayed = replay(store, reqs, clients, seconds * 0.3)
          m
        }
        queries(t.done, t.wallMs, "traced half")
        httpTraced = t.done
        sseRows = t.sse
        overhead("query_p50_ms") = (Stats.median(plain.done.map(_.ms)), Stats.median(t.done.map(_.ms)))
        overhead("fresh_p50_ms") = (Stats.median(plain.fresh), Stats.median(t.fresh))
      }
    } finally srv.stop()
  }

  /** Untimed closed-loop traffic so the timed requests run on warm code. */
  private def warm(base: String, view: Load.View, clients: Int): Unit = {
    val stop = new AtomicBoolean(false)
    val timer = sleeper(size.warmSeconds, stop)
    Load.closedLoop(base, view.requests(a.seed + 1, 1000), clients, view, stop)
    timer.join()
  }

  /** The request stream called directly — `CertStore.read` + `CtQueries` +
    * `collect()` — on `threads` threads, every tenth call a `/stream`
    * poll; each query's jobs carry its route as a local property. */
  private def replay(store: Path, reqs: Vector[Load.Req], threads: Int,
      seconds: Double): Vector[(String, Double, Int)] = {
    val t = trace.get
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Int)]()
    val stop = new AtomicBoolean(false)
    val timer = sleeper(seconds, stop)
    val ths = (0 until threads).map { _ =>
      val th = new Thread(() => {
        while (!stop.get()) {
          val i = next.getAndIncrement()
          val req = if (i % 10 == 9) Load.Req("stream", "", "") else reqs(i % reqs.size)
          val s0 = System.nanoTime()
          val n =
            if (req.route == "size") { CertStore.sizeBytes(spark, store.toString); 1 }
            else {
              spark.sparkContext.setLocalProperty(t.routeKey, req.route)
              val table = CertStore.read(spark, store.toString)
              val df = req.route match {
                case "domain" => CtQueries.domainLookup(table, req.key)
                case "subdomains" => CtQueries.subdomains(table, req.key)
                case "recent" => CtQueries.recent(table, req.key, new Timestamp(System.currentTimeMillis()))
                case "tld" => CtQueries.tldTopk(table, req.key)
                case "stats" => CtQueries.stats(table, java.sql.Date.valueOf(req.key))
                case _ => CtQueries.streamTailAfter(table, new Timestamp(0L), "", "", "", 100)
              }
              t.tagQuery(df.queryExecution, req.route)
              df.collect().length
            }
          out.add((req.route, (System.nanoTime() - s0) / 1e6, n))
        }
        spark.sparkContext.setLocalProperty(t.routeKey, null)
      }, "ctbench-replay")
      th.start(); th
    }
    ths.foreach(_.join())
    timer.join()
    out.asScala.toVector
  }

  /** No stream row twice, and every row a corpus (fingerprint, domain). */
  private def checkStreamRows(rows: Seq[(String, String, String)]): Unit = {
    val dup = rows.size - rows.distinct.size
    gate(dup == 0, s"/stream delivered $dup duplicate rows")
    val unknown = rows.count { case (fp, d, _) => !certByFp.get(fp).exists(_.domains.contains(d)) }
    gate(unknown == 0, s"/stream delivered $unknown rows not in the corpus")
  }

  private def fresh(ms: Seq[Double]): Unit = {
    e2e("fresh_p50_ms") = (Stats.median(ms), "ms")
    e2e("fresh_p99_ms") = (Stats.quantile(ms, 0.99), "ms")
    val (p, v) = Stats.tail(ms)
    info += f"fresh: n=${ms.size}, p50=${Stats.median(ms)}%.1f ms, tail p$p%.1f=$v%.1f ms"
  }

  private def queries(done: Vector[Load.Done], wallMs: Double, label: String): Unit = {
    done.foreach(d => gate(d.error.isEmpty, s"/${d.route}: ${d.error.getOrElse("")}"))
    val ms = done.map(_.ms)
    e2e("query_per_s") = (done.size / (wallMs / 1000), "1/s")
    e2e("query_p50_ms") = (Stats.median(ms), "ms")
    e2e("query_p90_ms") = (Stats.quantile(ms, 0.9), "ms")
    val (p, v) = Stats.tail(ms)
    info += f"queries ($label): n=${done.size}, ${done.size / (wallMs / 1000)}%.2f/s, " +
      f"p50=${Stats.median(ms)}%.1f ms, tail p$p%.1f=$v%.1f ms"
    Load.routes.foreach { r =>
      val rm = done.filter(_.route == r).map(_.ms)
      info += f"  route $r: n=${rm.size}, p50=${Stats.median(rm)}%.2f ms"
    }
  }

  // -------------------------------------------------------------------- live
  private def live(): Unit = {
    val rate = size.liveRatePerLog
    val seed = size.liveSeedPerLog
    val perLog = seed + (rate * (a.seconds + 2)).toInt
    val shape = Corpus.Shape(perLog = perLog, bases = size.bases)
    final case class Live(logs: Vector[FakeLog], entries: Vector[Vector[Corpus.Entry]],
        certs: Vector[Corpus.Cert], store: Path, ckpt: Path, srv: Server, sub: Load.Subscriber)
    val s = setups { _ =>
      val (entries, certs) = Corpus.generate(a.seed, shape)
      certs.foreach(c => certByFp(c.fingerprint) = c)
      val logs = startLogs(entries, es => _ => math.min(seed, es.size).toLong)
      val store = freshDir("store")
      val ckpt = freshDir("ckpt")
      drain(logs, store, ckpt)
      val srv = server(store)
      val sub = new Load.Subscriber(s"http://127.0.0.1:${srv.boundPort}")
      val want = seeded(entries, seed).flatMap(c => c.domains.map(c.fingerprint -> _)).toSet
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!want.subsetOf(sub.rows.asScala.map(r => r.fp -> r.domain).toSet) &&
        !sub.closedEarly && System.nanoTime() < deadline) Thread.sleep(50)
      Live(logs, entries, certs, store, ckpt, srv, sub)
    } { l => l.sub.close(); l.srv.stop(); l.logs.foreach(_.stop()) }
    watch(s.logs, s.entries)
    val seededFps = seeded(s.entries, seed).map(_.fingerprint).toSet
    val seenBefore = s.sub.rows.size
    gate(seededFps.forall(fp => s.sub.rows.asScala.exists(_.fp == fp)), "seed rows missing from /stream")
    val base = s"http://127.0.0.1:${s.srv.boundPort}"
    val view = new Load.View(s.certs, seededFps, None, Vector(Load.day(System.currentTimeMillis())), None)
    warm(base, view, 2)
    // the trigger fires on multiples of its interval since the epoch:
    // start on one, so every run's micro-batches fall alike in the window
    Thread.sleep(5000L - System.currentTimeMillis() % 5000L)

    // open loop: entry seed + k of every log is due at t0 + k / rate
    val t0 = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    val cut = (rate * a.seconds).toLong
    s.logs.foreach(_.head = t => seed + math.min(cut, ((t - t0) / 1e9 * rate).toLong))
    val q: StreamingQuery = StreamIngest.start(spark, options(s.logs), s.store.toString, s.ckpt.toString)
    val reqs = view.requests(a.seed, 20000)
    def clients(seconds: Double, n: Int = 2) = {
      val stop = new AtomicBoolean(false)
      val timer = sleeper(seconds, stop)
      val r = Load.closedLoop(base, reqs, n, view, stop)
      timer.join()
      r
    }
    val due = mutable.Map.empty[String, Long]
    s.entries.foreach(_.zipWithIndex.foreach {
      case (Corpus.Entry(_, Some(c)), i) if i >= seed && i < seed + cut && !seededFps(c.fingerprint) =>
        val at = t0 + ((i - seed) / rate * 1e9).toLong
        due(c.fingerprint) = math.min(at, due.getOrElse(c.fingerprint, Long.MaxValue))
      case _ => ()
    })
    val want = due.keys.flatMap(fp => certByFp(fp).domains.map(fp -> _)).toSet
    def settle(): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      def seen = s.sub.rows.asScala.iterator.map(r => r.fp -> r.domain).toSet
      while (!want.subsetOf(seen) && !s.sub.closedEarly && System.nanoTime() < deadline) Thread.sleep(100)
    }
    val half = t0 + (a.seconds * 0.5e9).toLong
    val (done, wallMs) =
      if (trace.isEmpty) { val r = clients(a.seconds); settle(); r }
      else {
        val plain = clients(a.seconds * 0.5)
        queries(plain._1, plain._2, "untraced half")
        val rows0 = s.sub.rows.size
        val r = traced(true) {
          val r = clients(a.seconds * 0.5)
          replayed = replay(s.store, reqs, 2, a.seconds * 0.3)
          settle()
          r
        }
        sseRows = s.sub.rows.size - rows0
        httpTraced = r._1
        overhead("query_p50_ms") = (Stats.median(plain._1.map(_.ms)), Stats.median(r._1.map(_.ms)))
        r
      }
    // the ingest rate while busy: landed rows over the summed trigger
    // time of the query's own progress reports (no listener needed),
    // leaving out the window's first micro-batch, which holds only the
    // entries due at its start
    val progress = q.recentProgress.toSeq
    val busy = progress.filter(_.numInputRows > 0).drop(1)
      .map(p => (java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        p.durationMs.getOrDefault("triggerExecution", 0L).longValue))
    q.stop()
    s.sub.close()
    // the gated query figures: 4 clients over the store as the tail left
    // it, ingest stopped (beside ingest they spread too widely for a
    // short run; the window's own figures are printed above them)
    queries(done, wallMs, "window")
    val after = if (trace.isEmpty) Some(clients(a.seconds * 0.5, 4)) else None
    s.srv.stop()
    val rows = s.sub.rows.asScala.toVector
    gate(!s.sub.closedEarly, "/stream closed early")
    val missing = (want -- rows.map(r => r.fp -> r.domain)).size
    attempted += due.size
    if (missing > 0) { failed += missing; errors += s"$missing due (fingerprint, domain) rows never reached /stream" }
    checkStreamRows(rows.map(r => (r.fp, r.domain, r.log)))
    val first = mutable.Map.empty[String, Long]
    rows.drop(seenBefore).foreach(r => if (!first.contains(r.fp)) first(r.fp) = r.atNanos)
    val lat = due.toSeq.flatMap { case (fp, at) => first.get(fp).map(f => (at, (f - at) / 1e6)) }
    fresh(lat.map(_._2))
    overhead("fresh_p50_ms") = (Stats.median(lat.filter(_._1 < half).map(_._2)),
      Stats.median(lat.filter(_._1 >= half).map(_._2)))
    val landed = CertStore.read(spark, s.store.toString).filter(col("ts") >= new Timestamp(wall0)).count()
    val rowsPerEntry = landed.toDouble / math.max(1L, progress.map(_.numInputRows).sum)
    def busyRate(bs: Seq[(Long, Long, Long)]) = bs.map(_._2).sum * rowsPerEntry / (bs.map(_._3).sum / 1e3)
    // delivered throughput at the offered rate: every due row landed
    e2e("ingest_rows_per_s") = (landed / a.seconds.toDouble, "rows/s")
    info += f"live ingest while busy: ${busyRate(busy.toSeq)}%.0f rows/s"
    val (firstHalf, secondHalf) = busy.toSeq.partition(_._1 < wall0 + a.seconds * 500L)
    overhead("ingest_rows_per_s") = (busyRate(firstHalf), busyRate(secondHalf))
    val keys = storeKeys(s.store)
    val corpus = Corpus.keys(s.certs)
    gate(keys.subsetOf(corpus), s"live store has ${(keys -- corpus).size} keys outside the corpus")
    info += f"live: ${rate * 4}%.0f entries/s offered for ${a.seconds} s, ${due.size} due certificates, " +
      s"$landed rows landed in ${busy.size} micro-batches"
    after.foreach { case (d, w) => queries(d, w, "after the window") }
    finish(s.store, s.entries)
    s.logs.foreach(_.stop())
  }

  private def seeded(entries: Vector[Vector[Corpus.Entry]], seed: Int): Vector[Corpus.Cert] =
    entries.flatMap(_.take(seed).flatMap(_.cert)).distinct

  // --------------------------------------------------------------- per layer
  /** The traced run's per-layer metrics; layers a workload leaves idle
    * read 0. */
  private def finish(store: Path, entries: Vector[Vector[Corpus.Entry]]): Unit = trace.foreach { t =>
    t.close()
    def put(k: String, v: Double, unit: String): Unit = layer(k) = (if (v.isNaN || v.isInfinite) 0.0 else v, unit)
    def med(xs: Iterable[Double]) = Stats.median(xs.toSeq)
    val fetched = t.entriesFetched.get.toDouble
    put("CtHttpSource.sth_calls", t.sthCalls.get, "count")
    put("CtHttpSource.entries_calls", t.entriesCalls.get, "count")
    put("CtHttpSource.entries_ms", t.entriesNs.get / 1e6 / t.entriesCalls.get, "ms")
    put("CtHttpSource.entries_per_call", fetched / t.entriesCalls.get, "count")
    put("CtHttpSource.errors", t.fetchErrors.get, "count")
    put("fakelog.busy_ms", fakeBusyNs / 1e6, "ms")
    put("fakelog.bytes_out", fakeBytes, "bytes")

    val bs = t.batches.asScala.toVector
    def d(k: String) = med(bs.map(_.durations.getOrElse(k, 0L).toDouble))
    put("StreamIngest.batches", bs.size, "count")
    put("StreamIngest.rows_per_batch_p50", med(bs.map(_.rows.toDouble)), "count")
    put("StreamIngest.latest_offset_ms", d("latestOffset"), "ms")
    put("StreamIngest.planning_ms", d("queryPlanning"), "ms")
    put("StreamIngest.add_batch_ms", d("addBatch"), "ms")
    put("StreamIngest.wal_commit_ms", d("walCommit"), "ms")
    put("StreamIngest.trigger_ms_p50", d("triggerExecution"), "ms")
    put("StreamIngest.lag_entries_max", if (bs.isEmpty) 0.0 else bs.map(_.lag).max.toDouble, "count")
    put("StreamIngest.lag_entries_end", bs.lastOption.map(_.lag.toDouble).getOrElse(0.0), "count")

    // one thread over the workload's own leaves and domains
    val leaves = entries.flatten.map(e => java.util.Base64.getDecoder.decode(e.leafB64))
    val p0 = System.nanoTime()
    val parsed = leaves.map(graft.ct.CertParser.parseLeaf)
    val parseNs = System.nanoTime() - p0
    val domains = parsed.filter(_ != null).flatMap(_.domains)
    val s0 = System.nanoTime()
    domains.foreach(graft.ct.PublicSuffix.baseDomain)
    val pslNs = System.nanoTime() - s0
    put("CertParser.invocations_per_entry", parses / fetched, "ratio")
    put("CertParser.drop_frac", parsed.count(_ == null).toDouble / leaves.size, "ratio")
    put("CertParser.us_per_leaf", parseNs / 1e3 / leaves.size, "us")
    put("PublicSuffix.us_per_domain", pslNs / 1e3 / domains.size, "us")

    val ws = t.writes.asScala.toVector
    val written = ws.map(_.rows).sum.toDouble
    val busyS = bs.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3
    val oneThread = domains.size / ((parseNs + pslNs) / 1e9)
    put("IngestPipeline.rows_per_entry", written / fetched, "ratio")
    put("IngestPipeline.dedup_dropped", t.domainsFetched.get - written, "count")
    put("ingest.parallel_efficiency", written / busyS / (4 * oneThread), "ratio")
    put("CertStore.write_ms", med(ws.map(_.ms)), "ms")
    put("CertStore.files_written", ws.map(_.files).sum, "count")
    put("CertStore.bytes_written", ws.map(_.bytes).sum, "bytes")
    put("CertStore.bytes_per_row", ws.map(_.bytes).sum / written, "bytes")
    val files = Files.walk(store)
    val all = try files.iterator().asScala.toVector finally files.close()
    put("CertStore.epochs", all.count(_.getFileName.toString.startsWith("epoch=")), "count")
    put("CertStore.files_total", all.count(_.getFileName.toString.endsWith(".parquet")), "count")
    put("CertStore.read_calls", t.readNs.size, "count")
    put("CertStore.read_ms_p50", med(t.readNs.asScala.map(_ / 1e6)), "ms")

    val qroutes = Seq("domain", "subdomains", "recent", "tld", "stats", "stream")
    qroutes.foreach { r =>
      val qs = Option(t.queries.get(r)).map(_.asScala.toVector).getOrElse(Vector.empty)
      val out = replayed.filter(_._1 == r).map(_._3.toDouble).sum
      val c = Option(t.counts.get(r))
      put(s"CtQueries.$r.plan_ms", med(qs.map(_.planMs)), "ms")
      put(s"CtQueries.$r.exec_ms", med(qs.map(_.execMs)), "ms")
      put(s"CtQueries.$r.jobs", c.map(_.jobs.get.toDouble).getOrElse(0.0) / qs.size, "count")
      put(s"CtQueries.$r.files_read", qs.map(_.files).sum.toDouble / qs.size, "count")
      put(s"CtQueries.$r.bytes_read", qs.map(_.bytes).sum.toDouble / qs.size, "bytes")
      put(s"CtQueries.$r.rows_scanned_per_row_out", qs.map(_.scanRows).sum / math.max(out, 1.0), "ratio")
    }
    Load.routes.foreach { r =>
      val http = httpTraced.filter(_.route == r)
      put(s"Server.$r.http_p50_ms", med(http.map(_.ms)), "ms")
      put(s"Server.$r.self_ms", med(http.map(_.ms)) - med(replayed.filter(_._1 == r).map(_._2)), "ms")
      put(s"Server.$r.response_bytes_p50", med(http.map(_.bytes.toDouble)), "bytes")
      put(s"Server.$r.status_non2xx", http.count(_.status / 100 != 2), "count")
    }
    put("Server.stream_polls", t.streamPolls.get, "count")
    put("Server.stream_rows_per_poll", sseRows.toDouble / t.streamPolls.get, "count")

    val g = Option(t.counts.get("")).getOrElse(new t.Counts)
    put("spark.jobs", g.jobs.get, "count")
    put("spark.stages", g.stages.get, "count")
    put("spark.tasks", g.tasks.get, "count")
    put("spark.task_ms_per_wall_ms", g.taskMs.get / (tracedNs / 1e6), "ratio")
    put("spark.shuffle_bytes", g.shuffleBytes.get, "bytes")
    put("spark.gc_ms", g.gcMs.get, "ms")
    qroutes.foreach { r =>
      val c = Option(t.counts.get(r)).getOrElse(new t.Counts)
      put(s"spark.$r.tasks", c.tasks.get, "count")
      put(s"spark.$r.task_ms", c.taskMs.get, "ms")
      put(s"spark.$r.shuffle_bytes", c.shuffleBytes.get, "bytes")
    }
    Seq("ingest_rows_per_s" -> "rows/s", "query_p50_ms" -> "ms", "fresh_p50_ms" -> "ms").foreach { case (m, u) =>
      val (plain, withTrace) = overhead.getOrElse(m, (Double.NaN, Double.NaN))
      put(s"trace.overhead.$m", withTrace - plain, u)
      info += f"tracing overhead on $m: traced $withTrace%.2f - untraced $plain%.2f $u"
    }
  }

  def go(): Unit = a.workload match {
    case "serve" => serve()
    case "live" => live()
  }

  def report(): Unit = {
    info.foreach(l => println(s"# $l"))
    errors.foreach(e => System.err.println(s"FAILED: $e"))
    val metrics = if (a.trace) layer else e2e
    metrics.foreach { case (k, (v, u)) => println(f"# $k%-44s $v%16.4f $u") }
    println(f"# failed_frac ${failed.toDouble / math.max(1L, attempted)}%.6f ($failed of $attempted)")
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}
