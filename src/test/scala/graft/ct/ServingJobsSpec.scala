package graft.ct

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.SparkSpec

/** Pins the fixed Spark work of one REST request: the jobs that reading
  * the store and answering each route start, on a plain and on an
  * epoch-layered store. */
class ServingJobsSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val tagKey = "graft.test.jobsTag"
  private val jobsByTag = new ConcurrentHashMap[String, AtomicInteger]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tagKey))).foreach(tag =>
          jobsByTag.computeIfAbsent(tag, _ => new AtomicInteger(0)).incrementAndGet())
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** The Spark jobs `body` starts on this thread. */
  private def jobsOf(body: => Any): Int = {
    listener
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(tagKey, tag)
    try body finally sc.setLocalProperty(tagKey, null)
    ListenerBus.drain(sc)
    Option(jobsByTag.get(tag)).map(_.get).getOrElse(0)
  }

  /** 40 subdomains of example.com plus other.org noise, on both sides of a
    * month boundary, with older rows /recent must leave out. */
  private val rows: Seq[CertDomain] = (0 until 40).flatMap { i =>
    val seen = if (i % 2 == 0) ts("2024-01-31 20:00:00") else ts("2024-02-01 02:00:00")
    def row(t: Timestamp, domain: String, base: String, fp: Int) =
      CertDomain(t, domain, base, f"$fp%064d", "CN=CA", s"CN=$domain", Seq(domain),
        ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00"), s"log${i % 3}")
    Seq(row(seen, s"d$i.example.com", "example.com", i),
      row(ts("2024-01-10 08:00:00"), s"old$i.example.com", "example.com", 100 + i),
      row(seen, s"x$i.other.org", "other.org", 200 + i))
  }
  private val now = ts("2024-02-01 06:00:00")

  private lazy val plainStore = {
    val dir = Files.createTempDirectory("jobs-plain").toString
    CertStore.write(rows.toDF(), dir, SaveMode.Overwrite)
    dir
  }

  /** The layout `StreamIngest.writeEpoch` produces: one store write per
    * `epoch=` directory. */
  private lazy val epochStore = {
    val dir = Files.createTempDirectory("jobs-epoch").toString
    val (a, b) = rows.splitAt(rows.length / 2)
    CertStore.write(a.toDF(), s"$dir/epoch=0", SaveMode.Overwrite)
    CertStore.write(b.toDF(), s"$dir/epoch=1", SaveMode.Overwrite)
    dir
  }

  for ((layout, store) <- Seq("plain" -> (() => plainStore), "epoch-layered" -> (() => epochStore))) {
    test(s"$layout store: the declared read schema equals the inferred one") {
      val p = store()
      assert(CertStore.read(spark, p).schema == spark.read.parquet(p).drop("epoch").schema)
    }

    test(s"$layout store: jobs per request — read 0, point lookups 1, aggregates <= 2") {
      val p = store()
      def t = CertStore.read(spark, p)
      assert(jobsOf(t) == 0, "CertStore.read must not start a job")
      val point = Seq(
        "domainLookup" -> jobsOf(CtQueries.domainLookup(t, "d3.example.com").collect()),
        "streamTailAfter" -> jobsOf(CtQueries.streamTailAfter(t,
          ts("2024-01-31 20:00:00"), "", "", "", 10).collect()))
      assert(point.forall(_._2 == 1), s"jobs: $point")
      val aggregates = Seq(
        "subdomains" -> jobsOf(CtQueries.subdomains(t, "example.com").collect()),
        "recent" -> jobsOf(CtQueries.recent(t, "example.com", now).collect()),
        "tldTopk" -> jobsOf(CtQueries.tldTopk(t, "com").collect()),
        "stats" -> jobsOf(CtQueries.stats(t, Date.valueOf("2024-02-01")).collect()))
      assert(aggregates.forall(_._2 <= 2), s"jobs: $aggregates")
    }

    test(s"$layout store: one-task sorts answer /subdomains and /recent as a global sort does") {
      val t = CertStore.read(spark, store())
      val base = t.filter(col("base_domain") === "example.com")
      val subsBefore = base.groupBy(col("domain")).agg(max(col("ts")).as("last_seen"))
      val recentBefore = base.filter(col("ts") > lit(ts("2024-01-31 06:00:00")))
        .select(col("domain")).distinct()
      // the aggregates' rows really come from several shuffle partitions
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try {
        def filled(df: DataFrame) = df.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ > 0)
        assert(filled(subsBefore) >= 2 && filled(recentBefore) >= 2)
        assert(base.filter(col("ts") > lit(ts("2024-01-31 06:00:00")))
          .select(CertStore.partitionCol).distinct().count() == 2, "the window spans two months")
        def same(got: DataFrame, want: DataFrame, n: Int): Unit = {
          val (g, w) = (got.collect().toSeq, want.collect().toSeq)
          assert(g.length == n && g == w)
        }
        same(CtQueries.subdomains(t, "example.com"), subsBefore.orderBy(col("domain")), 80)
        same(CtQueries.recent(t, "example.com", now), recentBefore.orderBy(col("domain")), 40)
      } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }
}
