package graft.ct

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Columnar store for `cert_domains`: the Spark analog of the reference's
  * MergeTree layout (/root/reference/clickhouse/init.sql:16-18).
  *
  *  - `PARTITION BY toYYYYMM(ts)` → Hive-style `ts_month=` directory
  *    partitioning; Catalyst prunes partitions when queries carry a
  *    `ts_month` predicate (SURVEY §4).
  *  - `ORDER BY (base_domain, domain, fingerprint)` → sort-within-partitions
  *    on write, so Parquet row-group min/max stats give row-group skipping
  *    for `base_domain =` / `domain =` predicates.
  *  - LSM append + background merges → append-mode writes + `compact`.
  *
  * At 100 TB: monthly dirs bound each write job's shuffle to one month of
  * data; the repartition key (`ts_month`) co-locates a partition dir's rows
  * on one task so each dir gets few, large, sorted files.
  */
object CertStore {

  val partitionCol = "ts_month"

  /** Append a batch of canonical rows, partitioned + sorted for scan speed.
    * The frame is projected onto [[CertDomain.columns]] first, so the files
    * always hold exactly the schema [[read]] declares: a frame missing a
    * column fails here instead of reading back as nulls. */
  def write(df: DataFrame, path: String, mode: SaveMode = SaveMode.Append): Unit =
    df.select(CertDomain.columns.map(col): _*)
      .withColumn(partitionCol, date_format(col("ts"), "yyyyMM"))
      .repartition(col(partitionCol))
      .sortWithinPartitions("base_domain", "domain", "fingerprint")
      .write.mode(mode)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Read the table back; `ts_month` appears as a partition column. A
    * streaming store's per-epoch directories (StreamIngest.writeEpoch)
    * surface as an extra `epoch` partition column — an idempotency
    * implementation detail, dropped here.
    *
    * The data schema is declared ([[CertDomain.schema]], which [[write]]
    * enforces), not inferred: inference runs a Spark job over the Parquet
    * footers, and the Server calls `read` on every request and every
    * `/stream` poll. Partition columns are still discovered from the
    * paths, so the result matches the inferred schema. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.schema(CertDomain.schema).parquet(path)
    if (df.columns.contains("epoch")) df.drop("epoch") else df
  }

  /** Read restricted to the months a [from, to) time predicate can touch —
    * the query-construction discipline that turns `ts` predicates into
    * partition pruning (SURVEY §4 "caveat"). */
  def readMonths(spark: SparkSession, path: String,
      fromMonth: String, toMonth: String): DataFrame =
    read(spark, path)
      .filter(col(partitionCol) >= fromMonth && col(partitionCol) <= toMonth)

  /** MergeTree background-merge analog: rewrite each monthly partition into
    * `filesPerMonth` sorted files. Plain batch job, no custom strategy
    * (SURVEY §4). Writes to `dest` (caller swaps directories atomically).
    * `dedupe` applies the ReplacingMergeTree-style merge the README claims
    * (README.md:19): collapse rows sharing (fingerprint, domain) — e.g. the
    * same certificate observed in several CT logs or replayed batches —
    * keeping the earliest ts. */
  def compact(spark: SparkSession, src: String, dest: String,
      filesPerMonth: Int = 1, dedupe: Boolean = false): Unit = {
    val base = read(spark, src)
    val merged = if (dedupe) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fingerprint", "domain")
        .orderBy(col("ts"), col("log_name"))
      base.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    } else base
    // Repartition keeps one task per month (hash on the partition column)
    // so every monthly dir compacts in parallel; filesPerMonth > 1 adds a
    // deterministic fingerprint-hash split WITHIN each month. A global
    // coalesce here would funnel the whole store through one task.
    val parts =
      if (filesPerMonth <= 1) merged.repartition(col(partitionCol))
      else merged.repartition(col(partitionCol),
        pmod(hash(col("fingerprint")), lit(filesPerMonth)))
    parts
      .sortWithinPartitions("base_domain", "domain", "fingerprint")
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(dest)
  }

  /** In-place drifted-month compaction — the OPERATIONAL background-merge
    * analog. [[compact]] rewrites the WHOLE store into a new directory
    * (the explicit full-rebuild / global-dedupe path); at 100 TB of
    * time-partitioned certs that rewrites years of immutable months to
    * fix fragmentation that only accumulates where ingest appends land
    * (the current month — `write` appends one file per touched month
    * per batch). This path detects months fragmented past
    * `maxFilesPerMonth` and rewrites ONLY those, in one batched job,
    * swapped in per month behind the crash-recoverable
    * archive-then-swap protocol — the shared
    * [[graft.operators.PartitionCompaction]] kernel the embedding
    * store's recluster uses, so cost scales with drift, not store size.
    *
    * `dedupe` applies the ReplacingMergeTree-style merge the README
    * claims (README.md:19 — the reference table itself is plain
    * MergeTree, `clickhouse/init.sql:16` supplies only the monthly
    * partitioning and sort key this layout mirrors) WITHIN each
    * rewritten month — faithful to ClickHouse merge semantics, where a
    * background merge deduplicates only among rows merged inside the
    * same partition and cross-partition duplicates survive until
    * `OPTIMIZE FINAL` (the full [[compact]] with dedupe=true is this
    * store's FINAL).
    *
    * Epoch-partitioned streaming stores' month dirs hold epoch
    * SUBDIRECTORIES, which the kernel never treats as drifted (a flat
    * rewrite would lose the per-epoch idempotency layout) — use the
    * full [[compact]] for those. Returns the compacted months. */
  def compactDrifted(spark: SparkSession, path: String,
      maxFilesPerMonth: Int = 4, filesPerMonth: Int = 1,
      dedupe: Boolean = false): Seq[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val merge: DataFrame => DataFrame =
      if (!dedupe) identity
      else { df =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(partitionCol), col("fingerprint"), col("domain"))
          .orderBy(col("ts"), col("log_name"))
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    graft.operators.PartitionCompaction.compactDrifted(spark, fs, root,
      partitionCol, Seq("base_domain", "domain", "fingerprint"),
      hash(col("fingerprint")), maxFilesPerMonth, filesPerMonth, merge)
  }

  /** `system.parts` bytes_on_disk analog (reference api/app.py:224-229):
    * sum the table's file sizes via the Hadoop FileSystem — metadata only,
    * no query engine involved (SURVEY §2.1 S12). */
  def sizeBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var total = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
      }
      total
    }
  }

  /** Human-readable byte size, reference semantics (api/app.py:211-219):
    * base 1024, two decimals, no separator, 0 → "0B". */
  def humanBytes(n: Long): String = {
    if (n == 0) return "0B"
    val units = Seq("B", "KB", "MB", "GB", "TB", "PB")
    var v = n.toDouble
    var i = 0
    while (v >= 1024.0 && i < units.length - 1) { v /= 1024.0; i += 1 }
    f"$v%.2f${units(i)}"
  }
}
