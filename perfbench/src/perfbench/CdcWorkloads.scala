package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.cdc._
import graft.oracle.CdcOracle
import graft.streaming.StreamingPopulate

/** Shared read path of the workloads: one QueryData call over a day range,
  * its rows collected and digested for the out-of-process check, and the
  * freshness warning kept for its own check. */
private[perfbench] object Reads {
  /** Returns the rows, the read's seconds and the nanoTime it returned. A
    * read outside the measured loop (`timed = false`) is no operation: it
    * is not counted, timed or traced, and a failure fails the checks. */
  def read(c: Ctx, catalog: CdcCatalog, table: String, keys: Seq[String],
      from: LocalDate, to: LocalDate, maxId: Long, cutoff: Option[LocalDate],
      createdMs: Long, out: mutable.ArrayBuffer[Any],
      timed: Boolean = true): (Array[Row], Double, Long) = {
    def body() = {
      val r = QueryData.run(c.spark, catalog, table, Util.dayTs(from), Some(Util.dayTs(to)),
        fullDays = true)
      (r.warning, r.data.collect())
    }
    val t0 = System.nanoTime()
    val res =
      if (timed) c.op("cdc.QueryData.run")(body())
      else {
        val t = scala.util.Try(body())
        c.require(t.isSuccess, s"read $from..$to failed: ${t.failed.map(_.toString).getOrElse("")}")
        t.toOption
      }
    val end = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val rows = res.map { case (warning, rows) =>
      val (n, digest) = Util.changelogDigest(rows.toSeq, keys)
      out += mutable.LinkedHashMap("from" -> from, "to" -> to, "max_id" -> maxId,
        "cutoff" -> cutoff, "rows" -> n, "digest" -> digest,
        "min_day" -> rows.map(_.getAs[Any]("commit_date").toString).minOption,
        "created_ms" -> createdMs, "warning_ms" -> Util.warningMs(warning), "read_end_ms" -> endMs)
      rows
    }.getOrElse(Array.empty[Row])
    (rows, (end - t0) / 1e9, end)
  }
}

/** `ingest-stream`: the orders feed (ChangeFeed.ordersRetentionSpec, LSNs
  * spread over commit days) cut into `Files` small files by LSN range;
  * set-up stages them. A pass starts from an empty sink: one
  * PopulateChangelog batch backfills the first history files (the initial
  * load), then the loop streams the remaining files one per micro-batch:
  * the generator publishes a file, the stream drains it, and a QueryData
  * read over the file's days returns its rows. A retention sweep keeping
  * the last `KeepDays` days runs after the second streamed batch, and
  * compaction after the last. Closed loop, one generator, at most one
  * batch in flight. The warm-up rehearsal is a short pass (`WarmHistory`
  * files, two streamed batches) on a sink of its own. */
object IngestStream {
  val Files = 24
  val History = 20
  val WarmHistory = 2
  val KeepDays = 45
  val SetupReps = 3
  val cfg: CdcTableConfig = CdcTableConfig("orders", Seq("o_orderkey"))
  private val keys = cfg.keyCols

  def run(c: Ctx, sessionS: Double): Unit = {
    val spark = c.spark
    val work = s"${c.a.work}/ingest"
    val orders = spark.read.parquet(s"${c.a.input}/orders")
    val spec = ChangeFeed.ordersRetentionSpec

    // set-up: stage the feed, one file per LSN range
    val (staged, schema, lsnSpan) = c.setup(SetupReps, sessionS) { rep =>
      val dir = s"$work/setup$rep/staged"
      val feed = spec.toFeed(orders)
      val maxLsn = orders.agg(max(col("o_orderkey"))).head().getLong(0) * 256L
      val span = maxLsn / Files + 1
      feed.withColumn("fidx", (col("start_lsn") / lit(span)).cast("int"))
        .repartition(col("fidx"))
        .write.partitionBy("fidx").parquet(dir)
      (dir, feed.schema, span)
    }
    val batchFiles = (History until Files).map(i => Util.parquetFiles(s"$staged/fidx=$i"))
    c.require(batchFiles.forall(_.size == 1), s"each staged batch must be one file: ${batchFiles.map(_.size)}")
    def history(n: Int) = spark.read.schema(schema)
      .parquet((0 until n).map(i => s"$staged/fidx=$i"): _*)

    new Pass(c.rehearsal, s"$work/warm", history(WarmHistory), batchFiles.take(2), schema, lsnSpan)
    if (c.a.warmOnly) return
    val p = new Pass(c, s"$work/measured", history(History), batchFiles, schema, lsnSpan)
    if (c.tracer.enabled) builderLayers(c, history(History))
    // After the sweep and the compaction, one read over every day must
    // return exactly the rows from the cutoff on. Not part of the loop.
    Reads.read(c, p.catalog, "orders", keys, Util.commitDay(0), Util.commitDay(Files * lsnSpan),
      p.appended, p.cutoff, p.lastCreatedMs, p.reads, timed = false)
    val (files, bytes) = Util.storeSize(p.sink)
    c.metrics("changes_per_s") = p.appended / c.busyS
    c.metrics("lag_p50_s") = Stats.median(p.lags.toSeq)
    c.metrics("read_p50_s") = Stats.median(p.readTimes.toSeq)
    c.metrics("store_bytes") = bytes.toDouble
    c.metrics("store_files") = files.toDouble
    c.checks("oracle") = mutable.LinkedHashMap(
      "sql" -> new CdcOracle(spec, keys, "orders").changelogCtes,
      "tables" -> Map("orders" -> s"${c.a.input}/orders"),
      "keys" -> keys, "table_name" -> "orders")
    c.checks("sink") = mutable.LinkedHashMap(
      "files" -> Util.parquetFiles(SinkLayout.dataDir(spark, p.sink)).map(_.toString),
      "cutoff" -> p.cutoff,
      "active_cutoff" -> Retention.activeCutoff(spark, p.sink))
    c.checks("reads") = p.reads
  }

  /** One pass from an empty sink under `dir`: the backfill of `history`,
    * then `batches` streamed one by one. */
  private final class Pass(c: Ctx, dir: String, history: DataFrame,
      batches: Seq[Seq[java.nio.file.Path]], schema: org.apache.spark.sql.types.StructType,
      lsnSpan: Long) {
    private val spark = c.spark
    val sink = s"$dir/sink"
    private val in = s"$dir/in"
    val catalog = new CdcCatalog
    catalog.register(CdcTableEntry(cfg, in, sink))
    val lags = mutable.ArrayBuffer.empty[Double]
    val readTimes = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Any]
    var cutoff: Option[LocalDate] = None
    var lastCreatedMs = 0L
    var appended: Long = c.op("cdc.PopulateChangelog.run") {
      PopulateChangelog.run(spark, history, cfg, sink).rowsInserted
    }.getOrElse(0L)
    batches.zipWithIndex.foreach { case (files, k) =>
      val i = History + k
      val from = Util.commitDay(i * lsnSpan)
      val to = Util.commitDay((i + 1) * lsnSpan - 1)
      Util.publishFile(files.head, in, f"batch_$i%03d.parquet")
      val created = System.nanoTime()
      lastCreatedMs = System.currentTimeMillis()
      c.op("streaming.StreamingPopulate.runAvailableNow") {
        StreamingPopulate.runAvailableNow(spark, in, schema, cfg, sink, s"$dir/ckpt")
      }.foreach(appended += _)
      val (_, readS, readEnd) =
        Reads.read(c, catalog, "orders", keys, from, to, appended, cutoff, lastCreatedMs, reads)
      readTimes += readS
      lags += (readEnd - created) / 1e9
      if (c.tracer.enabled) {
        val (files, bytes) = Util.storeSize(sink)
        val st0 = System.nanoTime()
        c.tracer.span("cdc.Checkpoint.sinkState")(Checkpoint.sinkState(spark, sink))
        c.tracer.point("cdc.Checkpoint.sinkState", files.toDouble, bytes.toDouble,
          (System.nanoTime() - st0) / 1e9)
      }
      if (k == math.min(1, batches.size - 1)) {
        val cut = to.minusDays(KeepDays)
        c.op("cdc.Retention.expire")(Retention.expire(spark, sink, cut))
        cutoff = Some(cut)
      }
    }
    compact(c, sink)
  }

  /** Compaction, with the row multiset checked around it (outside the
    * timed operation, and not in the warm-up rehearsal): same count and
    * same sum of row hashes. */
  private def compact(c: Ctx, sink: String): Unit = {
    def fingerprint(): Option[Row] = if (c.warmUp) None else Some(SinkLayout.read(c.spark, sink)
      .agg(count(lit(1)), sum(xxhash64(col("changelog_id"), col("commit_time"),
        col("column_name"), col("old_value"), col("new_value")).cast("decimal(38,0)")))
      .head())
    val before = fingerprint()
    c.op("cdc.Compact.compactSink")(Compact.compactSink(c.spark, sink)).foreach { st =>
      c.tracer.sample("cdc.Compact.files_before", st.filesBefore.toDouble)
      c.tracer.sample("cdc.Compact.files_after", st.filesAfter.toDouble)
    }
    val after = fingerprint()
    c.require(before == after, s"compaction changed the row multiset: $before -> $after")
  }

  /** Traced run only: the changelog build and the id assignment of the
    * backfill batch, each forced on its own through a noop write. */
  private def builderLayers(c: Ctx, feed: DataFrame): Unit = {
    val built = c.tracer.span("cdc.ChangelogBuilder.build") {
      val b = ChangelogBuilder.build(feed, cfg)
      b.write.format("noop").mode("overwrite").save()
      b
    }
    val materialized = built.localCheckpoint(true)
    c.tracer.span("cdc.ChangelogBuilder.withIds") {
      ChangelogBuilder.withIds(materialized, cfg).write.format("noop").mode("overwrite").save()
    }
  }
}
