package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc._
import graft.ext.{Dedup, Retrieval}
import graft.streaming.{StateStream, StreamingPopulate}

/** `index-maintain`: a seeded feed of document changes (revisions,
  * deletes, and inserts that plant near-duplicates of live documents),
  * one feed file per micro-batch, written by the generator together with
  * the inserted documents' source rows. Per batch the loop streams the
  * file into a documents changelog, reads the batch's delta back from the
  * sink with QueryData, fetches insert content by key from the source rows
  * (the changelog carries only sentinels for record operations), folds the
  * delta through a snapshot-isolated generation into the MinHash and BM25
  * serving layouts, and ends with one MinHash probe of the inserted
  * documents and one BM25 query over the live generations. */
object IndexMaintain {
  val SetupReps = 3
  val cfg: CdcTableConfig = CdcTableConfig("documents", Seq("doc_id"))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  private def docsFrame(spark: SparkSession, docs: Iterable[(Long, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.toSeq.sortBy(_._1).map { case (i, t) => Row(i, t) }: _*),
      docSchema)

  /** Both serving layouts over `corpus`, each published as generation 1
    * of its own generational root. */
  private def buildLayouts(spark: SparkSession, corpus: DataFrame, mh: String, bm: String): Unit = {
    StateStream.publishState(spark, mh) { stage =>
      Dedup.writeServingLayout(corpus, s"$stage/bands", s"$stage/fps")
    }
    StateStream.publishState(spark, bm) { stage =>
      val (post, dl, stats) = Retrieval.bm25ServingArtifacts(corpus)
      post.repartition(col("bucket")).write.partitionBy("bucket").parquet(s"$stage/postings")
      dl.repartition(col("dbucket")).write.partitionBy("dbucket").parquet(s"$stage/doclen")
      stats.write.parquet(s"$stage/stats")
    }
  }

  def run(c: Ctx, sessionS: Double): Unit = {
    val spark = c.spark
    val work = s"${c.a.work}/index"
    val input = s"${c.a.input}/docs"
    val feedFiles = Util.parquetFiles(s"$input/feed")
    val feedSchema = spark.read.parquet(feedFiles.head.toString).schema
    val base: Map[Long, String] = spark.read.parquet(s"$input/base").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap

    val (mhBase, bmBase) = c.setup(SetupReps, sessionS) { rep =>
      val dir = s"$work/setup$rep"
      buildLayouts(spark, spark.read.parquet(s"$input/base").select("doc_id", "text"),
        s"$dir/mh", s"$dir/bm")
      (s"$dir/mh", s"$dir/bm")
    }

    new Pass(c.rehearsal, s"$work/warm", mhBase, bmBase, base, feedFiles.take(1), input, feedSchema)
    if (c.a.warmOnly) return
    val p = new Pass(c, s"$work/measured", mhBase, bmBase, base, feedFiles, input, feedSchema)
    val (files, bytes) = Util.storeSize(p.sink, p.mh, p.bm)
    c.metrics("changes_per_s") = p.changes / c.busyS
    c.metrics("lag_p50_s") = Stats.median(p.lags.toSeq)
    c.metrics("read_p50_s") = Stats.median(p.readTimes.toSeq)
    c.metrics("store_bytes") = bytes.toDouble
    c.metrics("store_files") = files.toDouble

    def gen(root: String) = new org.apache.hadoop.fs.Path(StateStream.statePath(spark, root))
      .toUri.getPath
    c.checks("sink") = mutable.LinkedHashMap(
      "files" -> Util.parquetFiles(SinkLayout.dataDir(spark, p.sink)).map(_.toString),
      "cutoff" -> None,
      "active_cutoff" -> Retention.activeCutoff(spark, p.sink))
    c.checks("reads") = p.reads
    c.checks("pairs") = p.pairs
    c.checks("artifacts") = Map("minhash" -> gen(p.mh), "bm25" -> gen(p.bm))
    c.checks("final_docs") = p.corpus.size
  }

  /** One pass under `dir`: copies of the base layouts, then every feed
    * file of `feedFiles` streamed, read back, folded and probed. */
  private final class Pass(c: Ctx, dir: String, mhBase: String, bmBase: String,
      base: Map[Long, String], feedFiles: Seq[java.nio.file.Path], input: String,
      feedSchema: StructType) {
    private val spark = c.spark
    val lags = mutable.ArrayBuffer.empty[Double]
    val readTimes = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Any]
    val pairs = mutable.ArrayBuffer.empty[Any]
    val (mh, bm, sink, in) = (s"$dir/mh", s"$dir/bm", s"$dir/sink", s"$dir/in")
    Util.copyTree(mhBase, mh)
    Util.copyTree(bmBase, bm)
    private val catalog = new CdcCatalog
    catalog.register(CdcTableEntry(cfg, in, sink))
    var corpus = base
    var changes = 0L
    private var appended = 0L
    feedFiles.zipWithIndex.foreach { case (file, b) =>
      val day = Util.commitDay((b + 1) * 86400L)
      Util.publishFile(file, in, file.getFileName.toString)
      val created = System.nanoTime()
      val createdMs = System.currentTimeMillis()
      c.op("streaming.StreamingPopulate.runAvailableNow") {
        StreamingPopulate.runAvailableNow(spark, in, feedSchema, cfg, sink, s"$dir/ckpt")
      }.foreach(appended += _)
      val (delta, readS, _) = Reads.read(c, catalog, "documents", cfg.keyCols, day,
        day.plusDays(1), appended, None, createdMs, reads)
      readTimes += readS
      val revised = delta.filter(r => r.getAs[String]("column_name") == "text")
        .map(r => r.getAs[String]("doc_id").toLong -> r.getAs[String]("new_value")).toMap
      def sentinel(col: String, v: String) = delta
        .filter(r => r.getAs[String]("column_name") == null && r.getAs[String](col) == v)
        .map(_.getAs[String]("doc_id").toLong).toSeq
      val deleted = sentinel("old_value", "DELETED RECORD")
      val insertedIds = sentinel("new_value", "NEW RECORD")
      val srcFile = s"$input/src/${file.getFileName}"
      val inserted: Map[Long, String] = c.op("source.fetch") {
        spark.read.parquet(srcFile).where(col("doc_id").isin(insertedIds: _*)).collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      }.getOrElse(Map.empty)
      c.require(inserted.size == insertedIds.size,
        s"batch $b: fetched ${inserted.size} of ${insertedIds.size} inserted documents")
      val oldDocs = docsFrame(spark, (revised.keys ++ deleted).map(i => i -> corpus(i)))
      val newDocs = docsFrame(spark, revised ++ inserted)
      fold(c, mh) { gen =>
        Dedup.minhashServingFold(spark, s"$gen/bands", s"$gen/fps", oldDocs, newDocs)
      }("ext.Dedup.minhashServingFold")
      fold(c, bm) { gen =>
        Retrieval.bm25ServingFold(spark, s"$gen/postings", s"$gen/doclen", s"$gen/stats",
          oldDocs, newDocs)
      }("ext.Retrieval.bm25ServingFold")
      corpus = corpus -- deleted ++ revised ++ inserted

      val store = docsFrame(spark, corpus)
      val batch = docsFrame(spark, inserted)
      val queries = spark.createDataFrame(java.util.Arrays.asList(inserted.toSeq.sortBy(_._1)
        .flatMap { case (id, text) =>
          text.split(" ").sliding(2).take(3).map(w => Row(id, w.mkString(" ")))
        }: _*), StructType(Seq(StructField("query_id", LongType), StructField("term", StringType))))
      val found = c.op("ext.Dedup.minhashServingProbe") {
        val gen = StateStream.statePath(spark, mh)
        if (c.tracer.enabled) c.tracer.sample("ext.probe.layout_bytes",
          Util.storeSize(new org.apache.hadoop.fs.Path(gen).toUri.getPath)._2.toDouble)
        Dedup.minhashServingProbe(spark, s"$gen/bands", s"$gen/fps", batch, store).collect()
      }.getOrElse(Array.empty[Row])
      c.op("ext.Retrieval.bm25TopKServingPinned") {
        Retrieval.bm25TopKServingPinned(spark, bm, queries).collect()
      }
      lags += (System.nanoTime() - created) / 1e9
      changes += revised.size + deleted.size + inserted.size
      pairs += mutable.LinkedHashMap("batch" -> b,
        "pairs" -> found.map(r => Seq(r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq)
    }
  }

  /** One snapshot-isolated fold: the outer call stages, folds and
    * publishes; the inner span is the fold itself, so the traced run can
    * report publish time as outer minus inner. */
  private def fold(c: Ctx, root: String)(body: String => Unit)(inner: String): Unit = {
    var innerS = 0.0
    val t0 = System.nanoTime()
    c.op("streaming.StateStream.foldIsolatedGen") {
      StateStream.foldIsolatedGen(c.spark, root) { gen =>
        val i0 = System.nanoTime()
        c.tracer.span(inner)(body(gen))
        innerS = (System.nanoTime() - i0) / 1e9
      }
    }
    c.tracer.sample("streaming.StateStream.foldIsolatedGen.publish_s",
      (System.nanoTime() - t0) / 1e9 - innerS)
  }
}
