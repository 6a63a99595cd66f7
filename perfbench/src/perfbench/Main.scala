package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the end-to-end pipeline benchmark (see perfbench/README.md;
  * perfbench/run.py generates the inputs, builds, launches this main and
  * checks its outputs).
  *
  * {{{
  * Main --workload <name> --seed <n> --trace <0|1>
  *      --input <generated inputs> --work <scratch dir> --out <result dir> --cores <n>
  *      [--warm-only 1]
  * }}}
  *
  * Writes `result.json` (metrics, operation counts, check payload) and, in
  * the traced run, `spans.json` to the result dir. With `--warm-only 1` it
  * runs only one set-up and the warm-up rehearsal of each workload in the
  * comma-separated `--workload` list, and writes nothing; the build uses
  * this to record the class-data archive. */
object Main {
  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(
      workload = m("workload"),
      seed = m("seed").toLong,
      trace = m("trace") == "1",
      input = m("input"),
      work = m("work"),
      out = m("out"),
      cores = m("cores").toInt,
      warmOnly = m.get("warm-only").contains("1"))
  }

  private def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    val traced =
      if (!a.trace) b
      else b.config("spark.extraListeners", classOf[JobListener].getName)
        .config("spark.sql.queryExecutionListeners", classOf[QueryListener].getName)
    val s = traced.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    def workload(w: String, c: Ctx, sessionS: Double): Unit = w match {
      case "ingest-stream" => IngestStream.run(c, sessionS)
      case "index-maintain" => IndexMaintain.run(c, sessionS)
      case other => sys.error(s"unknown workload $other")
    }
    val c = new Ctx(spark, new Tracer(a.trace), a)
    try {
      if (a.warmOnly) {
        a.workload.split(",").foreach(w => workload(w, c, 0.0))
        return
      }
      workload(a.workload, c, sessionS)
      val perLayer = mutable.LinkedHashMap.empty[String, Double]
      if (a.trace) {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        perLayer ++= c.tracer.engineMetrics()
        perLayer ++= c.tracer.layerMetrics()
        for (layout <- perLayer.get("ext.probe.layout_bytes");
             read <- perLayer.get("ext.Dedup.minhashServingProbe.bytes_read") if layout > 0)
          perLayer("ext.probe.read_share") = read / layout
        Files.writeString(Paths.get(a.out, "spans.json"), Json.write(mutable.LinkedHashMap(
          "spans" -> c.tracer.all.map(s => mutable.LinkedHashMap(
            "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
            "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
          "series" -> c.tracer.series)))
      }
      Files.writeString(Paths.get(a.out, "result.json"), Json.write(mutable.LinkedHashMap(
        "workload" -> a.workload,
        "attempted" -> c.attempted,
        "failed" -> c.failed,
        "errors" -> c.errors,
        "metrics" -> c.metrics,
        "per_layer" -> perLayer,
        "checks" -> c.checks)))
    } finally spark.stop()
  }
}
