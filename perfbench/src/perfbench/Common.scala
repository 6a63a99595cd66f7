package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

final case class Args(
    workload: String,
    seed: Long,
    trace: Boolean,
    input: String,
    work: String,
    out: String,
    cores: Int,
    warmOnly: Boolean)

/** State shared by a workload run: the session, the tracer, the operation
  * counters, the end-to-end metrics and the payload handed to the
  * out-of-process checks. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val a: Args,
    val warmUp: Boolean = false) {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Busy seconds of the measured loop: the sum of its operations. */
  var busyS = 0.0

  /** One operation of the measured loop: counted, traced and timed, its
    * time logged to the JVM log. A failure is counted and logged, and the
    * loop goes on. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Some(tracer.op(name)(body))
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"operation $name failed")
          e.printStackTrace()
          None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    busyS += dt
    System.err.println(f"perfbench: $name%s $dt%.3f s")
    r
  }

  /** A context for the warm-up rehearsal: untraced, and its counts,
    * metrics and checks are thrown away. */
  def rehearsal: Ctx = new Ctx(spark, new Tracer(false), a, warmUp = true)

  /** A condition the run's outputs must satisfy, checked in the JVM. */
  def require(ok: Boolean, what: => String): Unit = if (!ok) errors += what

  /** Runs `body` `reps` times (once with --warm-only) and records the
    * median wall time of one repetition plus `fixedS` as `setup_s`. The
    * first repetition runs cold, which the median discounts. Returns the
    * last result. */
  def setup[T](reps: Int, fixedS: Double)(body: Int => T): T = {
    var last: Option[T] = None
    val times = (0 until (if (a.warmOnly) 1 else reps)).map { i =>
      val t0 = System.nanoTime()
      last = Some(body(i))
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"perfbench: setup $times")
    metrics("setup_s") = fixedS + Stats.median(times)
    last.get
  }
}

object Util {
  val Sec: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** Commit base of every synthetic feed (FeedSpec.commitBase). */
  val CommitBase: Instant = Instant.parse("1995-01-01T00:00:00Z")

  def commitDay(lsn: Long): LocalDate =
    LocalDate.ofInstant(CommitBase.plusSeconds(lsn), ZoneOffset.UTC)

  def dayTs(d: LocalDate): java.sql.Timestamp =
    java.sql.Timestamp.from(d.atStartOfDay(ZoneOffset.UTC).toInstant)

  def fmtTs(v: Any): String = v match {
    case null => null
    case t: java.sql.Timestamp => Sec.format(t.toInstant)
    case other => other.toString
  }

  /** 60-bit row hash: the first 15 hex digits of md5 over the '|'-joined
    * fields, NULL written as \N. The DuckDB check computes the same. */
  def rowHash(fields: Seq[String]): Long = {
    val md = MessageDigest.getInstance("MD5")
    val d = md.digest(fields.map(f => if (f == null) "\\N" else f).mkString("|").getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getLong >>> 4
  }

  /** Order-independent digest (count, sum of row hashes) of changelog rows
    * over (changelog_id, commit_time, keys…, column_name, old, new). */
  def changelogDigest(rows: Seq[Row], keys: Seq[String]): (Long, BigInt) = {
    var sum = BigInt(0)
    rows.foreach { r =>
      val f = Seq(r.getAs[Any]("changelog_id").toString, fmtTs(r.getAs[Any]("commit_time"))) ++
        keys.map(k => Option(r.getAs[Any](k)).map(_.toString).orNull) ++
        Seq("column_name", "old_value", "new_value").map(c => r.getAs[String](c))
      sum += rowHash(f)
    }
    (rows.size.toLong, sum)
  }

  def parquetFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
      finally s.close()
    }
  }

  /** (file count, bytes) of the parquet data files under `dirs`. */
  def storeSize(dirs: String*): (Long, Long) = {
    val fs = dirs.flatMap(parquetFiles)
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  def copyTree(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    val d = Paths.get(dst)
    val w = Files.walk(s)
    try w.iterator().asScala.foreach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
    finally w.close()
  }

  /** The generator hands a finished feed file to the stream: copy under a
    * hidden name (the file source skips it), then rename into place. */
  def publishFile(src: Path, dstDir: String, name: String): Unit = {
    val d = Paths.get(dstDir)
    Files.createDirectories(d)
    val tmp = d.resolve(s".$name.tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The freshness warning's timestamp (QueryData, usp_cdc_query_data.sql:40-46). */
  def warningMs(warning: String): Option[Long] = {
    val Re = """refreshed on: (\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.\d+)?)\.""".r.unanchored
    warning match {
      case Re(ts, _) => Some(java.sql.Timestamp.valueOf(ts).getTime)
      case _ => None
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigInt => str(n.toString)
    case d: LocalDate => str(d.toString)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => str(other.toString)
  }
}
