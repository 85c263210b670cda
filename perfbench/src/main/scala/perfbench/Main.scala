package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** One operation of a workload: a registered query (or a stream) and the
  * graft module its entry point belongs to. */
final case class Op(name: String, module: String)

/** Latencies, failures and spans of the timed passes. */
final class Recorder(val tracer: Option[Tracer]) {
  val latencies: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** The open pass span while the pass is traced. */
  var passSpan: Option[Span] = None
  var pass = 0

  /** Run `body` once as a timed sample of `op`; `check` turns its
    * result rows into an error, if the output is wrong. */
  def timed(op: Op)(body: => Long)(check: Long => Option[String]): Unit = {
    val sample = for (t <- tracer; ps <- passSpan) yield t.begin(op.name, op.module, pass, ps)
    val t0 = System.nanoTime()
    val res = Try(body)
    val secs = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis().toDouble
    for (t <- tracer; s <- sample) t.end(s, endMs, res.getOrElse(-1L))
    attempted += 1
    res.fold(t => Some(Main.describe(t)), check) match {
      case None => latencies.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += secs
      case Some(e) => fail(op, 1, e)
    }
  }

  /** Count the last `n` successful samples of `op` as failed, with `why`. */
  def fail(op: Op, n: Int, why: String): Unit = {
    val l = latencies.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty)
    l.remove(math.max(0, l.length - n), math.min(n, l.length))
    failed += n
    if (errors.length < 20) errors += s"${op.name} pass $pass: $why"
  }
}

/** A workload: an untimed verification pass, then timed passes. */
trait Workload {
  /** Run every operation once, check its output, and return what the
    * checker outside the JVM needs (rows, output paths, errors). */
  def verify(): Map[String, Any]
  /** One timed pass over the operation list. */
  def pass(rec: Recorder): Unit
  def extra: Map[String, Any] = Map.empty
}

/** Benchmark driver JVM. One driver thread runs each operation back to
  * back (a closed loop with one client) on `local[threads]`, in whole passes
  * that fit in `--seconds` (at least two), and writes `result.json` into
  * `--out` for `run.py` to check and summarize. */
object Main {
  def describe(t: Throwable): String = {
    def one(e: Throwable) = e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    (one(t).take(200) + (if (root eq t) "" else " caused by " + one(root).take(200)))
  }

  def session(threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop what the previous operation cached, so each operation pays
    * for its own intermediates. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.dedup.Dedup.releaseCaches()
    graft.SharedFrames.release()
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dir = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val cpus = opt("cpus").toInt
    val threads = opt("threads").toInt
    val corrupt = opt.get("corrupt")
    val ops = opt("ops").split(",").toSeq.map { s => val Array(n, m) = s.split(":"); Op(n, m) }
    val tables = opt("tables").split(",").toSeq

    // set-up: JVM, SparkSession and the workload's tables, three times. The
    // first is timed from process start; the others rebuild the session in
    // the same JVM. graft.Tables caches each table's inferred schema per
    // (path, mtime) for the life of the JVM, so each rebuild first moves
    // the tables' mtimes: every set-up then opens its tables from their
    // parquet footers, as a fresh process does. run.py reports the median.
    var spark: SparkSession = null
    val setupS = (1 to 3).map { i =>
      if (i > 1) tables.foreach { t =>
        val f = new java.io.File(s"$dir/$t.parquet")
        if (!f.setLastModified(f.lastModified() + 1000L)) sys.error(s"cannot set the mtime of $f")
      }
      val t0 = if (i == 1) jvmStart else System.currentTimeMillis().toDouble
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(threads)
      tables.foreach {
        case "events" => graft.Tables.events(spark, dir).schema
        case t => graft.Tables(spark, dir, t).schema
      }
      (System.currentTimeMillis() - t0) / 1e3
    }
    val probeStart = Probe.run(cpus)

    val w: Workload =
      if (opt("kind") == "stream") new Streams(spark, dir, ops, corrupt)
      else new Batch(spark, dir, ops, s"$out/verify", corrupt)
    val v0 = System.nanoTime()
    val verified = w.verify()
    val verifyS = (System.nanoTime() - v0) / 1e9

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val rec = new Recorder(tracer)
    val root = tracer.map(_.span(-1, "workload", workload, System.currentTimeMillis().toDouble))
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // whole passes: at least three. The first timed pass still warms up
    // (it ran some 10 % slower than the next in most batch runs), so it is
    // mostly the slowest of three, which the median pass_s drops; and a
    // traced run, which alternates untraced and traced passes, has an
    // untraced pass after the first. Beyond three, another starts only if,
    // at the mean pass time so far, it ends within the window.
    val minPasses = 3
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (rec.pass < minPasses || elapsed * (rec.pass + 1) / rec.pass <= seconds) {
      val tracedPass = traced && rec.pass % 2 == 1
      val gc0 = gcSeconds
      if (tracedPass) {
        heapPools.foreach(_.resetPeakUsage())
        tracer.get.attach()
        rec.passSpan = Some(tracer.get.span(root.get.id, "pass", s"pass ${rec.pass}",
          System.currentTimeMillis().toDouble))
      }
      val p0 = System.nanoTime()
      w.pass(rec)
      val wall = (System.nanoTime() - p0) / 1e9
      var info = Map[String, Any]("wall_s" -> wall, "traced" -> tracedPass, "gc_s" -> (gcSeconds - gc0))
      if (tracedPass) {
        tracer.get.detach()
        rec.passSpan.get.end = System.currentTimeMillis().toDouble
        rec.passSpan = None
        info += "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
      }
      passes += info
      rec.pass += 1
    }
    root.foreach(_.end = System.currentTimeMillis().toDouble)
    val probeEnd = Probe.run(cpus)
    val extra = w.extra
    spark.stop()

    val result = Map(
      "workload" -> workload,
      "cpus" -> cpus,
      "threads" -> threads,
      "setup_s" -> setupS,
      "probes" -> Map("start" -> probeStart, "end" -> probeEnd),
      "verify" -> verified,
      "verify_s" -> verifyS,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) },
      "latencies" -> rec.latencies,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "errors" -> rec.errors,
      "passes" -> passes,
      "stream" -> extra,
      "trace" -> tracer.map(_.toJson),
      "peak_rss_mb" -> vmHwmMb)
    Files.writeString(Paths.get(s"$out/result.json"), Json(result))
  }
}

/** Registered frame and corpus queries, run through `SparkEntry.queries`.
  * The timed action collects the result to the driver, as an
  * interactive user does; the verification pass runs the same action,
  * so the timed passes reuse its compiled plans, and writes the rows it
  * got to parquet for the checker. */
final class Batch(spark: SparkSession, dir: String, ops: Seq[Op], verifyDir: String,
                  corrupt: Option[String]) extends Workload {
  private val registry = graft.SparkEntry.queries
  private val expected = mutable.HashMap.empty[String, Long]

  def verify(): Map[String, Any] = ops.map { op =>
    Main.release(spark)
    val path = s"$verifyDir/${op.name}"
    val t0 = System.nanoTime()
    val res = Try {
      val df = registry(op.name)(spark, dir)
      var rows = df.collect().toSeq
      // harness self-test: one extra row makes this output wrong
      if (corrupt.contains(op.name)) rows = rows ++ rows.take(1)
      spark.createDataFrame(rows.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(path)
      rows.length.toLong
    }
    res.foreach(expected(op.name) = _)
    op.name -> (res match {
      case Success(n) => Map("rows" -> n, "path" -> path, "seconds" -> (System.nanoTime() - t0) / 1e9)
      case Failure(t) => Map("error" -> Main.describe(t))
    })
  }.toMap

  def pass(rec: Recorder): Unit = ops.foreach { op =>
    Main.release(spark)
    rec.timed(op)(registry(op.name)(spark, dir).collect().length.toLong) { n =>
      expected.get(op.name) match {
        case None => Some("verification failed")
        case Some(e) if e != n => Some(s"$n rows, verified output had $e")
        case _ => None
      }
    }
  }
}
