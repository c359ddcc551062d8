package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.{ArrayBuffer, HashMap}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point: one JVM, one Spark session on
  * `local[cores]`, one closed-loop client. Runs one workload's set-up and
  * measured op loop and writes the raw record (when the op loop started,
  * one entry per op with its latency and check payload, and the trace
  * when tracing) as JSON for run.py, which computes metrics and applies
  * the gates.
  *
  * Usage: perfbench.Main --workload W --in DIR --work DIR --seconds S
  *        --trace 0|1 --cores N --out FILE */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    val work = a("work")
    val cores = a("cores").toInt
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (a("trace") == "1") {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val ctx = new Ctx(spark, a("in"), work, a("seconds").toDouble, tracer)
    a("workload") match {
      case "etl_elt_daily" => EtlDaily.run(ctx)
      case "table_churn" => TableChurn.run(ctx)
      case w => sys.error(s"unknown workload '$w'")
    }
    ctx.finish(a("out"))
    spark.stop()
  }
}

/** Shared state of one run: the op loop's clock, per-op records and bytes
  * written under the store root. */
final class Ctx(val spark: SparkSession, val in: String, val work: String,
                seconds: Double, val tracer: Option[Tracer]) {
  private val out = new java.util.LinkedHashMap[String, Any]()
  private val ops = ArrayBuffer[java.util.Map[String, Any]]()
  private var measuredNs = 0L
  private var storeRoot: Option[Path] = None
  private val seen = HashMap[String, (Long, Long)]()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def record(key: String, v: Any): Unit = out.put(key, v)

  /** True once the op loop has measured `seconds` of op time. */
  def timeUp: Boolean = measuredNs >= seconds * 1e9

  def freshRoot(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }

  /** Time a layer call as a span when tracing; run it plain otherwise. */
  def span[T](layer: String, name: String)(body: => T): T =
    tracer.fold(body)(_.span(layer, name)(body))

  /** End of set-up: point the write-amplification walk at the store the
    * ops write to (files already there belong to set-up and are not
    * counted) and stamp the time the op loop starts. */
  def watch(root: String): Unit = {
    storeRoot = Some(Paths.get(root))
    walk()
    record("loop_start_epoch_ms", System.currentTimeMillis())
  }

  /** Walk the store root: bytes of files that are new or changed since the
    * previous walk (i.e. written by the op in between), bytes and files
    * on disk, and the number of new parquet files. */
  def walk(): (Long, Long, Int, Int) = storeRoot.fold((0L, 0L, 0, 0)) { root =>
    var written, total = 0L
    var files, newParquet = 0
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val (size, mtime) = (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      if (!seen.get(p.toString).contains((size, mtime))) {
        written += size
        if (p.toString.endsWith(".parquet")) newParquet += 1
      }
      seen(p.toString) = (size, mtime)
      total += size
      files += 1
    } finally s.close()
    (written, total, files, newParquet)
  }

  /** Old-gen occupancy after a full GC: the heap the run keeps live. (The
    * in-run readings after G1 mixed collections still hold garbage in
    * uncollected old regions and varied by half between runs.) The first
    * GC hands unreachable RDDs and broadcasts to Spark's ContextCleaner;
    * the pause lets it drop their blocks before the measured GC. */
  private def liveHeap(): Long = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getCollectionUsage != null && p.getName.contains("Old"))
      .map(_.getCollectionUsage.getUsed).maxOption.getOrElse(0L)
  }

  /** Run one op of the closed loop: `body` is timed and returns the op's
    * result; `check` runs after the clock stops and returns the payload
    * run.py checks (it may run Spark jobs of its own). */
  def op[T](kind: String, name: String, userBytes: Long = 0L,
            rows: Long = 0L)(body: => T)(check: T => Map[String, Any])
      : Option[T] = {
    val i = ops.size
    tracer.foreach(_.op = i)
    val (c0, t0) = (os.getProcessCpuTime, System.nanoTime())
    val res = try Right(span("bench", kind)(body)) catch {
      case e: Throwable => Left(e)
    }
    val (t1, c1) = (System.nanoTime(), os.getProcessCpuTime)
    tracer.foreach(_.op = -1)
    measuredNs += t1 - t0
    val rec = new java.util.LinkedHashMap[String, Any]()
    rec.put("i", i); rec.put("kind", kind); rec.put("name", name)
    rec.put("start_ns", t0); rec.put("end_ns", t1)
    rec.put("ms", (t1 - t0) / 1e6)
    rec.put("cpu_ms", (c1 - c0) / 1e6)
    rec.put("user_bytes", userBytes); rec.put("rows", rows)
    res match {
      case Left(e) =>
        rec.put("error", s"${e.getClass.getName}: ${e.getMessage}".take(500))
      case Right(v) =>
        try check(v).foreach { case (k, x) => rec.put(k, x) } catch {
          case e: Throwable =>
            rec.put("error", s"check: ${e.getClass.getName}: ${e.getMessage}".take(500))
        }
    }
    val (written, total, files, newParquet) = walk()
    rec.put("bytes_written", written); rec.put("bytes_on_disk", total)
    rec.put("files_on_disk", files); rec.put("parquet_written", newParquet)
    ops += rec
    res.toOption
  }

  def finish(path: String): Unit = {
    tracer.foreach(_.drain())
    record("live_heap_bytes", liveHeap())
    record("ops", ops.toSeq)
    tracer.foreach { t =>
      record("spans", t.spans.toSeq.zipWithIndex.map { case (s, id) => Map(
        "id" -> id, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent) })
      record("jobs", t.jobs.toSeq.map(j => Map("id" -> j.id,
        "layer" -> j.layer, "op" -> j.op, "span" -> j.span, "start_ns" -> j.start, "end_ns" -> j.end,
        "tasks" -> j.tasks, "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
        "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes,
        "scan_bytes" -> j.scanBytes, "scan_rows" -> j.scanRows)))
    }
    Files.write(Paths.get(path), new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsBytes(out))
  }
}
