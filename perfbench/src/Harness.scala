package perfbench

import java.io.{OutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM, driven by a plan file that `run.py`
  * writes: session build, a cold pass whose results are kept for the
  * oracle check, a fixed number of warm-up passes with the live-heap
  * reading among them, closed-loop timed passes for the planned seconds,
  * a second check pass, then the conf snapshot.
  *
  * The harness reaches the program only through `SparkEntry` and the
  * public Spark listener surfaces; all statistics are computed by
  * `run.py` from the raw record this writes.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val plan = Plan.load(args(0))
    val rec = new Record
    val dimcacheLines = DimCacheCounter.install()
    val setupStart = Clock.ms()
    // Master, heap, shuffle partitions and directories come from
    // spark-submit (run.py).
    val spark = SparkSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val confBefore = spark.conf.getAll
    val tracer = if (plan.trace) Some(new Tracer(spark)) else None
    val queries = graft.SparkEntry.queries

    val run = Span.open("run", "run", 0)
    def pass(label: String, order: Seq[String], check: Option[String], traced: Boolean): Unit = {
      tracer.foreach(_.enabled = traced)
      val p = Span.open("pass", label, run.id)
      val stats = PassStats.take()
      order.foreach { name =>
        val q = Span.open("query", name, p.id)
        val group = s"$label/$name"
        spark.sparkContext.setJobGroup(group, null)
        var ok = true
        var err = ""
        try {
          val b = Span.open("build", name, q.id)
          val df = queries(name)(spark, plan.sfDir)
          b.close(rec, traced)
          val a = Span.open("action", name, q.id)
          write(df, check.map(c => s"${plan.runDir}/$c/$name"))
          a.close(rec, traced)
        } catch {
          case e: Throwable =>
            ok = false
            err = String.valueOf(e.getMessage).linesIterator.take(1).mkString
        } finally spark.sparkContext.clearJobGroup()
        q.close(rec, traced)
        rec.add(Map("type" -> "exec", "pass" -> label, "query" -> name,
          "wall_s" -> (q.end - q.start) / 1000.0, "ok" -> ok, "error" -> err))
      }
      p.close(rec, traced)
      rec.add(Map("type" -> "pass", "pass" -> label, "wall_s" -> (p.end - p.start) / 1000.0,
        "traced" -> traced) ++ PassStats.take().minus(stats))
    }

    pass("cold", plan.cold, Some("check1"), traced = plan.trace)
    rec.add(Map("type" -> "setup", "setup_s" -> (Clock.ms() - setupStart) / 1000.0))
    val dimcacheBefore = dimcacheLines.get
    plan.warmup.zipWithIndex.foreach { case (order, w) =>
      // The heap is read after a fixed number of executions, so that it
      // does not grow with the number of timed passes that fit in the
      // time, and halfway through the warm-up: the two passes after the
      // forced GCs run slow. Spark's ContextCleaner frees broadcast and
      // shuffle blocks only after a GC has cleared their weak references,
      // so collect, let it clean, and collect again.
      if (w == plan.heapAfter) {
        for (_ <- 1 to 3) {
          System.gc()
          Thread.sleep(300)
        }
        System.gc()
        rec.add(Map("type" -> "heap", "after_passes" -> (1 + w),
          "heap_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0))
      }
      pass(s"w$w", order, None, traced = false)
    }
    val deadline = Clock.ms() + plan.seconds * 1000.0
    var k = 0
    // A traced run traces passes 0 and 3 of each four and leaves 1 and 2
    // untraced, so the tracing overhead is measured inside the same JVM
    // with a linear warm-up drift cancelled.
    while (k < plan.minPasses || Clock.ms() < deadline) {
      pass(s"p$k", plan.passes(k % plan.passes.size), None,
        traced = plan.trace && (k % 4 == 0 || k % 4 == 3))
      k += 1
    }
    rec.add(Map("type" -> "dimcache", "computes_timed" -> (dimcacheLines.get - dimcacheBefore)))
    pass("check", plan.check, Some("check2"), traced = plan.trace)
    run.close(rec, plan.trace)

    tracer.foreach { t =>
      t.enabled = true
      val t0 = Clock.ms()
      Kernels.measure(spark, plan.sfDir, rec)
      rec.add(Map("type" -> "kernels", "wall_s" -> (Clock.ms() - t0) / 1000.0))
      t.drain(spark)
      t.flush(rec)
    }
    val confAfter = spark.conf.getAll
    (confBefore.keySet ++ confAfter.keySet).toSeq.sorted
      .filter(key => confBefore.get(key) != confAfter.get(key))
      .foreach(key => rec.add(Map("type" -> "conf_drift", "key" -> key,
        "before" -> confBefore.getOrElse(key, null), "after" -> confAfter.getOrElse(key, null))))
    rec.add(Map("type" -> "stamp", "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "cores" -> plan.cores, "oracle_sql_queries" -> graft.SparkEntry.oracleSql.size))
    Files.writeString(Paths.get(s"${plan.runDir}/oracle_sql.json"),
      Json.write(graft.SparkEntry.oracleSql.filter { case (k, _) => plan.cold.contains(k) }))
    spark.stop()
    rec.save(s"${plan.runDir}/record.jsonl")
  }

  /** The timed sink is Spark's noop writer (full materialization with
    * no output cost); check passes write parquet for the oracle compare.
    */
  private def write(df: DataFrame, path: Option[String]): Unit = path match {
    case None => df.write.format("noop").mode("overwrite").save()
    case Some(p) => df.coalesce(1).write.mode("overwrite").parquet(p)
  }
}

/** Plan file: one `key<TAB>value` per line; `warmup` and `pass` repeat,
  * one line per warm-up pass (all of them run) and per timed pass order
  * (used in turn while the time lasts).
  */
final case class Plan(sfDir: String, runDir: String, cores: Int, seconds: Int,
    trace: Boolean, minPasses: Int, heapAfter: Int, cold: Seq[String], check: Seq[String],
    warmup: IndexedSeq[Seq[String]], passes: IndexedSeq[Seq[String]])

object Plan {
  def load(path: String): Plan = {
    val kv = Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { l => val i = l.indexOf('\t'); (l.take(i), l.drop(i + 1)) }
    def one(k: String): String = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"plan lacks $k"))
    def names(v: String): Seq[String] = v.split(",").toSeq
    Plan(one("sf_dir"), one("run_dir"), one("cores").toInt, one("seconds").toInt,
      one("trace") == "1", one("min_passes").toInt, one("heap_after").toInt,
      names(one("cold")), names(one("check")),
      kv.collect { case ("warmup", v) => names(v) }.toIndexedSeq,
      kv.collect { case ("pass", v) => names(v) }.toIndexedSeq)
  }
}

/** Epoch milliseconds at nanosecond resolution, on the same time base as
  * Spark's listener events.
  */
object Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
    val start: Double) {
  var end: Double = Double.NaN
  def close(rec: Record, keep: Boolean): Unit = {
    end = Clock.ms()
    if (keep) rec.add(Map("type" -> "span", "id" -> id, "parent" -> parent,
      "kind" -> kind, "name" -> name, "start" -> start, "end" -> end))
  }
}

object Span {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def open(kind: String, name: String, parent: Long): Span =
    new Span(ids.incrementAndGet(), parent, kind, name, Clock.ms())
}

/** Process-level counters sampled at pass boundaries: GC and JIT time
  * and loaded classes from the JVM's MX beans, Janino compiles of
  * generated code from Spark's CodegenMetrics, read and write bytes from
  * /proc/self/io, and the host's CPU steal time from /proc/stat (a
  * host-health stamp: time the hypervisor ran something else while this
  * box wanted the CPU).
  */
final case class PassStats(values: Map[String, Double]) {
  def minus(o: PassStats): Map[String, Any] =
    values.map { case (k, v) => k -> (v - o.values(k)) }
}

object PassStats {
  def take(): PassStats = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
    val io = try {
      Files.readAllLines(Paths.get("/proc/self/io")).asScala
        .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toDouble }.toMap
    } catch { case _: java.io.IOException => Map.empty[String, Double] }
    val steal = try {
      Files.readAllLines(Paths.get("/proc/stat")).asScala.headOption
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toDouble * 10).getOrElse(0.0)
    } catch { case _: java.io.IOException => 0.0 }
    val classes = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
    PassStats(Map("jvm_gc_ms" -> gc, "jvm_jit_ms" -> jit, "jvm_classes" -> classes,
      "codegen_compiles" -> compiles,
      "host_steal_ms" -> steal,
      "io_read_bytes" -> io.getOrElse("rchar", 0.0),
      "io_write_bytes" -> io.getOrElse("wchar", 0.0)))
  }
}

/** Counts the `[dimcache] computing <key>` lines the program prints on
  * stderr, one per cache key built, while passing stderr through.
  */
object DimCacheCounter {
  def install(): java.util.concurrent.atomic.AtomicLong = {
    val n = new java.util.concurrent.atomic.AtomicLong(0)
    val err = System.err
    val line = new java.io.ByteArrayOutputStream()
    System.setErr(new PrintStream(new OutputStream {
      override def write(b: Int): Unit = synchronized {
        err.write(b)
        if (b == '\n') {
          if (line.toString(UTF_8).startsWith("[dimcache] computing")) n.incrementAndGet()
          line.reset()
        } else if (line.size < 64) line.write(b)
      }
    }, true))
    n
  }
}

final class Record {
  private val rows = ArrayBuffer.empty[String]
  def add(m: Map[String, Any]): Unit = synchronized { rows += Json.write(m) }
  def save(path: String): Unit =
    Files.write(Paths.get(path), rows.asJava, UTF_8)
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
