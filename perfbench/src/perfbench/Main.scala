package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM. `perfbench/run.py` starts it with a
  * fresh scratch root, then turns the raw samples it writes into
  * metrics and runs the checks that need the whole run.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1
  *            --root DIR --out FILE --spans FILE --data DIR
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(a("root"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1")
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> ctx.seed)
    LiveMemory.install()
    try {
      ctx.startSession()
      val phases = a("workload") match {
        case "ingest_backlog" => Ingest.backlogWorkload(ctx)
        case "bronze_live"    => Ingest.liveWorkload(ctx)
        case "llm_query_mix"  => Mix.workload(ctx, a("data"))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out ++= phases
    } catch {
      case e: Throwable =>
        ctx.fail("run", e)
        e.printStackTrace()
    } finally {
      out("ops") = Map("attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "errors" -> ctx.errors.toSeq)
      if (ctx.listener != null) {
        ctx.drainListenerBus()
        out("jobs") = ctx.listener.rows
      }
      out("rss_hwm_kb") = Ctx.vmHwmKb()
      out("live_heap_peak_bytes") = LiveMemory.heapPeak
      out("non_heap_bytes") =
        ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed
      Files.writeString(Paths.get(a("out")),
        Ctx.json.writeValueAsString(out))
      if (ctx.trace)
        Files.writeString(Paths.get(a("spans")),
          Ctx.json.writeValueAsString(ctx.tracer.rows))
      if (ctx.spark != null) {
        ctx.spark.streams.active.foreach(q => try q.stop() catch {
          case _: Throwable => })
        ctx.spark.stop()
      }
    }
  }
}

/** Per-run state: the session, the tracer, the listener (traced runs
  * only) and the operation ledger behind `attempted` / `failed`. */
final class Ctx(val root: String, val seed: Long, val seconds: Double,
    val trace: Boolean) {
  var spark: SparkSession = _
  val tracer = new Tracer
  var listener: EngineListener = _
  @volatile var attempted = 0L
  @volatile var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def path(name: String): String = Paths.get(root, name).toString

  /** Spark on the benchmark's fixed shape: 4 cores, 4 shuffle
    * partitions, everything it writes under this run's root. */
  def startSession(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", path("spark-local"))
      .config("spark.sql.warehouse.dir", path("spark-warehouse"))
      .config("spark.sql.streaming.checkpointLocation", path("checkpoints"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.pipeline.BronzeIngest.registerBronzeCatalog(spark, path("warehouse"))
  }

  /** Turns tracing on or off: spans plus the engine listener. */
  def setTracing(on: Boolean): Unit = {
    if (on && listener == null) listener = new EngineListener
    if (on && !tracer.on) spark.sparkContext.addSparkListener(listener)
    if (!on && tracer.on) spark.sparkContext.removeSparkListener(listener)
    tracer.on = on
  }

  /** Waits until the listener bus has delivered every queued event, so
    * the job table is complete before it is written out. */
  def drainListenerBus(): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(1000) }

  def fail(what: String, e: Throwable): Unit = synchronized {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
  }

  /** One attempted operation; a throw counts as failed. */
  def op[T](what: String)(body: => T): Option[T] = {
    synchronized { attempted += 1 }
    try Some(body)
    catch { case e: Throwable => fail(what, e); None }
  }

  /** One correctness check. */
  def check(what: String, ok: Boolean, detail: => String): Unit =
    synchronized {
      attempted += 1
      if (!ok) { failed += 1; errors += s"check $what: $detail".take(500) }
    }
}

object Ctx {
  val json: ObjectMapper = {
    val m = new ObjectMapper(); m.registerModule(DefaultScalaModule); m
  }

  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = Clock.nowMs
    val r = body
    (r, Clock.nowMs - t0)
  }
}

/** The program's memory whatever the heap's size: the largest heap in
  * use right after a garbage collection over the run. */
object LiveMemory {
  @volatile var heapPeak = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n, _) => if (n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { heapPeak = math.max(heapPeak, used) }
        }, null, null)
      case _ =>
    }
  }
}
