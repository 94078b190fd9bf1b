package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.catalog.{BronzeCatalog, SnapshotLog}
import graft.functions.{avro, AvroSchemaConverter}
import graft.pipeline.BronzeIngest
import graft.sources.kafkasim.SimBroker
import graft.streaming.monitors.{CheckpointDiffMonitor, CheckpointOffsets, PreflightDetector, StreamingLossListener}
import org.apache.avro.generic.GenericData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Seeded OrderEvent inputs: whole-unit amounts (so sums are exact in
  * any order) and `ts` strings that sort by time. */
object Orders {
  final case class Rec(orderId: String, amount: Double, tsMs: Long)

  val Topic = "orders"
  val Table = "bronze.db.orders"
  val Partitions = 3 // the reference's test/orders-topic.yaml

  private val schema = AvroSchemaConverter.parse(BronzeIngest.OrderSchema)
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    .withZone(ZoneOffset.UTC)
  private val epochMs = Instant.parse("2026-01-01T00:00:00Z").toEpochMilli

  def ts(ms: Long): String = tsFmt.format(Instant.ofEpochMilli(epochMs + ms))

  /** Avro-framed wire records for one partition append. */
  def wire(recs: Seq[Rec]): Seq[(Option[Array[Byte]], Array[Byte], Long)] = {
    val ser = new avro.Serializer(schema)
    recs.map { r =>
      val g = new GenericData.Record(schema)
      g.put("orderId", r.orderId)
      g.put("amount", java.lang.Double.valueOf(r.amount))
      g.put("ts", ts(r.tsMs))
      (None, ser.serialize(g), epochMs + r.tsMs)
    }
  }

  private def line(r: Rec): String = s"${r.orderId}|${r.amount}|${ts(r.tsMs)}"

  /** Count, distinct ids, amount sum and an order-insensitive hash of
    * (orderId, amount, ts) over a table or view; `expected` computes the
    * same four values from the generated records. */
  def digestSql(from: String): String =
    "SELECT count(*) AS n, count(DISTINCT orderId) AS d, sum(amount) AS s, " +
      "sum(crc32(concat_ws('|', orderId, CAST(amount AS STRING), ts))) AS h " +
      s"FROM $from"

  def expected(recs: Iterable[Rec]): Seq[Any] = {
    val crc = new java.util.zip.CRC32
    var h = 0L
    recs.foreach { r =>
      crc.reset()
      crc.update(line(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      h += crc.getValue
    }
    Seq(recs.size.toLong, recs.map(_.orderId).toSet.size.toLong,
      recs.iterator.map(_.amount).sum, h)
  }
}

object Ingest {
  import Orders._

  // ingest_backlog: 12 appends per partition, drained at most
  // MaxOffsetsPerTrigger records per trigger -> 12 bronze commits
  val BacklogRecords = 180000
  val BacklogChunks = 12
  val MaxOffsetsPerTrigger: Long = BacklogRecords / BacklogChunks
  val ReadsPerDrain = 6

  // bronze_live: open loop on a fixed tick schedule, 20 * 34 * 3 = 2,040
  // records/s; each append stays under the broker writer's 8 KiB buffer
  val TicksPerSec = 20
  val PerPartitionPerTick = 34
  val WarmLiveSeconds = 2.0
  val ReadRecentTicks = 5

  private def digest(ctx: Ctx, from: String): Seq[Any] =
    ctx.spark.sql(digestSql(from)).collect().head.toSeq

  private def tableDir(ctx: Ctx): String =
    ctx.spark.sessionState.catalogManager.catalog("bronze")
      .asInstanceOf[BronzeCatalog].tableDir(Seq("db"), "orders")

  private def segments(broker: String): Long =
    (0 until Partitions).map { p =>
      val d = Paths.get(broker, s"$Topic-$p")
      if (!Files.isDirectory(d)) 0L
      else { val s = Files.list(d); try s.count() finally s.close() }
    }.sum

  private def progressRows(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.map { p =>
      val src = p.sources.headOption
      Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "timestamp" -> p.timestamp,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap,
        "start" -> src.map(_.startOffset).orNull,
        "end" -> src.map(_.endOffset).orNull,
        "latest" -> src.map(_.latestOffset).orNull)
    }

  /** Every snapshot of the bronze table: commit time and row count. */
  private def commitRows(dir: String): Seq[Map[String, Any]] =
    SnapshotLog.versions(dir).map { v =>
      val s = SnapshotLog.read(dir, v)
      Map("version" -> v, "op" -> s.operation,
        "commit_ms" -> s.timestampMicros / 1000.0,
        "rows" -> s.entries.flatMap(_.rows).sum,
        "files" -> s.files.size, "segments" -> s.segments.size,
        "bytes" -> s.entries.flatMap(_.bytes).sum)
    }

  /** PreflightDetector and CheckpointDiffMonitor on a finished
    * checkpoint; both must report no loss. */
  private def monitors(ctx: Ctx, ckpt: String, broker: String,
      corr: String): Map[String, Any] = {
    val (pre, preMs) = Ctx.timeMs(ctx.tracer.span("monitors", "preflight",
      corr)(new PreflightDetector(ckpt, broker).detect()))
    val (diff, diffMs) = Ctx.timeMs(ctx.tracer.span("monitors",
      "checkpoint_diff", corr)(new CheckpointDiffMonitor(ckpt, broker)
      .checkLatestBatch()))
    ctx.check(s"$corr monitors", pre.isEmpty && diff.isEmpty,
      s"loss events: ${pre ++ diff}")
    Map("preflight_ms" -> preMs, "checkpoint_diff_ms" -> diffMs,
      "loss_events" -> (pre.size + diff.size))
  }

  private def wireStream(ctx: Ctx, broker: String, maxOffsets: Option[Long]) = {
    val r = ctx.spark.readStream.format("kafkasim")
      .option("path", broker).option("subscribe", Topic)
      .option("startingOffsets", "earliest")
    maxOffsets.foreach(m => r.option("maxOffsetsPerTrigger", m))
    BronzeIngest.decode(ctx.spark, r.load())
      .withColumn("source", lit(null).cast("string"))
  }

  // ---------------------------------------------------------------- backlog

  def backlogRecords(seed: Long, n: Int): Seq[Rec] = {
    val rnd = new SplittableRandom(seed)
    (0 until n).map(i =>
      Rec(s"b$seed-$i", (1 + rnd.nextInt(100000)).toDouble,
        i * 10L + rnd.nextInt(10)))
  }

  /** Produces `recs` round-robin over the partitions in `chunks`
    * appends per partition; returns each append's time. */
  def produce(ctx: Ctx, broker: String, recs: Seq[Rec],
      chunks: Int): Seq[Double] = {
    SimBroker.createTopic(broker, Topic, Partitions)
    val byPart = recs.zipWithIndex.groupBy(_._2 % Partitions)
      .map { case (p, rs) => p -> rs.map(_._1) }
    for {
      c <- 0 until chunks
      p <- 0 until Partitions
    } yield {
      val all = byPart(p)
      val size = (all.size + chunks - 1) / chunks
      val batch = wire(all.slice(c * size, (c + 1) * size))
      Ctx.timeMs(ctx.tracer.span("kafkasim", "append", s"gen:$c")(
        SimBroker.append(broker, Topic, p, batch)))._2
    }
  }

  /** One AvailableNow drain of the whole topic into a fresh
    * bronze.db.orders, then its exactly-once checks. The table is
    * left in place for the caller to probe, then dropped. */
  private def drainOnce(ctx: Ctx, broker: String, tag: String,
      expected: Seq[Any]): (Map[String, Any], String) = {
    val corr = s"drain:$tag"
    val ckpt = ctx.path(s"ckpt-$tag")
    ctx.tracer.span("catalog", "ensureBronzeTable", corr)(
      BronzeIngest.ensureBronzeTable(ctx.spark))
    val t0 = Clock.nowMs
    val q = ctx.op(corr) {
      ctx.tracer.span("pipeline", "drain", corr) {
        val q = wireStream(ctx, broker, Some(MaxOffsetsPerTrigger)).writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .toTable(Table)
        q.awaitTermination()
        q
      }
    }
    val t1 = Clock.nowMs
    val dir = tableDir(ctx)
    val got = digest(ctx, Table)
    ctx.check(s"$corr exactly-once", got == expected,
      s"bronze (n, distinct, sum, hash) $got != generated $expected")
    val row = Map[String, Any]("start_ms" -> t0, "end_ms" -> t1,
      "records" -> expected.head, "commits" -> commitRows(dir),
      "progress" -> q.map(progressRows).getOrElse(Seq.empty),
      "monitors" -> monitors(ctx, ckpt, broker, corr))
    (row, dir)
  }

  private def dropTable(ctx: Ctx): Unit =
    ctx.spark.sql(s"DROP TABLE IF EXISTS $Table")

  /** One drain, then `reads` pinned-snapshot reads of the drained
    * table, alternating the full-table aggregate and the lookup of the
    * latest tenth of `ts`; then the table is dropped. */
  private def cycle(ctx: Ctx, broker: String, expected: Seq[Any],
      tag: String, recentTsMs: Long, reads: Int = ReadsPerDrain,
      probe: String => Map[String, Any] = _ => Map.empty): Map[String, Any] = {
    val (row, dir) = drainOnce(ctx, broker, tag, expected)
    val done = (0 until reads).flatMap(i =>
      read(ctx, dir, s"read:$tag:$i", if (i % 2 == 0) None
        else Some(recentTsMs)))
    val probed = probe(dir)
    dropTable(ctx)
    row ++ Map("reads" -> done) ++ probed
  }

  /** Cycles until the run's measuring time is used up (at least two).
    * A traced run measures twice as long and alternates untraced and
    * traced cycles, starting and ending untraced, so warm-up does not
    * favour either half; returns (untraced, traced) cycles. */
  private def cycles(ctx: Ctx, broker: String, expected: Seq[Any],
      recentTsMs: Long): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    val out = mutable.ArrayBuffer.empty[(Boolean, Map[String, Any])]
    val halves = if (ctx.trace) 2 else 1
    val t0 = Clock.nowMs
    while (out.size < 2 * halves || (ctx.trace && out.size % 2 == 0) ||
        Clock.nowMs - t0 < halves * ctx.seconds * 1000) {
      val traced = ctx.trace && out.size % 2 == 1
      ctx.setTracing(traced)
      out += traced -> cycle(ctx, broker, expected, s"c${out.size}",
        recentTsMs)
    }
    ctx.setTracing(false)
    (out.filterNot(_._1).map(_._2).toSeq, out.filter(_._1).map(_._2).toSeq)
  }

  /** Traced-only probes on a topic and its drained table: kafkasim
    * scan alone, scan + avro_decode, offset resolution and snapshot
    * loads. */
  private def probes(ctx: Ctx, broker: String, dir: String): Map[String, Any] = {
    val spark = ctx.spark
    def wireBatch = spark.read.format("kafkasim").option("path", broker)
      .option("subscribe", Topic).load()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    val scan = (0 until 3).map(i => Ctx.timeMs(ctx.tracer.span("kafkasim",
      "scan", s"probe:scan$i")(noop(wireBatch)))._2)
    val decode = (0 until 3).map(i => Ctx.timeMs(ctx.tracer.span("functions",
      "avro_decode", s"probe:decode$i")(noop(BronzeIngest.decode(spark,
      wireBatch))))._2)
    val latest = (0 until 20).map(i => Ctx.timeMs(ctx.tracer.span("kafkasim",
      "latest", s"probe:latest$i")((0 until Partitions).foreach(p =>
      SimBroker.latest(broker, Topic, p))))._2)
    val loads = (0 until 20).map(i => Ctx.timeMs(ctx.tracer.span("catalog",
      "snapshot_load", s"probe:load$i")(SnapshotLog.current(dir)))._2)
    Map("probes" -> Map("scan_ms" -> scan, "scan_decode_ms" -> decode,
      "latest_ms" -> latest, "snapshot_load_ms" -> loads,
      "segments" -> segments(broker)))
  }

  /** One read of a pinned snapshot: the full-table aggregate when
    * `recentTsMs` is empty, else the recent-`ts` lookup that bronze
    * pruning can narrow. None while the table has no snapshot yet. */
  private def read(ctx: Ctx, dir: String, corr: String,
      recentTsMs: Option[Long]): Option[Map[String, Any]] = {
    val t0 = Clock.nowMs
    ctx.tracer.span("catalog", "snapshot_load", corr)(
      SnapshotLog.current(dir)).flatMap { snap =>
      val t1 = Clock.nowMs
      val where = recentTsMs.map(ms => s" WHERE ts >= '${Orders.ts(ms)}'")
      val sql = "SELECT count(*) AS n, count(DISTINCT orderId) AS d, " +
        s"sum(amount) AS s FROM $Table VERSION AS OF ${snap.version}" +
        where.getOrElse("")
      ctx.op(corr) {
        val df = ctx.tracer.span("catalog", "scan_plan", corr) {
          val df = ctx.spark.sql(sql)
          df.queryExecution.executedPlan
          df
        }
        val t2 = Clock.nowMs
        val r = ctx.tracer.span("catalog", "scan_exec", corr)(
          df.collect().head)
        val t3 = Clock.nowMs
        Map("kind" -> (if (recentTsMs.isEmpty) "full" else "recent"),
          "version" -> snap.version, "start_ms" -> t0, "pin_ms" -> (t1 - t0),
          "plan_ms" -> (t2 - t1), "exec_ms" -> (t3 - t2),
          "total_ms" -> (t3 - t0), "n" -> r.getLong(0), "d" -> r.getLong(1),
          "s" -> (if (r.isNullAt(2)) 0.0 else r.getDouble(2)),
          "recent_ts_ms" -> recentTsMs.getOrElse(-1L))
      }
    }
  }

  // ------------------------------------------------------------------- live

  /** Tick k, partition p: PerPartitionPerTick records whose `ts` is the
    * tick's due time on the schedule. */
  def liveRecords(seed: Long, ticks: Int): IndexedSeq[IndexedSeq[Seq[Rec]]] = {
    val rnd = new SplittableRandom(seed)
    val periodMs = 1000L / TicksPerSec
    (0 until ticks).map(k => (0 until Partitions).map(p =>
      (0 until PerPartitionPerTick).map(j =>
        Rec(s"l$seed-$k-$p-$j", (1 + rnd.nextInt(1000)).toDouble,
          k * periodMs))))
  }

  /** One live window: the default-trigger stream from kafkasim into a
    * fresh bronze.db.orders, an open-loop generator appending one batch
    * per partition per tick, and one closed-loop reader alternating the
    * two pinned-snapshot queries. Returns the raw ledger. */
  private def liveOnce(ctx: Ctx, tag: String, seed: Long,
      seconds: Double): Map[String, Any] = {
    val spark = ctx.spark
    val broker = ctx.path(s"broker-$tag")
    val ckpt = ctx.path(s"ckpt-$tag")
    val ticks = math.ceil(seconds * TicksPerSec).toInt
    val periodMs = 1000.0 / TicksPerSec
    val recs = liveRecords(seed, ticks)
    val wired = recs.map(_.map(wire))
    SimBroker.createTopic(broker, Topic, Partitions)
    ctx.tracer.span("catalog", "ensureBronzeTable", s"live:$tag")(
      BronzeIngest.ensureBronzeTable(spark))
    val dir = tableDir(ctx)
    // the reference's live loss detector, on the listener bus; the
    // benchmark's own freshness ledger is read afterwards from the
    // checkpoint and the snapshot log, never from that bus
    val loss = new StreamingLossListener(broker)
    spark.streams.addListener(loss)
    val q = wireStream(ctx, broker, None).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .toTable(Table) // default trigger, as KafkaAvroToIceberg.scala:92-100
    q.processAllAvailable()

    val due = new Array[Double](ticks)
    val sent = new Array[Double](ticks)
    val done = new Array[Double](ticks)
    val latestMs = mutable.ArrayBuffer.empty[Double]
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val lastTick = new AtomicInteger(-1)
    @volatile var stop = false
    val t0 = Clock.nowMs + 50
    val gen = new Thread(() => {
      for (k <- 0 until ticks) {
        due(k) = t0 + k * periodMs
        val wait = due(k) - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        sent(k) = Clock.nowMs
        ctx.op(s"tick $k") {
          (0 until Partitions).foreach { p =>
            appendMs += Ctx.timeMs(ctx.tracer.span("kafkasim", "append",
              s"tick:$k")(SimBroker.append(broker, Topic, p, wired(k)(p))))._2
          }
        }
        done(k) = Clock.nowMs
        lastTick.set(k)
        if (ctx.tracer.on)
          latestMs += Ctx.timeMs(ctx.tracer.span("kafkasim", "latest",
            s"tick:$k")((0 until Partitions).foreach(p =>
            SimBroker.latest(broker, Topic, p))))._2
      }
    }, "perfbench-generator")
    val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
    val reader = new Thread(() => {
      var i = 0
      while (!stop) {
        val k = lastTick.get() - ReadRecentTicks
        val recent = if (i % 2 == 0) None
          else Some(math.max(k, 0) * (1000L / TicksPerSec))
        read(ctx, dir, s"read:$i", recent) match {
          case Some(r) => reads += r; i += 1
          case None => Thread.sleep(10)
        }
      }
    }, "perfbench-reader")
    ctx.tracer.span("pipeline", "live_window", s"live:$tag") {
      gen.start(); reader.start()
      gen.join()
      q.processAllAvailable()
    }
    val caughtUp = Clock.nowMs
    stop = true
    reader.join()
    val progress = progressRows(q)
    q.stop()
    spark.streams.removeListener(loss)

    val all = recs.flatten.flatten
    val got = digest(ctx, Table)
    val expected = Orders.expected(all)
    ctx.check(s"live:$tag exactly-once", got == expected,
      s"bronze (n, distinct, sum, hash) $got != generated $expected")
    ctx.check(s"live:$tag listener loss", loss.events.isEmpty,
      s"loss events: ${loss.events}")
    val committed = {
      val d = Paths.get(ckpt, "commits")
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.forall(_.isDigit)).map(_.toLong).toSeq.sorted
      finally s.close()
    }
    val batches = committed.map { b =>
      val offs = CheckpointOffsets.parseOffsetFile(
        Paths.get(ckpt, "offsets", b.toString))
      Map("batch" -> b,
        "end" -> (0 until Partitions).map(p => offs.getOrElse((Topic, p), 0L)))
    }
    val out = Map[String, Any](
      "start_ms" -> t0, "caught_up_ms" -> caughtUp,
      "ticks_per_s" -> TicksPerSec, "ts_period_ms" -> 1000L / TicksPerSec,
      "per_partition_per_tick" -> PerPartitionPerTick,
      "partitions" -> Partitions,
      "ticks" -> (0 until ticks).map(k => Map("due_ms" -> due(k),
        "sent_ms" -> sent(k), "done_ms" -> done(k),
        "sums" -> recs(k).map(_.map(_.amount).sum)),
      ),
      "batches" -> batches, "commits" -> commitRows(dir),
      "reads" -> reads.toSeq, "progress" -> progress,
      "append_ms" -> appendMs.toSeq, "latest_ms" -> latestMs.toSeq,
      "listener_loss_events" -> loss.events.size,
      "monitors" -> monitors(ctx, ckpt, broker, s"live:$tag"),
      "segments" -> segments(broker))
    val probed = if (ctx.tracer.on) probes(ctx, broker, dir) else Map.empty
    dropTable(ctx)
    out ++ probed
  }

  /** ingest_backlog: a seeded backlog drained with Trigger.AvailableNow,
    * each drain followed by reads of the drained table. */
  def backlogWorkload(ctx: Ctx): Map[String, Any] = {
    // set-up: generate the input, then one whole untimed cycle on it, so
    // that the JIT has settled before the first timed drain
    val recs = backlogRecords(ctx.seed, BacklogRecords)
    val broker = ctx.path("broker")
    val (appendMs, genMs) = Ctx.timeMs(produce(ctx, broker, recs,
      BacklogChunks))
    val expected = Orders.expected(recs)
    val recentTsMs = recs(recs.size * 9 / 10).tsMs
    val (_, warmMs) = Ctx.timeMs(cycle(ctx, broker, expected, "warm",
      recentTsMs, 2))
    val setupEnd = Clock.nowMs
    val (untraced, traced) = cycles(ctx, broker, expected, recentTsMs)
    val out = mutable.LinkedHashMap[String, Any](
      "setup" -> Map("warmup_ms" -> warmMs, "gen_ms" -> genMs,
        "end_ms" -> setupEnd),
      "drains" -> untraced)
    if (ctx.trace) {
      ctx.setTracing(true)
      out("traced_drains") = traced
      out("append_ms") = appendMs
      out("probes") = cycle(ctx, broker, expected, "probe", recentTsMs, 0,
        dir => probes(ctx, broker, dir))("probes")
    }
    out.toMap
  }

  /** bronze_live: the default-trigger stream fed by the open-loop
    * generator, beside one closed-loop reader. */
  def liveWorkload(ctx: Ctx): Map[String, Any] = {
    ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    // set-up: one short live window warms the stream, generator and
    // reader paths; its ledger is checked like any other
    val (_, warmMs) = Ctx.timeMs(liveOnce(ctx, "warm", ctx.seed ^ 0x5eed,
      WarmLiveSeconds))
    val out = mutable.LinkedHashMap[String, Any](
      "setup" -> Map("warmup_ms" -> warmMs, "end_ms" -> Clock.nowMs),
      "live" -> liveOnce(ctx, "live", ctx.seed, ctx.seconds))
    if (ctx.trace) {
      // untraced, traced, untraced: the overhead compares the traced
      // window with both neighbours, so warm-up does not bias it
      ctx.setTracing(true)
      out("traced_live") = liveOnce(ctx, "traced", ctx.seed, ctx.seconds)
      ctx.setTracing(false)
      out("live_after") = liveOnce(ctx, "after", ctx.seed, ctx.seconds)
    }
    out.toMap
  }
}
