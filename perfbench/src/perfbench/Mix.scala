package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{QueryDef, SparkEntry}
import org.apache.spark.sql.Row

/** llm_query_mix: one closed-loop client running passes over the
  * headline queries on the benchmark's own copy of the sf0.01 tables,
  * each pass in a seeded order. The client collects every result; its
  * digest is taken after the pass, outside the timed window. */
object Mix {

  /** k01 and st02 stage their inputs under fixed /tmp paths that
    * outlive the JVM, so a run could neither isolate nor clean them
    * up; the mix runs every other headline. */
  val Excluded = Set("k01_kafka_batch_ingest", "st02_stream_sliding_window")

  def queries: Seq[QueryDef] =
    SparkEntry.headlines.filterNot(q => Excluded(q.name)).sortBy(_.name)

  /** The tables the queries read (TESTDATA.md). */
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One query: the builder call, then the whole result collected.
    * Returns its timings and its result (None if it failed). */
  private def runOne(ctx: Ctx, q: QueryDef, data: String,
      corr: String): (Map[String, Any], Option[(Seq[String], Seq[Row])]) = {
    val spark = ctx.spark
    spark.catalog.clearCache()
    val t0 = Clock.nowMs
    var built = t0
    val result = ctx.op(q.name) {
      ctx.tracer.span("operators", q.name, corr) {
        val df = ctx.tracer.span("operators", s"${q.name}.build", corr)(
          q.fn(spark, data))
        built = Clock.nowMs
        (df.columns.toSeq, df.collect().toSeq)
      }
    }
    (Map("name" -> q.name, "start_ms" -> t0, "build_ms" -> (built - t0),
      "end_ms" -> Clock.nowMs), result)
  }

  /** One pass over every query, in an order drawn from `rnd`; the
    * results are digested once the pass has ended. */
  private def pass(ctx: Ctx, data: String, rnd: scala.util.Random,
      tag: String): Map[String, Any] = {
    val order = rnd.shuffle(queries)
    val t0 = Clock.nowMs
    val runs = order.map(q => runOne(ctx, q, data, s"pass:$tag:${q.name}"))
    val t1 = Clock.nowMs
    val queriesOut = runs.map { case (row, result) =>
      row + ("digest" -> result.map { case (c, r) => digest(c, r) }
        .getOrElse(""))
    }
    Map("start_ms" -> t0, "end_ms" -> t1, "queries" -> queriesOut)
  }

  /** Order-insensitive digest of a result: columns sorted by name,
    * each row rendered cell by cell, the lines sorted, SHA-256 over
    * them. Floating point goes in as its IEEE-754 bits and timestamps
    * as epoch microseconds, so `make_digests.py` renders DuckDB's
    * results the same way. */
  def digest(columns: Seq[String], rows: Seq[Row]): String = {
    val idx = columns.zipWithIndex.sortBy(_._1).map(_._2)
    def bits(d: Double): String =
      "d%016x".format(java.lang.Double.doubleToLongBits(d + 0.0))
    def cell(v: Any): String = v match {
      case null => "\\N"
      case d: Double => bits(d)
      case f: Float => bits(f.toDouble)
      case b: java.math.BigDecimal =>
        if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
      case t: java.sql.Timestamp =>
        "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
      case t: java.time.Instant =>
        "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
      case t: java.time.LocalDateTime =>
        cell(t.toInstant(java.time.ZoneOffset.UTC))
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case x => x.toString
    }
    val lines = rows.map(r => idx.map(i => cell(r.get(i))).mkString("\t"))
      .sorted
    val sha = MessageDigest.getInstance("SHA-256")
    sha.update(idx.map(columns).mkString("\t").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l =>
      sha.update('\n'.toByte)
      sha.update(l.getBytes(StandardCharsets.UTF_8))
    }
    sha.digest().map("%02x".format(_)).mkString
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  /** Bytes the queries persisted under java.io.tmpdir: their towers,
    * indexes and staged tables. */
  private def persistedBytes(): Long = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_"))
      .map(treeBytes).sum
    finally s.close()
  }

  def workload(ctx: Ctx, data: String): Map[String, Any] = {
    val spark = ctx.spark
    // the session setting graft.Bench and graft.Verify run the
    // headlines with: graft.operators.Pipeline.TokenBudget (private)
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "50000")
    val rnd = new scala.util.Random(ctx.seed)
    // set-up: one whole pass builds the persisted towers and warms the
    // JIT, as a user's first pass would; its results are checked too
    val warm = pass(ctx, data, rnd, "warm")
    val inputRows = Tables.map(t =>
      spark.read.parquet(Paths.get(data, s"$t.parquet").toString).count()).sum
    val setupEnd = Clock.nowMs
    // timed passes until the measuring time is used up (at least one);
    // a traced run measures twice as long and alternates untraced and
    // traced passes, starting and ending untraced, so warm-up does not
    // favour either half
    val out = mutable.ArrayBuffer.empty[(Boolean, Map[String, Any])]
    val halves = if (ctx.trace) 2 else 1
    val t0 = Clock.nowMs
    while (out.size < 2 * halves - 1 || (ctx.trace && out.size % 2 == 0) ||
        Clock.nowMs - t0 < halves * ctx.seconds * 1000) {
      val traced = ctx.trace && out.size % 2 == 1
      ctx.setTracing(traced)
      out += traced -> pass(ctx, data, rnd, s"p${out.size}")
    }
    ctx.setTracing(false)
    Map(
      "setup" -> Map("warmup_ms" -> (warm("end_ms").asInstanceOf[Double] -
        warm("start_ms").asInstanceOf[Double]), "end_ms" -> setupEnd),
      "warm_pass" -> warm,
      "input_rows" -> inputRows,
      "persisted_bytes" -> persistedBytes(),
      "passes" -> out.filterNot(_._1).map(_._2).toSeq,
      "traced_passes" -> out.filter(_._1).map(_._2).toSeq)
  }
}
