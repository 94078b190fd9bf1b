package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** One PERSISTED INDEX TOWER — the lifecycle the four serving towers
  * (IVF-PQ `s18_pq_*`, BM25 `s21_lex_*`, MinHash-LSH `d10_lsh_*`,
  * perceptual hash `m09_ph_*`) share, owned once so the generation
  * stamp and the drop+rename swap that exactly-once serving rests on
  * are reviewed in one place. A tower keeps only its build, its
  * fingerprint fields and its audit; this owns the rest:
  *
  *   - STORAGE: `tables` (meta first), each an external table at
  *     `graft_<table>-<hash(d)>` under the JVM tmpdir;
  *   - the META row: the tower's own `fields`, plus `corpus_dir`,
  *     `schema_ver` and a monotone GENERATION `gen` stamped by every
  *     write (build, delta append, compaction) so serving streams'
  *     [[IndexTower.GenCache]]s see "the index moved" on their next
  *     micro-batch without a restart;
  *   - FRESHNESS: [[ensure]] rebuilds unless every table exists, the
  *     meta has every column, and every fingerprint field matches —
  *     a table lost mid-swap rebuilds instead of failing the serve;
  *   - COMPACTION: [[IndexTower.compact]]'s generation-dir swap with
  *     its crash-window recovery. */
private[graft] final case class IndexTower(name: String,
    tables: Seq[String], fields: Seq[String], schemaVer: Int) {

  def meta: String = tables.head

  /** Drop cached file listings: a rebuild overwrites the tables in
    * place (possibly from another session — the nightly job next to a
    * serving stream), and a reader holding the pre-overwrite listing
    * would FAILED_READ_FILE on the deleted parts. Listing-only — the
    * next read re-lists one directory per table. */
  def refresh(s: SparkSession): Unit = IndexTower.refresh(s, tables)

  /** The generation the meta carries, 0 when absent or pre-`gen`. */
  def prevGen(s: SparkSession): Long =
    try {
      IndexTower.refresh(s, Seq(meta))
      val mt = s.table(meta)
      if (mt.columns.contains("gen")) mt.head().getAs[Long]("gen")
      else 0L
    } catch { case _: Exception => 0L }

  /** The GENERATION probe — one 1-row meta read, the steady-state
    * per-micro-batch freshness check of the serving streams. */
  def gen(s: SparkSession): Long = {
    IndexTower.refresh(s, Seq(meta))
    s.table(meta).head().getAs[Long]("gen")
  }

  /** Finish a build: write the meta (`row` holds the tower's own
    * fields) stamped with `d`, the schema version and gen + 1, then
    * clear any -a/-b generation dir a prior compaction left under a
    * table's base path — orphaned now the rebuild re-pointed the table
    * there, and otherwise mistaken for a crash orphan by the next
    * compaction. Cleared only AFTER the stamp: a cache still holding
    * the old generation re-probes and lands on the fresh build before
    * the old files disappear. */
  def stampMeta(s: SparkSession, d: String, row: DataFrame): Unit = {
    IndexTower.save(d, row.withColumn("corpus_dir", lit(d))
      .withColumn("schema_ver", lit(schemaVer))
      .withColumn("gen", lit(prevGen(s) + 1L)), meta)
    for (t <- tables.tail; g <- Seq("-a", "-b"))
      IndexTower.deleteDir(IndexTower.path(d, t) + g)
  }

  /** Rewrite the meta with gen + 1, every other field verbatim unless
    * `overrides` names it — the stamp of a delta append and of a
    * compaction (normal path and crash recovery). */
  def bumpGen(s: SparkSession, d: String, overrides: (String, Any)*): Unit = {
    val mt = s.table(meta)
    val m = mt.head()
    val set = overrides.toMap + ("gen" -> (m.getAs[Long]("gen") + 1L))
    val row = Row.fromSeq(mt.schema.fieldNames.toSeq
      .map(f => set.getOrElse(f, m.getAs[Any](f))))
    IndexTower.save(d,
      s.createDataFrame(java.util.List.of(row), mt.schema), meta)
  }

  /** Build via `build` unless the persisted tower is FRESH for `d`:
    * every table exists, the meta carries every column, `corpus_dir`
    * is exactly `d` (not a hash — colliding dirs would serve the wrong
    * index), `schema_ver` is current, each `fingerprint` field equals
    * its expected value, and the tower-specific `extra` holds. */
  def ensure(s: SparkSession, d: String, fingerprint: Seq[(String, Any)],
      extra: => Boolean = true)(build: => Unit): Unit = {
    refresh(s)
    val cat = s.sessionState.catalog
    val fp = fingerprint ++ Seq("corpus_dir" -> d, "schema_ver" -> schemaVer)
    val fresh = tables.forall(t => cat.tableExists(TableIdentifier(t))) && {
      val mt = s.table(meta)
      (fields ++ Seq("corpus_dir", "schema_ver", "gen"))
        .forall(mt.columns.contains) && {
        val m = mt.head()
        fp.forall { case (k, v) => m.getAs[Any](k) == v } && extra
      }
    }
    if (!fresh) build
  }
}

private[graft] object IndexTower {

  def path(d: String, table: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$table-" +
      Integer.toHexString(d.hashCode)

  /** Overwrite `table` at its tower path, bucketed (8 buckets, sorted)
    * on `bucketCol` when given. */
  def save(d: String, df: DataFrame, table: String,
      bucketCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").option("path", path(d, table))
    bucketCol match {
      case Some(bc) => w.bucketBy(8, bc).sortBy(bc).saveAsTable(table)
      case None => w.saveAsTable(table)
    }
  }

  def refresh(s: SparkSession, tables: Seq[String]): Unit =
    tables.foreach { t =>
      try s.catalog.refreshTable(t)
      catch { case _: Exception => () } // missing table: nothing cached
    }

  def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** The bounded audits' doc sample: an md5-Bernoulli gate over
    * `doc_id` (salted per tower, so the samples stay independent)
    * admitting E[`expected`] of the `n` docs — never a corpus pass. */
  def auditSample(docs: DataFrame, salt: String, expected: Long,
      n: Long): DataFrame = {
    val thresh = (expected * 4294967296L - 1L) / math.max(1L, n) + 1L
    docs.filter(conv(substring(md5(concat(lit(salt),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
      < lit(thresh))
  }

  /** The audits' one-row verdict over `sampled` (one row holding
    * `n_sample` and the `defects` count): index vs corpus doc counts,
    * COVERAGE (their ratio), the sampled defect fraction `frac` (0
    * over an empty sample), the geometry bit when the tower has one,
    * and `rebuild_due` — coverage under `minCov`, defect fraction over
    * `maxFrac`, or a geometry mismatch. */
  def auditVerdict(sampled: DataFrame, ndIndex: Long, ndCorpus: Long,
      defects: String, frac: String, minCov: Double, maxFrac: Double,
      geomOk: Option[Boolean] = None): DataFrame = {
    val coverage = lit(ndIndex).cast("double") / lit(ndCorpus).cast("double")
    val fr = coalesce(col(defects).cast("double")
      / nullif(col("n_sample").cast("double"), lit(0.0)), lit(0.0))
    sampled.select(Seq(lit(ndIndex).as("nd_index"),
        lit(ndCorpus).as("nd_corpus"), col("n_sample"), col(defects),
        coverage.as("coverage"), fr.as(frac)) ++
      geomOk.map(g => lit(g).as("geom_ok")) :+
      (coverage < lit(minCov) || fr > lit(maxFrac) ||
        lit(!geomOk.getOrElse(true))).as("rebuild_due"): _*)
  }

  /** The nightly "audit → rebuild when due" step every tower's
    * maintenance runs; returns whether the rebuild ran. */
  def rebuildIfDue(audit: DataFrame)(rebuild: => Unit): Boolean = {
    val due = audit.head().getAs[Boolean]("rebuild_due")
    if (due) rebuild
    due
  }

  /** OPTIMIZE swap shared by every compaction (s17, s23, s26): each
    * `(table, write)` rewrites the live table into its sibling
    * GENERATION dir (-a/-b alternating) under `<table>_next` via
    * `write(frame, nextPath, stagingName)`, then swaps it in by
    * DROP + RENAME — a single-writer maintenance window. The read runs
    * with auto-bucketed-scan off, so a bucketed table scans one
    * partition per bucket and its bucketed rewrite lands one file per
    * bucket without an exchange. After every swap, `bumpGen` stamps
    * the meta generation and only THEN are the superseded dirs
    * deleted: a crash anywhere in between leaves a serving cache at
    * either (old gen, old files) or (new gen, new files) — both
    * readable. */
  def compact(s: SparkSession, bumpGen: () => Unit)(
      rewrites: (String, (DataFrame, String, String) => Unit)*): Unit = {
    val scanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = s.conf.get(scanKey, "true")
    s.conf.set(scanKey, "false")
    val superseded =
      try rewrites.map { case (t, w) => swap(s, t, bumpGen, w) }
      finally s.conf.set(scanKey, prev)
    bumpGen()
    superseded.foreach(deleteDir)
  }

  /** One table's swap; returns the superseded generation's dir.
    *
    * Crash recovery runs FIRST: the DROP→RENAME swap is two
    * statements, so a crash between them leaves no live table and the
    * new generation under the staging name as the ONLY copy — the
    * interrupted rename completes before the defensive staging DROP
    * that would otherwise destroy it. If the sibling dir this run
    * writes already exists, a prior run died after its swap but
    * before its meta bump, and that dir IS the superseded generation
    * a serving cache may still list: `bumpGen` runs first (forcing
    * caches onto the live layout) and only then is the dir cleared.
    * For a benign orphan (a crash before the swap left the unswapped
    * copy no cache ever listed) the extra bump is a harmless spurious
    * reload — gen is an opaque monotonic counter. */
  private def swap(s: SparkSession, live: String, bumpGen: () => Unit,
      write: (DataFrame, String, String) => Unit): String = {
    val cat = s.sessionState.catalog
    val staging = live + "_next"
    val liveId = TableIdentifier(live)
    if (!cat.tableExists(liveId) && cat.tableExists(TableIdentifier(staging)))
      s.sql(s"ALTER TABLE $staging RENAME TO $live")
    val cur = cat.getTableMetadata(liveId).location.getPath
      .stripSuffix("/")
    val base = cur.stripSuffix("-a").stripSuffix("-b")
    val next = if (cur.endsWith("-a")) s"$base-b" else s"$base-a"
    // a prior crash after the staging write leaves an orphaned staging
    // table whose metadata saveAsTable would trip over
    s.sql(s"DROP TABLE IF EXISTS $staging")
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(next))) {
      bumpGen()
      deleteDir(next)
    }
    write(s.table(live), next, staging)
    s.sql(s"DROP TABLE $live")
    s.sql(s"ALTER TABLE $staging RENAME TO $live")
    cur
  }

  /** Generation-keyed handle on a persisted tower for the serving
    * streams (st17/st18/st19/st23): the steady-state micro-batch pays
    * ONE 1-row generation probe instead of a full reload, while a
    * nightly rebuild, delta append or compaction that stamps a new
    * generation is picked up on the NEXT micro-batch without
    * restarting the stream (`StreamIndexRefreshSpec`,
    * `StreamLexRefreshSpec`). Synchronized: foreachBatch epochs are
    * sequential per query, but two serving streams may share a
    * cache. */
  final class GenCache[I](s0: SparkSession, tower: IndexTower,
      load: SparkSession => I) {
    private var cached: (Long, I) = (tower.gen(s0), load(s0))
    def current(sess: SparkSession): I = synchronized {
      val g = tower.gen(sess)
      if (g != cached._1) cached = (g, load(sess))
      cached._2
    }
    /** Generation of the index the LAST `current()` call served. */
    def lastGen: Long = synchronized(cached._1)
  }
}
