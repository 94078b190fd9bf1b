package graft

import org.apache.spark.sql.SparkSession

import graft.operators.{Dedup, IndexTower, Multimodal, Similarity}

/** IndexTower's shared freshness check, table-driven over all four
  * persisted towers (IVF-PQ, BM25, MinHash-LSH, perceptual hash):
  *
  *  - a tower missing ANY ONE of its tables rebuilds on ensure — the
  *    generation goes up by 1 (a lost META table restarts the count:
  *    the rebuild stamps gen 1) — and the serving load then succeeds.
  *    A table lost between a compaction's DROP and RENAME must
  *    rebuild, not fail the serve with TABLE_OR_VIEW_NOT_FOUND;
  *  - an untouched tower is a no-op: the generation does not move;
  *  - a `corpus_dir` mismatch rebuilds (lexical, LSH, phash; the
  *    vector tower's case lives in `PqIndexMetaSpec`). The same data
  *    spelled with a trailing slash is a different dir by the exact
  *    string compare, so the case costs no second corpus. */
class IndexTowerSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** (tower, ensure, serving load) */
  private val towers: Seq[(IndexTower, (SparkSession, String) => Any,
      SparkSession => Any)] = Seq(
    (Similarity.PqTower, Similarity.ensurePqIndex,
      s => Similarity.loadPqIndex(s).clut.count()),
    (Similarity.LexTower, Similarity.ensureLexIndex,
      s => Similarity.loadLexIndex(s).dl.count()),
    (Dedup.LshTower, Dedup.ensureLshIndex,
      s => s.table("d10_lsh_hot").count()),
    (Multimodal.PhTower, Multimodal.ensurePhashIndex,
      s => s.table("m09_ph_cks").count()))

  for ((tower, ensure, load) <- towers) {
    test(s"${tower.name}: an untouched tower is a no-op on ensure") {
      ensure(spark, sf)
      val g0 = tower.gen(spark)
      ensure(spark, sf)
      assert(tower.gen(spark) === g0)
    }

    for (t <- tower.tables)
      test(s"${tower.name}: a missing $t rebuilds on ensure, then loads") {
        ensure(spark, sf)
        val g0 = tower.gen(spark)
        spark.sql(s"DROP TABLE $t")
        ensure(spark, sf)
        assert(tower.gen(spark) === (if (t == tower.meta) 1L else g0 + 1L))
        load(spark)
        tower.tables.foreach(x => spark.table(x).head(1))
      }

    if (tower.name != "vector")
      test(s"${tower.name}: a corpus_dir mismatch rebuilds on ensure") {
        ensure(spark, sf)
        val g0 = tower.gen(spark)
        ensure(spark, sf + "/")
        assert(tower.gen(spark) === g0 + 1L)
        assert(spark.table(tower.meta).head()
          .getAs[String]("corpus_dir") === sf + "/")
        ensure(spark, sf)
        assert(tower.gen(spark) === g0 + 2L)
      }
  }
}
