package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** THE nightly index-maintenance driver (the r18 VERDICT's item 4):
  * one entry point keeping every persisted serving tower fresh, so a
  * deployment's index upkeep is a single scheduled call instead of
  * three per-tower jobs whose relative order and dial sources each
  * operator had to document separately:
  *
  *   - VECTOR (s18 IVF-PQ): `ensurePqIndex` (build-if-absent or
  *     fingerprint-stale) then `maintainPqIndex` (s29 — measured
  *     recall audit → rebuild on floor/drift breach);
  *   - LEXICAL (s21 BM25 postings): `ensureLexIndex` then
  *     `maintainLexIndex` (s30 — coverage + sampled dl recheck);
  *   - LSH BUCKETS (d10 MinHash bands): `ensureLshIndex` then
  *     `maintainLshIndex` (coverage + geometry + sampled band
  *     recheck);
  *   - PHASH (st24's floored perceptual band index + sub-floor
  *     checksums): `ensurePhashIndex` then `maintainPhashIndex`
  *     (coverage + count-derived geometry + tier-aware sampled
  *     recheck — m10 proves the loop load-bearing).
  *
  * ENSURE catches fingerprint staleness (wrong corpus dir, re-dialed
  * geometry/serving confs, schema drift, a partial scope, a missing
  * table) and builds
  * when the tower does not exist yet — first-run robustness; the
  * AUDIT catches content staleness the fingerprint cannot see (the
  * corpus changed under an index whose meta still matches). Every
  * audit is bounded (sampled referee / counts — never a corpus
  * re-tokenization or re-shingling); every rebuild stamps a new
  * GENERATION, which running serving streams (st17/st18/st19) pick
  * up on their next micro-batch through their generation caches —
  * no restart (`PqMaintainSpec` / `StreamLexRefreshSpec` prove the
  * mid-stream swap per tower).
  *
  * DIAL PRECEDENCE: each tower's floor dial takes an explicit
  * override argument (the recall floor on the vector tower, the
  * coverage floor on the others) > the session conf (vector tower
  * only: `spark.graft.minCandRecall` / `spark.graft.maxRecallDrift`)
  * > the compiled default (`LexMinCoverage`/`LexMaxDlMismatch`,
  * `LshMinCoverage`/`LshMaxBandDefect`, `PhMinCoverage`/
  * `PhMaxDefect`). The mismatch/defect ceilings are compiled only. An
  * unset vector dial disables that trigger (-1), matching
  * `maintainPqIndex` run standalone.
  *
  * COMPACTION is deliberately NOT in this loop: `compactPqCodes`
  * (s26) and `compactLexIndex` (s23) are layout-only OPTIMIZE passes
  * with their own single-writer maintenance-window contract, run on
  * fragmentation pressure rather than nightly (CONFIGURATION.md's
  * "append nightly, compact weekly" cadence).
  *
  * Returns one row per tower — (tower, rebuilt, audit_due, gen) —
  * where `rebuilt` is a generation-stamp comparison around the call
  * (true whether the ENSURE or the AUDIT path rebuilt) and
  * `audit_due` is the content-audit verdict alone. */
object Maintenance {

  def maintainIndexes(s: SparkSession, d: String,
      pqFloorOverride: Option[Double] = None,
      lexMinCoverageOverride: Option[Double] = None,
      lshMinCoverageOverride: Option[Double] = None,
      phMinCoverageOverride: Option[Double] = None): DataFrame = {
    // (tower, ensure, audit → rebuild when due)
    val towers: Seq[(IndexTower, () => Any, () => Boolean)] = Seq(
      (Similarity.PqTower, () => Similarity.ensurePqIndex(s, d),
        () => Similarity.maintainPqIndex(s, d, pqFloorOverride)),
      (Similarity.LexTower, () => Similarity.ensureLexIndex(s, d),
        () => Similarity.maintainLexIndex(s, d, lexMinCoverageOverride)),
      (Dedup.LshTower, () => Dedup.ensureLshIndex(s, d),
        () => Dedup.maintainLshIndex(s, d, lshMinCoverageOverride)),
      (Multimodal.PhTower, () => Multimodal.ensurePhashIndex(s, d),
        () => Multimodal.maintainPhashIndex(s, d, phMinCoverageOverride)))
    val rows = towers.map { case (tower, ensure, maintain) =>
      val g0 = tower.prevGen(s)
      ensure()
      val due = maintain()
      val g1 = tower.gen(s)
      (tower.name, g1 != g0, due, g1)
    }
    import s.implicits._
    rows.toDF("tower", "rebuilt", "audit_due", "gen")
  }
}
