package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Filter-and-verify for set-similarity near-dups (REPOSE; distributed
  * streaming similarity search): a cheap filter proposes id-level
  * candidates, an exact verify scores them, one exact threshold rule cuts
  * them. Every near-dup keep cut of the engine is a [[Cut]] of [[cuts]];
  * the LSH family also shares the skeleton [[verified]].
  *
  * A cut compares the exact rational score c/(n1+n2−c) (or c/min(n1,n2))
  * with the exact threshold p/q: one long multiply per side, `common`
  * referenced once, no division. The DuckDB twins compare the double
  * score; the two agree because double division is correctly rounded
  * and, below ~10⁷ shingles, distinct rationals differ by far more than
  * half an ulp (PropertySpec pins them equal on every boundary ±1). */
private[graft] object NearDup {

  /** `score ≥ t` for the decimal `t` a query declares. `roundedTo =
    * Some(k)` declares `round(score, k) ≥ t`, which under HALF_UP is
    * exactly `score ≥ t − ½·10⁻ᵏ` (0.9 at 4 places: 0.89995).
    * `containment` scores c/min(n1,n2) instead of Jaccard. */
  final case class Cut(t: BigDecimal, roundedTo: Option[Int] = None,
      containment: Boolean = false) {
    require(t > 0 && t <= 1 && roundedTo.forall(t.scale <= _))
    /** The exact threshold as the reduced fraction p/q. */
    val (p, q): (Long, Long) = {
      val e = roundedTo.fold(t)(k => t - BigDecimal(5L, k + 1)).bigDecimal
      val (num, den) = (e.unscaledValue, java.math.BigInteger.TEN.pow(e.scale))
      val g = num.gcd(den)
      (num.divide(g).longValueExact, den.divide(g).longValueExact)
    }
    def keep(common: Column, n1: Column, n2: Column): Column =
      if (containment) containmentAtLeast(common, n1, n2, this)
      else jaccardAtLeast(common, n1, n2, this)
  }

  // The declared cuts, each beside the queries it serves.
  val LshPair = Cut(BigDecimal("0.5")) // q_sim_pairs_lsh: 3c ≥ n1+n2
  // q_dedup_incremental_lsh, q_stream_lsh_ingest, q_dedup_cc_lsh:
  // 37999c ≥ 17999(n1+n2)
  val LshGate = Cut(BigDecimal("0.9"), Some(4))
  val Ngram = Cut(BigDecimal("0.6")) // q_dedup_ngram: 8c ≥ 3(n1+n2)
  // q_dedup_containment: 5c ≥ 4·min(n1,n2)
  val Containment = Cut(BigDecimal("0.8"), containment = true)
  val cuts: Seq[Cut] = Seq(LshPair, LshGate, Ngram, Containment)

  /** c/(n1+n2−c) ≥ p/q ⟺ (p+q)·c ≥ p·(n1+n2); no long overflow below
    * ~10¹⁴ shingles. */
  def jaccardAtLeast(common: Column, n1: Column, n2: Column,
      cut: Cut): Column =
    common * lit(cut.p + cut.q) >= (n1 + n2) * lit(cut.p)

  /** c/min(n1,n2) ≥ p/q ⟺ q·c ≥ p·min(n1,n2). */
  def containmentAtLeast(common: Column, n1: Column, n2: Column,
      cut: Cut): Column =
    common * lit(cut.q) >= least(n1, n2) * lit(cut.p)

  /** The emitted Jaccard score: the double c/(n1+n2−c), rounded 4. */
  def jaccard(common: Column, n1: Column, n2: Column): Column =
    round(common.cast("double") / (n1 + n2 - common), 4)

  /** Steps 2-5 of filter-and-verify over id-level candidates
    * `cands(d1, d2)`, one row per filter hit: dedup the skinny id pair,
    * attach each side's set by id from `sets1` / `sets2` (doc_id, sarr),
    * intersect once, cut. Returns the kept (d1, d2, common, n1, n2).
    * Dedup first: a pair collides once per shared band (sf0.1: 933 band
    * collisions → 267 pairs; the gate 345 → 100), so verifying first
    * intersects ~3.5× as many set pairs, and on 4 cores ran no faster.
    * Catalyst pushes the cut into the attach join's condition with
    * `common` inlined once, and the Project above recomputes it only
    * for the kept pairs (PlanShapeSpec). */
  def verified(cands: DataFrame, sets1: DataFrame, sets2: DataFrame,
      cut: Cut): DataFrame =
    cands.dropDuplicates("d1", "d2")
      .join(sets1.select(col("doc_id").as("d1"), col("sarr").as("sa")),
        Seq("d1"))
      .join(sets2.select(col("doc_id").as("d2"), col("sarr").as("sb")),
        Seq("d2"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("sa"), col("sb"))).cast("long")
          .as("common"),
        size(col("sa")).cast("long").as("n1"),
        size(col("sb")).cast("long").as("n2"))
      .filter(cut.keep(col("common"), col("n1"), col("n2")))
}
