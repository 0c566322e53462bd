package graft.checks

import graft.sketch.{functions => gf, KllSketch}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** KS drift against a PERSISTED reference profile: the reference side is a
  * serialized [[KllSketch]] (built once from a clean sample and stored in
  * the checkpoint/profile table), not a raw sample that would have to be
  * re-scanned every run — at 10^12 rows re-aggregating the reference each
  * time is the difference between a KB read and a full second pipeline.
  *
  * The observed side aggregates one sketch per partition (partial+final
  * hash agg, shuffle carries one blob per partition per task); the KS
  * statistic against the profile literal is scored in the plan by
  * `kll_ks`, on aggregated rows only — nothing is collected.
  */
final case class SketchDriftCheck(
    column: String,
    referenceSketch: Array[Byte],
    threshold: Double = 0.05,
    k: Int = KllSketch.DefaultK,
    partCol: String = Check.PartCol) extends RowLocalCheck {

  val name = s"drift_kll_ks:$column"

  def plan(df: DataFrame): RowLocalPlan = {
    // kll_ks is NULL when either sketch is empty; KllSketch.ksDistance
    // reads 0.0 for two empty sketches and 1.0 for one (an all-NULL part
    // drifts maximally)
    val emptyRef = KllSketch.deserialize(referenceSketch).isEmpty
    def distance(sketch: Column): Column = coalesce(
      gf.kll_ks(sketch, lit(referenceSketch)),
      if (emptyRef) when(gf.kll_cdf(sketch, Seq(0.0)).isNull, lit(0.0)).otherwise(lit(1.0))
      else lit(1.0))
    RowLocalPlan(
      violations = None,
      aggregates = Seq("sketch" -> gf.kll_sketch(col(column).cast(DoubleType), k)),
      verdicts = agg => {
        val d = distance(agg("sketch"))
        Seq(Check.verdict(name, d <= threshold, lit(0L), d))
      })
  }
}

object SketchDriftCheck {
  /** Build a reference profile sketch from a clean sample (run once,
    * persist the bytes in the profile/checkpoint table). */
  def buildProfile(df: DataFrame, column: String,
                   k: Int = KllSketch.DefaultK): Array[Byte] =
    df.agg(gf.kll_sketch(col(column).cast(DoubleType), k))
      .head().getAs[Array[Byte]](0)
}
