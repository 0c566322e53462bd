package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Distribution-drift checks against a reference sample (SURVEY.md §2.8):
  * two-sample Kolmogorov–Smirnov on a numeric column and chi-square on a
  * categorical/token histogram.
  *
  * Scale design: both reduce the 10^12-row input to a bounded histogram
  * FIRST (groupBy value/bin with partial aggregation — the shuffle carries
  * at most bins × partitions rows), then do CDF/expected-count arithmetic
  * on the tiny aggregated frame. The window functions below therefore sort
  * hundreds of rows, not the input. No sample-sized sort-merge anywhere.
  */
final case class KsDriftCheck(
    column: String,
    reference: DataFrame,
    threshold: Double = 0.05,
    bin: Column => Column = identity,
    partCol: String = Check.PartCol,
    partsUniverse: Option[DataFrame] = None) extends Check {

  val name = s"drift_ks:$column"
  override def withPartsUniverse(parts: DataFrame): Check =
    copy(partsUniverse = Some(parts))

  def run(df: DataFrame): CheckResult = {
    val spark = df.sparkSession
    val b = bin(col(column)).as("bin")

    val obs = df.where(col(column).isNotNull)
      .groupBy(col(partCol).as("part"), b).agg(count(lit(1)).as("o_cnt"))
    val ref = reference.where(col(column).isNotNull)
      .groupBy(b).agg(count(lit(1)).as("r_cnt"))

    // replicate the (small) reference histogram per observed partition so
    // the CDF union is computed per part
    val parts = Check.partsDf(df, partCol, partsUniverse).toDF("part")
    val refPerPart = parts.crossJoin(broadcast(ref))

    val joined = obs.join(refPerPart, Seq("part", "bin"), "full_outer")
      .select(col("part"), col("bin"),
        coalesce(col("o_cnt"), lit(0L)).as("o_cnt"),
        coalesce(col("r_cnt"), lit(0L)).as("r_cnt"))

    val byPart = Window.partitionBy("part")
    val cumul = Window.partitionBy("part").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // greatest(total, 1): a part whose column is entirely NULL has zero
    // observed mass — its CDF flatlines at 0 and the check fails loudly
    // with D = 1 instead of ANSI-throwing on 0/0
    val withCdf = joined
      .withColumn("o_cdf", sum("o_cnt").over(cumul).cast(DoubleType) /
        greatest(sum("o_cnt").over(byPart), lit(1L)))
      .withColumn("r_cdf", sum("r_cnt").over(cumul).cast(DoubleType) /
        greatest(sum("r_cnt").over(byPart), lit(1L)))

    val verdicts = withCdf
      .groupBy("part")
      .agg(max(abs(col("o_cdf") - col("r_cdf"))).as("metric_value"))
      .select(
        col("part"),
        lit(name).as("check"),
        (col("metric_value") <= lit(threshold)).as("passed"),
        lit(0L).as("violation_count"),
        col("metric_value"))

    CheckResult(Check.emptyViolations(spark), verdicts)
  }
}

/** Chi-square drift over a histogram (e.g. token frequencies via
  * `explode(tokens)`). `keyExpr` maps a row to the histogram key column —
  * pass `explode(col("tokens"))` for token histograms or `col("source")`
  * for categorical columns. Expected counts come from the reference's
  * relative frequencies scaled to each partition's total, floored at 0.5
  * to keep the statistic finite for unseen categories. */
final case class Chi2DriftCheck(
    keyName: String,
    keyExpr: Column,
    reference: DataFrame,
    refKeyExpr: Column,
    threshold: Double,
    keyTransform: Column => Column = identity,
    partCol: String = Check.PartCol,
    partsUniverse: Option[DataFrame] = None) extends Check {

  val name = s"drift_chi2:$keyName"
  override def withPartsUniverse(parts: DataFrame): Check =
    copy(partsUniverse = Some(parts))

  def run(df: DataFrame): CheckResult = {
    val spark = df.sparkSession

    // generators (explode) must be top-level in a select; the transform
    // (e.g. bucketing `% B`) is applied in a second projection
    val obs = df.select(col(partCol).as("part"), keyExpr.as("key0"))
      .select(col("part"), keyTransform(col("key0")).as("key"))
      .where(col("key").isNotNull)
      .groupBy("part", "key").agg(count(lit(1)).as("o_cnt"))

    val refHist = reference.select(refKeyExpr.as("key0"))
      .select(keyTransform(col("key0")).as("key"))
      .where(col("key").isNotNull)
      .groupBy("key").agg(count(lit(1)).as("r_cnt"))
    // the reference total stays a lazy 1-row cross-join (a `.head()` here
    // would serialize an extra driver-side job per check mid-plan);
    // greatest(…, 1) keeps an empty reference from ANSI-throwing on /0
    val refTotal = refHist.agg(
      greatest(sum("r_cnt").cast(DoubleType), lit(1.0)).as("_rt"))
    val refFrac = refHist.crossJoin(broadcast(refTotal))
      .select(col("key"), (col("r_cnt") / col("_rt")).as("p"))

    val parts = Check.partsDf(df, partCol, partsUniverse).toDF("part")
    val refPerPart = parts.crossJoin(broadcast(refFrac))

    val joined = obs.join(refPerPart, Seq("part", "key"), "full_outer")
      .select(col("part"),
        coalesce(col("o_cnt"), lit(0L)).cast(DoubleType).as("o"),
        coalesce(col("p"), lit(0.0)).as("p"))

    val totals = joined.groupBy("part").agg(sum("o").as("n"))
    val chi2 = joined.join(totals, Seq("part"))
      .select(col("part"),
        pow(col("o") - col("p") * col("n"), 2) /
          greatest(col("p") * col("n"), lit(0.5)) as "term")
      .groupBy("part")
      .agg(sum("term").as("metric_value"))

    val verdicts = chi2.select(
      col("part"),
      lit(name).as("check"),
      (col("metric_value") <= lit(threshold)).as("passed"),
      lit(0L).as("violation_count"),
      col("metric_value"))

    CheckResult(Check.emptyViolations(spark), verdicts)
  }
}

/** Population Stability Index — the standard production-ML drift metric
  * (Σ (oᵢ−rᵢ)·ln(oᵢ/rᵢ) over bins of observed vs reference PROPORTIONS;
  * conventional reading: <0.1 stable, 0.1–0.25 moderate shift, >0.25
  * drifted — the default threshold). Complements KS (sensitive to the
  * largest single CDF gap) and chi² (count-scaled): PSI is scale-free in
  * the sample sizes, so the same threshold works for a 10^6-row part and
  * a 10^10-row part. Zero-mass bins on either side are clamped to
  * `epsilon` — the standard finite-PSI convention; an unseen-in-reference
  * bin thus contributes a large-but-finite term instead of ∞.
  *
  * Same scale shape as the other drift checks: the input reduces to a
  * bounded per-part histogram first (partial-combine groupBy); the PSI
  * arithmetic runs on the tiny aggregated frame, reference broadcast. */
final case class PsiDriftCheck(
    column: String,
    reference: DataFrame,
    threshold: Double = 0.25,
    bin: Column => Column = identity,
    epsilon: Double = 1e-6,
    partCol: String = Check.PartCol,
    partsUniverse: Option[DataFrame] = None) extends Check {

  require(epsilon > 0.0, "epsilon must be positive (keeps PSI finite)")
  val name = s"drift_psi:$column"
  override def withPartsUniverse(parts: DataFrame): Check =
    copy(partsUniverse = Some(parts))

  def run(df: DataFrame): CheckResult = {
    val spark = df.sparkSession
    val b = bin(col(column)).as("bin")

    val obs = df.where(col(column).isNotNull)
      .groupBy(col(partCol).as("part"), b).agg(count(lit(1)).as("o_cnt"))
    val refHist = reference.where(col(column).isNotNull)
      .groupBy(b).agg(count(lit(1)).as("r_cnt"))
    // lazy 1-row totals (see Chi2DriftCheck for why not .head())
    val refTotal = refHist.agg(
      greatest(sum("r_cnt").cast(DoubleType), lit(1.0)).as("_rt"))
    val refFrac = refHist.crossJoin(broadcast(refTotal))
      .select(col("bin"), (col("r_cnt") / col("_rt")).as("r"))

    val parts = Check.partsDf(df, partCol, partsUniverse).toDF("part")
    val refPerPart = parts.crossJoin(broadcast(refFrac))

    val joined = obs.join(refPerPart, Seq("part", "bin"), "full_outer")
      .select(col("part"),
        coalesce(col("o_cnt"), lit(0L)).cast(DoubleType).as("o_cnt"),
        coalesce(col("r"), lit(0.0)).as("r"))
    val totals = joined.groupBy("part")
      .agg(greatest(sum("o_cnt"), lit(1.0)).as("n"))
    val psi = joined.join(totals, Seq("part"))
      .select(col("part"),
        (greatest(col("o_cnt") / col("n"), lit(epsilon)) -
          greatest(col("r"), lit(epsilon))).as("_d"),
        (greatest(col("o_cnt") / col("n"), lit(epsilon)) /
          greatest(col("r"), lit(epsilon))).as("_q"))
      .select(col("part"), (col("_d") * log(col("_q"))).as("term"))
      .groupBy("part")
      .agg(sum("term").as("metric_value"))

    val verdicts = psi.select(
      col("part"),
      lit(name).as("check"),
      (col("metric_value") <= lit(threshold)).as("passed"),
      lit(0L).as("violation_count"),
      col("metric_value"))

    CheckResult(Check.emptyViolations(spark), verdicts)
  }
}
