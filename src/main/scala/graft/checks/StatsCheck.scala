package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column statistics with optional assertions: min / max / null-rate /
  * approx-distinct (HLL++) / approx quantiles — the table-level layer the
  * reference has no analog for (SURVEY.md §2.8).
  *
  * One hash-aggregate pass per partition computes every column's stats
  * (partial + final agg, shuffle carries one row per partition). HLL++ via
  * `approx_count_distinct` keeps distinct-counting mergeable and
  * constant-memory — exact distinct at 10^12 rows would shuffle the world.
  */
final case class ColumnStatsSpec(
    column: String,
    maxNullRate: Option[Double] = None,
    min: Option[Double] = None,
    max: Option[Double] = None,
    quantiles: Seq[Double] = Nil)

final case class StatsCheck(
    columns: Seq[ColumnStatsSpec],
    partCol: String = Check.PartCol) extends RowLocalCheck {

  val name = "stats"

  def plan(df: DataFrame): RowLocalPlan = {
    def isNum(s: ColumnStatsSpec): Boolean =
      df.schema(s.column).dataType.isInstanceOf[NumericType]
    def wantsQuantiles(s: ColumnStatsSpec): Boolean = s.quantiles.nonEmpty && isNum(s)

    val aggs: Seq[(String, Column)] = columns.flatMap { s =>
      val c = col(s.column)
      Seq(
        s"${s.column}__rows" -> count(lit(1)),
        s"${s.column}__nulls" -> sum(c.isNull.cast(LongType)),
        s"${s.column}__min" ->
          (if (isNum(s)) min(c).cast(DoubleType) else lit(null).cast(DoubleType)),
        s"${s.column}__max" ->
          (if (isNum(s)) max(c).cast(DoubleType) else lit(null).cast(DoubleType))) ++
        (if (wantsQuantiles(s))
          Seq(s"${s.column}__quantiles" -> graft.sketch.functions.kll_quantiles(
            graft.sketch.functions.kll_sketch(c), s.quantiles))
         else Seq.empty)
    }

    // one verdict row per (part, column): passed = every assertion holds.
    // Columns with quantiles configured emit one extra informational row
    // per quantile (KLL estimate as metric_value, sanity-passed when it
    // sits inside [min, max]).
    def verdicts(agg: String => Column): Seq[Column] = columns.map { s =>
      val nulls = agg(s"${s.column}__nulls")
      val lo = agg(s"${s.column}__min")
      val hi = agg(s"${s.column}__max")
      val nullRate = nulls.cast(DoubleType) / agg(s"${s.column}__rows")
      val assertions = Seq(
        s.maxNullRate.map(r => nullRate <= lit(r)),
        s.min.map(m => lo.isNull || lo >= lit(m)),
        s.max.map(m => hi.isNull || hi <= lit(m)))
        .flatten
      val passed = assertions.foldLeft(lit(true))(_ && _)
      Check.verdict(s"$name:${s.column}", passed,
        when(passed, lit(0L)).otherwise(nulls), nullRate)
    } ++ columns.filter(wantsQuantiles).flatMap { s =>
      s.quantiles.zipWithIndex.map { case (p, i) =>
        val est = element_at(agg(s"${s.column}__quantiles"), i + 1)
        val inRange = est.isNull ||
          (est >= agg(s"${s.column}__min") && est <= agg(s"${s.column}__max"))
        Check.verdict(s"$name:${s.column}:q$p", inRange, lit(0L), est)
      }
    }

    RowLocalPlan(None, aggs, verdicts)
  }

  /** Wide per-partition profile (all stats as columns) — reusable as a
    * drift reference or for reporting. */
  def profile(df: DataFrame): DataFrame = {
    val aggs: Seq[Column] = columns.flatMap { s =>
      val c = col(s.column)
      val isNum = df.schema(s.column).dataType.isInstanceOf[NumericType]
      Seq(
        sum(c.isNull.cast(LongType)).as(s"${s.column}_nulls"),
        (if (isNum) min(c).cast(DoubleType) else lit(null).cast(DoubleType)).as(s"${s.column}_min"),
        (if (isNum) max(c).cast(DoubleType) else lit(null).cast(DoubleType)).as(s"${s.column}_max"),
        approx_count_distinct(c).as(s"${s.column}_distinct")) ++
        // KLL-sketch quantiles (mergeable/persistable, north-star §2.8);
        // the raw sketch blob rides along so later runs can merge profiles
        // without rescanning this one's input
        (if (s.quantiles.nonEmpty && isNum)
          Seq(
            graft.sketch.functions.kll_quantiles(
              graft.sketch.functions.kll_sketch(c), s.quantiles)
              .as(s"${s.column}_quantiles"),
            graft.sketch.functions.kll_sketch(c).as(s"${s.column}_kll"))
         else Seq.empty)
    }
    df.groupBy(col(partCol).as("part"))
      .agg(count(lit(1)).as("rows"), aggs: _*)
  }
}
