package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A table-level check producing the two canonical output shapes
  * (FIXTURES.md §5):
  *
  *  - violations: (part, doc_id, path, keyword, message,
  *    additional_properties, check) — the table-level extension of jsen's
  *    error records (/root/reference/lib/jsen.js:871-903);
  *  - verdicts: (part, check, passed, violation_count, metric_value) —
  *    per-Iceberg-partition pass/fail, the analog of `validate(data)`'s
  *    boolean return re-expressed per partition.
  */
final case class CheckResult(violations: DataFrame, verdicts: DataFrame)

/** Every check's `run` evaluates it alone. Inside [[graft.pipeline.ValidationPipeline]]
  * checks come in two kinds:
  *
  *  - row-local ([[RowLocalCheck]]): violations are a function of each
  *    row alone and verdicts a function of per-part aggregates. The
  *    pipeline evaluates all of them together in two plans: one
  *    projection + explode for the violations and one `groupBy(part)`
  *    aggregate for the verdicts (and the row counts);
  *  - everything else (uniqueness, the anti-join referential check, the
  *    histogram drift checks) needs a shuffle or a join and is evaluated
  *    by its own `run`.
  *
  * A custom check becomes row-local by extending [[RowLocalCheck]] and
  * declaring a [[RowLocalPlan]] instead of implementing `run`.
  */
trait Check extends Serializable {
  def name: String
  def run(df: DataFrame): CheckResult

  /** Global checks (e.g. uniqueness) have cross-partition semantics: a
    * duplicate pair can span a committed and a pending partition. On
    * resume the pipeline feeds them the FULL input and filters their
    * outputs to pending partitions, so a resumed run's outputs are
    * identical to an uninterrupted run's. (The 10^12-scale alternative —
    * a persisted mergeable key-count sketch per partition — keeps the
    * same Check interface; this flag is the contract either way.) */
  def isGlobal: Boolean = false

  /** Inject the partition universe as a one-column frame (first column =
    * part). Standalone `run(df)` of a check that joins its per-part
    * results against the universe discovers partitions itself (a
    * distinct scan of the partition column); callers who know the
    * universe hand it over so that scan never happens. The pipeline
    * passes its cached per-part aggregate, so no check repeats discovery.
    * Default: ignore (row-local checks aggregate `groupBy(part)` directly
    * and never discover). */
  def withPartsUniverse(parts: DataFrame): Check = this

  /** [[withPartsUniverse]] with a literal list (e.g. from a table catalog). */
  final def withKnownParts(parts: Seq[Int]): Check = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    withPartsUniverse(parts.toDF(Check.PartCol))
  }
}

/** What a row-local check contributes to one evaluation over an input.
  * Built once per evaluation ([[RowLocalCheck.plan]]), so per-run setup —
  * compiling a constraint spec, building a Bloom filter — happens once
  * and is shared by the violation and verdict plans.
  *
  * @param violations per row, the doc id and an array of [[Check.error]]
  *   structs (NULL or empty when the row has none); None when the check
  *   never emits violation rows (its inputs then need no id column)
  * @param aggregates per-part aggregate columns by name; names are
  *   private to the check (the evaluator prefixes them per check)
  * @param verdicts the check's verdict rows for one part, as
  *   [[Check.verdict]] structs over its aggregates, looked up by name
  */
final case class RowLocalPlan(
    violations: Option[(Column, Column)],
    aggregates: Seq[(String, Column)],
    verdicts: (String => Column) => Seq[Column])

/** A check whose violations need only the row and whose verdicts need
  * only per-part aggregates. Its standalone `run` is the one-check case
  * of the same two plans the pipeline runs for all row-local checks
  * ([[RowLocalCheck.Fused]]). */
trait RowLocalCheck extends Check {
  def partCol: String
  def plan(df: DataFrame): RowLocalPlan

  final def run(df: DataFrame): CheckResult = {
    val fused = new RowLocalCheck.Fused(Seq(this), df, partCol)
    CheckResult(fused.violations, fused.verdicts(fused.aggregate(Nil)))
  }
}

object RowLocalCheck {
  private val noViolations: Column =
    array().cast(ArrayType(Check.violationType, containsNull = false))

  /** Row-local checks planned once each over `df` (grouped by `keys`,
    * then `partCol` cast to int) and evaluated together:
    *
    *  - [[violations]]: one projection of every check's doc ids and error
    *    arrays, then one explode of their concatenation;
    *  - [[aggregate]]: one `groupBy(keys, part)` carrying `n_rows` plus
    *    every check's aggregates (partial + final hash aggregate; the
    *    shuffle carries one row per group per task), reduced to every
    *    check's verdict structs;
    *  - [[verdicts]]: one explode of those structs — a select over the
    *    aggregate frame, no further input scan.
    *
    * `keys` name columns of `df` that group ahead of the part and lead
    * both aggregate and verdict rows: the batch pipeline passes none; a
    * watermarked stream passes its event-time window
    * ([[graft.streaming.StreamingValidation.windowedVerdicts]]), whose
    * mergeable per-group aggregates are then the streaming state.
    */
  final class Fused(checks: Seq[RowLocalCheck], df: DataFrame, partCol: String,
                    keys: Seq[String] = Nil) {
    private val part = col(partCol).cast(IntegerType).as(Check.PartCol)
    private val plans = checks.map(_.plan(df))
    // two checks of one class (e.g. two StatsChecks) declare the same names
    private def aggName(i: Int, n: String) = s"_c${i}_$n"

    def violations: DataFrame = {
      val declared = checks.zip(plans).zipWithIndex.collect {
        case ((c, RowLocalPlan(Some((id, errs)), _, _)), i) => (c.name, id, errs, i) }
      if (declared.isEmpty) Check.emptyViolations(df.sparkSession)
      else {
        // the error arrays are projected first, so the element-wise
        // transform below reads each one instead of re-evaluating it
        val projected = df.select(part +: declared.flatMap { case (_, id, errs, i) =>
          Seq(id.cast(StringType).as(s"_id$i"), errs.as(s"_errs$i")) }: _*)
        val rows = declared.map { case (name, _, _, i) =>
          coalesce(transform(col(s"_errs$i"), e => struct(
            col(s"_id$i").as("doc_id"), e("path").as("path"), e("keyword").as("keyword"),
            e("message").as("message"),
            e("additionalProperties").as("additional_properties"),
            lit(name).as("check"))), noViolations)
        }
        projected.select(col(Check.PartCol), explode(concat(rows: _*)).as("v"))
          .select(col(Check.PartCol) +:
            Check.violationType.fieldNames.toSeq.map(n => col(s"v.$n")): _*)
      }
    }

    private val grouping = keys.map(col) :+ col(Check.PartCol)

    /** Per (keys, part): the keys, `part`, `n_rows` and `verdicts`, the
      * array of `extra` verdict structs (over `n_rows`, e.g.
      * [[RowLocalCheck.rowCount]]) and every check's. Aggregates no
      * verdict reads are pruned from the plan. */
    def aggregate(extra: Seq[Column]): DataFrame = {
      val verdicts = extra ++ plans.zipWithIndex.flatMap { case (p, i) =>
        p.verdicts(n => col(aggName(i, n))) }
      df.groupBy(keys.map(col) :+ part: _*)
        .agg(count(lit(1)).as("n_rows"), plans.zipWithIndex.flatMap { case (p, i) =>
          p.aggregates.map { case (n, c) => c.as(aggName(i, n)) } }: _*)
        .select(grouping ++ Seq(col("n_rows"), array(verdicts: _*).as("verdicts")): _*)
    }

    /** The verdict rows of an [[aggregate]] frame, led by the keys. */
    def verdicts(agg: DataFrame): DataFrame =
      agg.select(grouping :+ explode(col("verdicts")).as("v"): _*).select(
        grouping ++ Seq("check", "passed", "violation_count", "metric_value")
          .map(n => col(s"v.$n")): _*)
  }

  /** The `row_count` verdict over an [[Fused.aggregate]] frame: always
    * passed, the group's row count as its metric. */
  val rowCount: Column = Check.verdict("row_count", lit(true), lit(0L), col("n_rows"))
}

object Check {
  val PartCol = "part"
  val IdCol = "doc_id"

  val violationsSchema: StructType = StructType(Seq(
    StructField("part", IntegerType),
    StructField("doc_id", StringType),
    StructField("path", StringType),
    StructField("keyword", StringType),
    StructField("message", StringType),
    StructField("additional_properties", StringType),
    StructField("check", StringType)))

  /** The partition universe: the injected universe frame when available
    * (no input scan), else a distinct scan of the partition column. */
  def partsDf(df: DataFrame, partCol: String = PartCol,
              universe: Option[DataFrame] = None): DataFrame =
    universe.map(_.toDF(partCol)).getOrElse(df.select(col(partCol)).distinct())

  /** Verdict frame builder: every partition present in `df` gets a verdict
    * row even when it has zero violations (absent partitions must read as
    * passed, not as missing). `perPart` carries (part, violation_count
    * [, metric_value]). */
  def verdictsFromCounts(df: DataFrame, perPart: DataFrame, checkName: String,
                         metricValue: Column = lit(null).cast(DoubleType),
                         partCol: String = PartCol,
                         universe: Option[DataFrame] = None): DataFrame = {
    // normalize the caller's partition column to the canonical name so a
    // check configured with partCol="day" builds the right universe
    val parts = partsDf(df, partCol, universe)
      .select(col(partCol).as(PartCol))
    val counts = perPart.withColumnRenamed("part", "vpart")
    parts.join(counts, parts(PartCol) === counts("vpart"), "left")
      .select(
        col(PartCol),
        lit(checkName).as("check"),
        (coalesce(col("violation_count"), lit(0L)) === 0L).as("passed"),
        coalesce(col("violation_count"), lit(0L)).as("violation_count"),
        (if (perPart.columns.contains("metric_value"))
           coalesce(col("metric_value"), lit(null).cast(DoubleType))
         else metricValue).as("metric_value"))
  }

  /** One violation row without its part. */
  val violationType: StructType = StructType(violationsSchema.fields.tail)

  /** One error record of a [[RowLocalPlan]]'s per-row error array: the
    * shape of [[graft.compile.ConstraintCompiler]]'s `errors` elements. */
  def error(path: String, keyword: String, message: String,
            additionalProperties: Column): Column =
    struct(lit(path).as("path"), lit(keyword).as("keyword"), lit(message).as("message"),
      additionalProperties.cast(StringType).as("additionalProperties"))

  /** One verdict row without its part (see [[CheckResult]]). */
  def verdict(check: String, passed: Column, violationCount: Column,
              metricValue: Column = lit(null)): Column =
    struct(lit(check).as("check"), passed.as("passed"),
      violationCount.cast(LongType).as("violation_count"),
      metricValue.cast(DoubleType).as("metric_value"))

  def emptyViolations(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), violationsSchema)
}
